package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The complete near-dup pipeline: LSH candidates → exact-Jaccard
  * verification → connected-component clustering → keeper election.
  * This is the shape a 100 TB dedup actually runs: candidate
  * generation is LSH-bounded (never all-pairs), verification touches
  * only candidate pairs, and clustering is iterative min-label
  * propagation (a fixed, small number of joins — component diameters
  * in dedup graphs are tiny).
  */
object DedupPipeline extends QueryPack {

  /** Partition count for the label-propagation rounds. The edge set a
    * clusterer iterates over is LSH-verified near-dup pairs — a few
    * thousand rows at sf0.1, and even at 100 TB orders of magnitude
    * smaller than the corpus — so running each round's joins at the
    * session's scan-sized shuffle parallelism (32 here, thousands on a
    * real cluster) launches hundreds of near-empty tasks per round
    * whose scheduling latency dominates under host contention. Each
    * round is pinned to this partition count instead; on a cluster the
    * same job would rely on AQE partition coalescing, but AQE cannot
    * re-plan the localCheckpoint-truncated per-round lineage, so the
    * pin is explicit.
    */
  private[graft] val roundPartitions = 8

  /** Parallelism for the propagation rounds, derived from the
    * materialized edge count: one partition per ~1M edges, floored at
    * `roundPartitions` (tiny graphs — every test-scale run — keep the
    * pinned 8 so scheduling latency never dominates) and capped at the
    * session's parallelism. On a cluster where the LSH-verified edge
    * set reaches 10⁹ rows this is what keeps the per-round joins from
    * serializing through 8 partitions; the count it derives from is
    * already paid by `materializedEdges`.
    */
  private[graft] def roundPartitionsFor(edgeCount: Long, maxPar: Int): Int =
    math.max(roundPartitions,
      math.min(maxPar.toLong, edgeCount / 1000000L).toInt)

  /** LSH candidates → exact-Jaccard-verified near-dup pairs (the
    * stage-1/2 lineage shared by `dd_cluster` and `dd_cc_converged`).
    *
    * Shape: entirely MAP-SIDE until the band self-join. Minhash is
    * duplicate-insensitive (min over a multiset = min over its set),
    * so the 8 signatures come from `array_min(transform(...))` over
    * the per-doc distinct trigram array — no explode, no distinct
    * shuffle, no signature aggregation. The exact-Jaccard verify is
    * `array_intersect` on the per-doc sorted arrays joined to the
    * candidate pairs (arrays bounded by doc length), replacing the
    * explode-join-groupBy whose intermediate row count was
    * candidates × shared shingles. Semantics and hashes identical to
    * the exploded formulation the DuckDB oracle mirrors.
    *
    * Materializes the per-doc array table via localCheckpoint (the
    * band and verify consumers all read it; the checkpoint also pins
    * the row set so the shared lineage never recomputes) and caches
    * the simple-typed band table; caller must releaseCheckpoint(arrs)
    * and bands.unpersist() when done.
    */
  private[graft] def verifiedPairs(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    // per-doc sorted distinct trigram-hash array (empty-trigram docs
    // drop out, as they did under explode)
    val arrs = shingleArrays(s, d)
      .localCheckpoint(true)
    // stage 1: LSH candidates (same construction as dd_minhash_lsh);
    // signatures and band keys are pure projections — the only
    // shuffle in candidate generation is the band self-join itself.
    // 2 rows per doc; the hot-bucket count and both sides of the
    // band self-join read it — uncached, the tokenize+md5 map work
    // would run three times
    val bands = bandsOf(arrs).cache()
    // bound the self-join fan-out: a band key holding >cap docs (one
    // viral page with millions of near-copies) would alone emit
    // ~cap²/2 candidate pairs; drop-and-log such buckets (members
    // still pair via their other band, and that hot they're exact-dup
    // territory anyway). No-op on healthy data — see BoundedBuckets.
    val bounded = graft.operators.BoundedBuckets.cap(
      bands, Seq("band_key"), tag = "dd_lsh_bands")
    (verifiedPairsOf(arrs, bounded), arrs, bands)
  }

  /** Stages 1+2 over caller-supplied frames: banded self-join
    * candidates (bands must arrive hot-capped) verified by exact
    * Jaccard on the sorted arrays — factored out so the incremental
    * store can build its corpus-only edge set from the SAME logic. */
  private[graft] def verifiedPairsOf(arrs: DataFrame,
      cappedBands: DataFrame): DataFrame = {
    val cands = cappedBands.as("a").join(cappedBands.as("b"),
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // stage 2: exact Jaccard on candidate pairs only — set
    // intersection of the sorted arrays, no row explosion
    cands
      .join(arrs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a")),
        Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b")),
        Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("arr_a"), col("arr_b"))))
      .filter(col("n_inter") /
        (size(col("arr_a")) + size(col("arr_b")) - col("n_inter")) >= 0.2)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Per-doc sorted distinct trigram-hash arrays.
    *
    * The trigram hash is per-token md5 (56-bit prefix) combined with
    * exact integer arithmetic — `3·h(t₁) + 5·h(t₂) + 7·h(t₃)` — so the
    * shingle string is never materialized and md5 runs over single
    * tokens (⅓ the hashed bytes of md5-of-joined-trigram, no per-
    * shingle concat allocation on the map path). A variadic `xxhash64`
    * would be cheaper still, but this hash is SEMANTIC, not cosmetic:
    * it defines the minhash → band → candidate set, so the DuckDB
    * oracle must compute the identical 64-bit value, and DuckDB has no
    * xxhash64 — per-token md5 + BIGINT arithmetic is exactly
    * replicable in both engines. Bounds: h(t) < 2^56, so the combined
    * value is < 15·2^56 < 2^60 — no 64-bit overflow on either side,
    * and the subsequent xor-with-seed minhash stays in range.
    */
  private def shingleArrays(s: SparkSession, d: String): DataFrame =
    shingleArraysOf(Tables.documentsParallel(s, d))

  /** Banded LSH keys of a signature-array table: 8 minhashes (xor-seed
    * + array_min, duplicate-insensitive) folded into 2 band keys of 4,
    * exploded to (doc_id, band_key). Pure projections — shared by the
    * from-scratch pipeline and the incremental path so the two are
    * DEFINITIONALLY the same signature scheme, never two drifting
    * copies.
    */
  private[graft] def bandsOf(arrs: DataFrame): DataFrame =
    bandsOf(arrs, 2, 4)

  /** [[bandsOf]] at an explicit (bands, rowsPerBand) — the
    * data-scaled signature store picks its banding from the corpus
    * size and persists it ([[IncrementalDedup.bandingOf]]); the
    * fixed-parameter demos stay on the (2, 4) default.
    *
    * NOTE (r18 opt round, measured and REJECTED): recomputing the
    * minhashes as explode + bands·rows codegen'd MIN buffers (the
    * amsOfBatch pattern) to escape the interpreted HOF lambda read
    * dd_cc_converged taskTime 25.2→21.1 s but dd_cluster 18.9→21.6 s
    * and BOTH walls worse — the per-element hash-aggregate probe
    * (65k (doc,lang) groups keyed per exploded shingle row) costs
    * what the interpreted xor+min lambda did, the extra doc-keyed
    * exchange adds a job to every consumer, and the second Exchange
    * broke the bucketized candidate join's plan-pinned contract
    * (IncrementalDedupSpec: the corpus side plans shuffle-free with
    * exactly ONE increment-side shuffle). The per-row column form
    * stays; IncrementalDedupSpec pins its keys against keys computed
    * independently in Scala, so any future re-attempt cannot drift
    * from the streaming path.
    */
  private[graft] def bandsOf(arrs: DataFrame, bands: Int,
      rows: Int): DataFrame =
    arrs.select(col("doc_id"),
      explode(bandKeyArrayOf(bands, rows)).as("band_key"))

  /** The two band keys as ONE array Column over (lang, arr) — the
    * expression form [[bandsOf]] explodes, exposed so callers that
    * must carry extra columns through the explode (the streaming
    * incremental path carries arr + event time) use the identical
    * key construction. Each minhash sub-expression is consumed by
    * exactly one md5, so inlining costs what the aliased form did.
    */
  private[graft] def bandKeyArray: org.apache.spark.sql.Column =
    bandKeyArrayOf(2, 4)

  /** Band keys for any (bands, rowsPerBand) over the shared seed
    * table: band b hashes minhashes b·rows .. b·rows+rows−1, so the
    * (2, 4) instance is bit-identical to the historical fixed keys. */
  private[graft] def bandKeyArrayOf(bands: Int,
      rows: Int): org.apache.spark.sql.Column = {
    require(bands * rows <= MinhashSeeds.keys.size,
      s"banding $bands×$rows exceeds the ${MinhashSeeds.keys.size}-seed table")
    // NOTE (r18 opt round, measured and REJECTED): folding min∘xor
    // with aggregate(arr, null, (acc,h) => least(acc, h^k)) to avoid
    // the 8 per-doc |arr|-sized transform allocations read WORSE on a
    // warm profile — dd_cc_converged taskTime 25.2→41.4 s, dd_cluster
    // 18.9→19.9 s. ArrayAggregate evaluates its merge lambda (least +
    // bind) per element through interpreted expression eval, while
    // array_min scans the transformed primitive array with a
    // specialized loop — the saved allocation does not pay for the
    // per-element lambda. The transform form stays.
    def mh(k: Long) =
      array_min(transform(col("arr"), h => h.bitwiseXOR(lit(k))))
    val ks = MinhashSeeds.keys
    array((0 until bands).map { b =>
      md5(concat(col("lang"), lit("|"), concat_ws(",",
        (0 until rows).map(r => mh(ks(b * rows + r))): _*)))
    }: _*)
  }

  private[graft] def shingleArraysOf(docs: DataFrame): DataFrame = {
    val ht = transform(split(col("text"), " "),
      t => conv(substring(md5(t), 1, 14), 16, 10).cast("long"))
    val trigram = when(size(col("ht")) >= 3,
      transform(sequence(lit(1), size(col("ht")) - 2),
        i => element_at(col("ht"), i.cast("int")) * 3L +
             element_at(col("ht"), (i + 1).cast("int")) * 5L +
             element_at(col("ht"), (i + 2).cast("int")) * 7L))
      .otherwise(expr("cast(array() as array<bigint>)"))
    docs
      // docs under 3 tokens have no trigrams — the exact row set
      // explode() dropped. CRITICAL that this predicate is on the RAW
      // tokens, not `size(arr) > 0` on the computed array: predicate
      // pushdown substitutes a computed alias's WHOLE defining
      // expression into the pushed filter (unlike CollapseProject it
      // has no expensive-expression guard), so a filter on `arr`
      // re-evaluates the md5 transform per element_at — O(tokens²)
      // md5 per document, measured 40s vs 0.7s at sf0.1
      .filter(size(split(col("text"), " ")) >= 3)
      // pass an event-time column through when the caller has one
      // (the streaming incremental path's watermark rides on it);
      // batch callers never carry it, so their plans are unchanged
      .select(Seq(col("doc_id"), col("lang"), ht.as("ht")) ++ tsCol(docs): _*)
      .select(Seq(col("doc_id"), col("lang"), trigram.as("tg")) ++ tsCol(docs): _*)
      .select(Seq(col("doc_id"), col("lang"),
        sort_array(array_distinct(col("tg"))).as("arr")) ++ tsCol(docs): _*)
  }

  private def tsCol(docs: DataFrame): Seq[org.apache.spark.sql.Column] =
    if (docs.columns.contains("ingest_ts")) Seq(col("ingest_ts")) else Nil

  /** Materialize the symmetric edge set and derive the round
    * parallelism from its count. The stage-1/2 LSH lineage runs at the
    * session's full parallelism (the first count() below executes it
    * BEFORE the caller drops `spark.sql.shuffle.partitions` for the
    * rounds); the edges are then re-laid-out at the derived round
    * parallelism — a repartition of the already-cached rows, not a
    * lineage re-execution. Caller must unpersist the returned frame.
    */
  private def materializedEdges(s: SparkSession,
      verified: DataFrame): (DataFrame, Int) =
    materializedEdges(s, verified, layoutByDocA = false)

  /** `layoutByDocA = true` additionally re-lays the cached edges out
    * hash-partitioned by doc_a — worth a second materialization ONLY
    * for consumers whose per-round joins key on doc_a (dd_pagerank:
    * edges⋈pr and edges⋈deg both on doc_a, so the pre-shuffle is
    * reused every round). The label-propagation rounds join edges on
    * doc_b and then aggregate by doc_a, so for them the doc_a layout
    * bought nothing — they skip the extra repartition+cache+count
    * (guide §2.4: a shuffle whose layout no consumer uses is a
    * removed shuffle; measured r17, one fewer job + one fewer cached
    * copy per clusterer run, byte-identical labels). */
  private def materializedEdges(s: SparkSession, verified: DataFrame,
      layoutByDocA: Boolean): (DataFrame, Int) = {
    val sym = verified
      .union(verified.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .cache()
    val n = sym.count()
    val rp = roundPartitionsFor(n, s.sparkContext.defaultParallelism)
    if (!layoutByDocA) return (sym, rp)
    val edges = sym.repartition(rp, col("doc_a")).cache()
    edges.count()
    sym.unpersist()
    (edges, rp)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to
    * `roundPartitions`, restoring the caller's setting after. Only the
    * propagation rounds run inside; every round materializes via
    * localCheckpoint/count within the pinned scope, so nothing of the
    * small-cardinality iteration escapes to session parallelism except
    * the caller's final orderBy.
    */
  private[queries] def withRoundParallelism[A](s: SparkSession, rp: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.shuffle.partitions", rp.toString)
    // AQE off INSIDE the rounds (r17 opt round): AQE's one value here —
    // right-sizing post-shuffle partitions — is already done by hand
    // (rp is derived from the materialized edge count), and its cost
    // is real: every exchange of every round's convergence count
    // becomes a separately scheduled query-stage JOB. The rounds are
    // checkpoint-truncated two-join plans over known-tiny frames, so
    // static planning at the derived rp is exactly right at any scale.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** Fixed-round min-label propagation (dd_cluster's stage 3). Exposed
    * for the PlanSpec partition pin. Returns the materialized final
    * round; intermediate rounds' checkpoint blocks are released.
    */
  private[graft] def propagateFixed(s: SparkSession, edges: DataFrame, n: Int,
      rp: Int = roundPartitions): DataFrame =
    withRoundParallelism(s, rp) {
      var labels = edges.select(col("doc_a").as("doc_id")).distinct()
        .withColumn("cluster", col("doc_id"))
      val rounds = scala.collection.mutable.Buffer.empty[DataFrame]
      for (_ <- 1 to n) {
        val neighborMin = edges
          .join(labels.select(col("doc_id").as("doc_b"), col("cluster").as("nc")), Seq("doc_b"))
          .groupBy(col("doc_a")).agg(min(col("nc")).as("min_nc"))
        labels = labels
          .join(neighborMin.select(col("doc_a").as("doc_id"), col("min_nc")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster"), coalesce(col("min_nc"), col("cluster"))).as("cluster"))
          // truncate lineage each round: without it the plan doubles
          // per iteration and the optimizer re-walks the whole LSH
          // DAG — the cost that kills iterative jobs at round counts
          // beyond a handful
          .localCheckpoint(false)
        rounds += labels
      }
      // materialize the final round inside the pinned scope
      // (localCheckpoint(false) is lazy; the count forces it)
      labels.count()
      // rounds 1..n-1's checkpoint blocks only feed the next round —
      // once the final round is materialized they'd pin executor
      // memory for the rest of the session; only the last round's
      // blocks back the returned DataFrame
      rounds.dropRight(1).foreach(releaseCheckpoint)
      labels
    }

  /** Convergence-checked min-label propagation with pointer jumping
    * (dd_cc_converged's stage 3). Loops until no label changes; the
    * result is the true component min-id independent of iteration
    * count. Exposed for the PlanSpec partition pin.
    */
  private[graft] def propagateConverged(s: SparkSession, edges: DataFrame,
      rp: Int = roundPartitions): DataFrame =
    withRoundParallelism(s, rp) {
      // lazy: round 1's count() materializes it together with the
      // round's own checkpoints — one fewer eager job per query (r17)
      var labels = edges.select(col("doc_a").as("doc_id")).distinct()
        .withColumn("cluster", col("doc_id"))
        .localCheckpoint(false)
      // the checkpointed frame backing `labels` — tracked separately
      // because `labels` becomes a projection over it after round 1,
      // and block release matches on the LogicalRDD itself
      var labelsCk = labels
      var changed = 1L
      var spent = scala.collection.immutable.List.empty[DataFrame]
      while (changed > 0) {
        val neighborMin = edges
          .join(labels.select(col("doc_id").as("doc_b"), col("cluster").as("nc")),
            Seq("doc_b"))
          .groupBy(col("doc_a")).agg(min(col("nc")).as("min_nc"))
        // carry the round-start label through the lineage as
        // `prev_cluster` so the convergence test is a filter-count on
        // the already-checkpointed round — not a separate
        // next-vs-labels join (one fewer join + shuffle per round)
        val updated = labels
          .join(neighborMin.select(col("doc_a").as("doc_id"), col("min_nc")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster").as("prev_cluster"),
            least(col("cluster"), coalesce(col("min_nc"), col("cluster")))
              .as("cluster"))
          // the pointer-jump self-join below reads `updated` twice;
          // without a checkpoint the edges-join + min aggregation
          // would re-execute for both sides every round
          .localCheckpoint(false)
        // pointer jump: follow the label's own label — halves the
        // remaining component diameter every round
        val next = updated
          .join(updated.select(col("doc_id").as("cluster"),
              col("cluster").as("jump")),
            Seq("cluster"), "left")
          .select(col("doc_id"), col("prev_cluster"),
            coalesce(col("jump"), col("cluster")).as("cluster"))
          .localCheckpoint(false)
        // this count both materializes `next`'s checkpoint blocks and
        // answers the fixpoint test in the same single job
        changed = next.filter(col("cluster") =!= col("prev_cluster")).count()
        spent = updated :: labelsCk :: spent
        labelsCk = next
        labels = next.select(col("doc_id"), col("cluster"))
      }
      // release superseded rounds' checkpoint blocks; only the final
      // round's blocks back the returned DataFrame
      spent.foreach(releaseCheckpoint)
      labels
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // (a scoped coalesce floor over the clusterer bodies was
    // pair-measured in r18: dd_cluster 0.89, dd_cc_converged 0.99,
    // dd_cc_incremental 1.11 — inside the ±11% noise band of the
    // pair, so NOT kept; the measured-rejection note lives at
    // dd_cc_incremental)
    "dd_cluster" -> ((s, d) => {
      val (verified, arrs, bands) = verifiedPairs(s, d)
      // stage 3: 3 rounds of min-label propagation over the verified
      // edges (fixed iteration count — identical in the oracle).
      val (edges, rp) = materializedEdges(s, verified)
      releaseCheckpoint(arrs)
      bands.unpersist()
      val labels = propagateFixed(s, edges, 3, rp)
      edges.unpersist()
      labels.orderBy(col("doc_id"))
    }),

    // Convergence-checked connected components over the verified
    // near-dup edges: min-label propagation PLUS pointer jumping
    // (label := label-of-label) each round, looped until NO label
    // changes. Unlike dd_cluster's fixed 3 rounds — whose output is
    // defined by the algorithm — this fixpoint is the TRUE component
    // min-id, independent of iteration count, so a 100 TB graph with
    // a pathological chain still converges (jumping makes rounds
    // O(log diameter)); the oracle is an exact recursive-CTE
    // transitive closure. Per round: two keyed joins, a
    // localCheckpoint to truncate lineage, one count for the
    // convergence test.
    "dd_cc_converged" -> ((s, d) => {
      val (verified, arrs, bands) = verifiedPairs(s, d)
      val (edges, rp) = materializedEdges(s, verified)
      releaseCheckpoint(arrs)
      bands.unpersist()
      val labels = propagateConverged(s, edges, rp)
      edges.unpersist()
      labels.orderBy(col("doc_id"))
    }),

    // Integer-exact PageRank over the verified near-dup edges — the
    // centrality view of the dedup graph (which document is the hub
    // of a template family). Two unrolled iterations with damping
    // 17/20 and scale 10⁶, every step exact integer arithmetic
    // (per-edge `pr div deg` contributions, then (3S/20) + 17·inflow
    // div 20), so both engines converge bit-for-bit. Each round is
    // two keyed joins + one partial-agg groupBy at the derived round
    // parallelism — the dd_cluster iteration shape, nothing
    // data-sized in the driver.
    "dd_pagerank" -> ((s, d) => {
      val S = 1000000L
      val (verified, arrs, bands) = verifiedPairs(s, d)
      val (edges, rp) = materializedEdges(s, verified, layoutByDocA = true)
      releaseCheckpoint(arrs)
      bands.unpersist()
      val result = withRoundParallelism(s, rp) {
        val verts = edges.select(col("doc_a").as("doc_id")).distinct()
        val deg = edges.groupBy(col("doc_a")).agg(count(lit(1)).as("deg"))
        var pr = verts.withColumn("pr", lit(S)).localCheckpoint(false)
        val rounds = scala.collection.mutable.Buffer(pr)
        for (_ <- 1 to 2) {
          val inflow = edges
            .join(pr.select(col("doc_id").as("doc_a"), col("pr")), Seq("doc_a"))
            .join(deg.select(col("doc_a"), col("deg")), Seq("doc_a"))
            .select(col("doc_b").as("doc_id"), expr("pr div deg").as("c"))
            .groupBy(col("doc_id")).agg(sum(col("c")).as("inflow"))
          pr = verts
            .join(inflow, Seq("doc_id"), "left")
            .select(col("doc_id"),
              (lit(3L * S / 20) +
                expr("17 * coalesce(inflow, 0L) div 20")).as("pr"))
            .localCheckpoint(false)
          rounds += pr
        }
        // lazy checkpoints materialize only when computed through —
        // releasing a round BEFORE the final count would make its
        // checkpoint a no-op and re-derive its lineage; materialize
        // the whole chain first, then free the superseded rounds
        pr.count()
        rounds.dropRight(1).foreach(releaseCheckpoint)
        pr
      }
      edges.unpersist()
      result.orderBy(col("doc_id"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "dd_pagerank" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok,
        |         generate_subscripts(string_split(text,' '),1) AS pos
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, lang, pos,
        |    ('0x' || substr(md5(tok), 1, 14))::BIGINT AS ht
        |  FROM toks),
        |sh AS (
        |  SELECT DISTINCT doc_id, lang,
        |    3 * ht + 5 * lead(ht,1) OVER w + 7 * lead(ht,2) OVER w AS h
        |  FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(ht,2) OVER w IS NOT NULL),
        |mh AS (
        |  SELECT doc_id, lang,
        |    min(xor(h, 935853755618645598)) AS mh0,
        |    min(xor(h, 886263699231969848)) AS mh1,
        |    min(xor(h, 901255563090117366)) AS mh2,
        |    min(xor(h, 1066434503623691823)) AS mh3,
        |    min(xor(h, 758855882668719729)) AS mh4,
        |    min(xor(h, 1030659900335514164)) AS mh5,
        |    min(xor(h, 101208472399937786)) AS mh6,
        |    min(xor(h, 644382284193898855)) AS mh7
        |  FROM sh GROUP BY doc_id, lang),
        |bands AS (
        |  SELECT doc_id, unnest([
        |    md5(lang || '|' || mh0 || ',' || mh1 || ',' || mh2 || ',' || mh3),
        |    md5(lang || '|' || mh4 || ',' || mh5 || ',' || mh6 || ',' || mh7)
        |  ]) AS band_key FROM mh),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |  FROM cands c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sizes za ON za.doc_id = i.doc_a
        |  JOIN sizes zb ON zb.doc_id = i.doc_b
        |  WHERE i.n_inter / (za.sz + zb.sz - i.n_inter) >= 0.2),
        |edges AS (
        |  SELECT doc_a, doc_b FROM verified
        |  UNION ALL SELECT doc_b, doc_a FROM verified),
        |verts AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
        |deg AS (SELECT doc_a AS doc_id, count(*)::BIGINT AS deg
        |        FROM edges GROUP BY 1),
        |pr0 AS (SELECT doc_id, 1000000::BIGINT AS pr FROM verts),
        |in1 AS (SELECT e.doc_b AS doc_id, sum(p.pr // d.deg)::BIGINT AS inflow
        |        FROM edges e
        |        JOIN pr0 p ON p.doc_id = e.doc_a
        |        JOIN deg d ON d.doc_id = e.doc_a
        |        GROUP BY 1),
        |pr1 AS (SELECT v.doc_id,
        |          (150000 + 17 * coalesce(i.inflow, 0) // 20)::BIGINT AS pr
        |        FROM verts v LEFT JOIN in1 i USING (doc_id)),
        |in2 AS (SELECT e.doc_b AS doc_id, sum(p.pr // d.deg)::BIGINT AS inflow
        |        FROM edges e
        |        JOIN pr1 p ON p.doc_id = e.doc_a
        |        JOIN deg d ON d.doc_id = e.doc_a
        |        GROUP BY 1),
        |pr2 AS (SELECT v.doc_id,
        |          (150000 + 17 * coalesce(i.inflow, 0) // 20)::BIGINT AS pr
        |        FROM verts v LEFT JOIN in2 i USING (doc_id))
        |SELECT doc_id, pr FROM pr2 ORDER BY doc_id""".stripMargin,
    "dd_cluster" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok,
        |         generate_subscripts(string_split(text,' '),1) AS pos
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, lang, pos,
        |    ('0x' || substr(md5(tok), 1, 14))::BIGINT AS ht
        |  FROM toks),
        |sh AS (
        |  SELECT DISTINCT doc_id, lang,
        |    3 * ht + 5 * lead(ht,1) OVER w + 7 * lead(ht,2) OVER w AS h
        |  FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(ht,2) OVER w IS NOT NULL),
        |mh AS (
        |  SELECT doc_id, lang,
        |    min(xor(h, 935853755618645598)) AS mh0,
        |    min(xor(h, 886263699231969848)) AS mh1,
        |    min(xor(h, 901255563090117366)) AS mh2,
        |    min(xor(h, 1066434503623691823)) AS mh3,
        |    min(xor(h, 758855882668719729)) AS mh4,
        |    min(xor(h, 1030659900335514164)) AS mh5,
        |    min(xor(h, 101208472399937786)) AS mh6,
        |    min(xor(h, 644382284193898855)) AS mh7
        |  FROM sh GROUP BY doc_id, lang),
        |bands AS (
        |  SELECT doc_id, unnest([
        |    md5(lang || '|' || mh0 || ',' || mh1 || ',' || mh2 || ',' || mh3),
        |    md5(lang || '|' || mh4 || ',' || mh5 || ',' || mh6 || ',' || mh7)
        |  ]) AS band_key FROM mh),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |  FROM cands c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sizes za ON za.doc_id = i.doc_a
        |  JOIN sizes zb ON zb.doc_id = i.doc_b
        |  WHERE i.n_inter / (za.sz + zb.sz - i.n_inter) >= 0.2),
        |edges AS (
        |  SELECT doc_a, doc_b FROM verified
        |  UNION ALL SELECT doc_b, doc_a FROM verified),
        |it0 AS (
        |  SELECT DISTINCT doc_a AS doc_id, doc_a AS cluster FROM edges),
        |it1 AS (
        |  SELECT l.doc_id,
        |    least(l.cluster, coalesce(min(n.cluster), l.cluster)) AS cluster
        |  FROM it0 l LEFT JOIN edges e ON e.doc_a = l.doc_id
        |  LEFT JOIN it0 n ON n.doc_id = e.doc_b
        |  GROUP BY l.doc_id, l.cluster),
        |it2 AS (
        |  SELECT l.doc_id,
        |    least(l.cluster, coalesce(min(n.cluster), l.cluster)) AS cluster
        |  FROM it1 l LEFT JOIN edges e ON e.doc_a = l.doc_id
        |  LEFT JOIN it1 n ON n.doc_id = e.doc_b
        |  GROUP BY l.doc_id, l.cluster),
        |it3 AS (
        |  SELECT l.doc_id,
        |    least(l.cluster, coalesce(min(n.cluster), l.cluster)) AS cluster
        |  FROM it2 l LEFT JOIN edges e ON e.doc_a = l.doc_id
        |  LEFT JOIN it2 n ON n.doc_id = e.doc_b
        |  GROUP BY l.doc_id, l.cluster)
        |SELECT doc_id, cluster FROM it3 ORDER BY doc_id""".stripMargin,
    "dd_cc_converged" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok,
        |         generate_subscripts(string_split(text,' '),1) AS pos
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, lang, pos,
        |    ('0x' || substr(md5(tok), 1, 14))::BIGINT AS ht
        |  FROM toks),
        |sh AS (
        |  SELECT DISTINCT doc_id, lang,
        |    3 * ht + 5 * lead(ht,1) OVER w + 7 * lead(ht,2) OVER w AS h
        |  FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(ht,2) OVER w IS NOT NULL),
        |mh AS (
        |  SELECT doc_id, lang,
        |    min(xor(h, 935853755618645598)) AS mh0,
        |    min(xor(h, 886263699231969848)) AS mh1,
        |    min(xor(h, 901255563090117366)) AS mh2,
        |    min(xor(h, 1066434503623691823)) AS mh3,
        |    min(xor(h, 758855882668719729)) AS mh4,
        |    min(xor(h, 1030659900335514164)) AS mh5,
        |    min(xor(h, 101208472399937786)) AS mh6,
        |    min(xor(h, 644382284193898855)) AS mh7
        |  FROM sh GROUP BY doc_id, lang),
        |bands AS (
        |  SELECT doc_id, unnest([
        |    md5(lang || '|' || mh0 || ',' || mh1 || ',' || mh2 || ',' || mh3),
        |    md5(lang || '|' || mh4 || ',' || mh5 || ',' || mh6 || ',' || mh7)
        |  ]) AS band_key FROM mh),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |  FROM cands c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sizes za ON za.doc_id = i.doc_a
        |  JOIN sizes zb ON zb.doc_id = i.doc_b
        |  WHERE i.n_inter / (za.sz + zb.sz - i.n_inter) >= 0.2),
        |edges AS (
        |  SELECT doc_a, doc_b FROM verified
        |  UNION ALL SELECT doc_b, doc_a FROM verified),
        |reach(src, dst) AS (
        |  SELECT doc_a, doc_a FROM edges
        |  UNION
        |  SELECT r.src, e.doc_b FROM reach r JOIN edges e ON e.doc_a = r.dst)
        |SELECT src AS doc_id, min(dst) AS cluster
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
  )
}
