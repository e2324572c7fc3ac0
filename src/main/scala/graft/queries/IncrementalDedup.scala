package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-delta (incremental) near-dup dedup: judge a batch of NEW
  * documents against an already-deduped corpus WITHOUT re-reading the
  * old documents' text.
  *
  * Every production 100 TB pipeline works this way — each crawl
  * increment is deduped against the existing corpus, not from
  * scratch. The state that makes it possible is exactly what LSH
  * already computes per doc: the sorted distinct shingle-hash array
  * (for exact-Jaccard verification) and the banded minhash keys (for
  * candidate generation). [[SignatureStore]] persists both as store
  * tables via the crash-safe [[graft.storage.AstarteStore.appendAtomic]]
  * append protocol (stage, then rename in; a new increment's
  * signatures land the same way its verdicts are computed — against
  * persisted state, the reference's last-value merge discipline,
  * `queries.ex:121-155`).
  *
  * The increment path scans the increment's text ONCE (signature
  * computation), then everything corpus-sided reads ONLY the persisted
  * signature tables — IncrementalDedupSpec pins both properties on the
  * physical plan. Verdict semantics, identical in the DuckDB oracle's
  * from-scratch recomputation over the union:
  *   - a new doc near-dup-verified (Jaccard ≥ 0.2) against ANY corpus
  *     doc is a `dup` (the corpus member is the established keeper);
  *   - within the increment, the smaller doc_id wins (first-come
  *     keeper), so a doc also counts as `dup` if it verifies against a
  *     SMALLER-id increment doc;
  *   - otherwise `keeper`.
  *
  * Scale shape: candidate generation is the increment's band keys
  * joined against the persisted band table — the corpus side is never
  * self-joined, and both band tables are hot-bucket-capped
  * ([[graft.operators.BoundedBuckets]], corpus side at WRITE time so
  * a viral page can never poison every future increment). For a small
  * increment AQE broadcasts the increment side (the corpus band table
  * then streams map-side with no shuffle); a corpus-scale deployment
  * would additionally persist the band table bucketed by `band_key`
  * (the store's `bucketizeHotTables` pattern) so even billion-row
  * increments join shuffle-free on the corpus side.
  */
object IncrementalDedup extends QueryPack {

  /** Increment membership: the most recent ~20% of doc ids plays the
    * "new crawl" role. Deterministic and oracle-expressible; both
    * engines use non-negative ids so `%` agrees.
    */
  private val incPredicate = col("doc_id") % 10 >= 8

  /** DATA-SCALED LSH banding — the `FileIndex.pbitsOf` discipline
    * applied to the signature scheme: (bands, rowsPerBand) derive
    * from the corpus size at store-build time and PERSIST with the
    * signature store, so every future increment bands under the same
    * scheme and the oracle replays the choice from its own count.
    * Rationale (Leskovec–Rajaraman–Ullman ch. 3, public literature):
    * the chance an unrelated pair shares a band key grows with the
    * corpus, so bigger corpora want LONGER band keys (more rows) to
    * hold the false-candidate rate, and MORE bands to keep recall at
    * the ~0.2 verify threshold; a small corpus keeps the cheap
    * (2, 4) scheme. Pure integer compares — `//`-free, replayable. */
  private[graft] def bandingOf(n: Long): (Int, Int) =
    if (n > 20000) (4, 6) else if (n > 2000) (3, 5) else (2, 4)

  /** Per-sfDir persisted corpus signature state, built once per JVM:
    * `signatures` = (doc_id, lang, arr) shingle-hash arrays,
    * `bands` = (doc_id, band_key) hot-capped LSH band keys. Both
    * written through the store's crash-safe append.
    */
  private[graft] object SignatureStore {
    // LRU-bounded like every per-root control-plane memo (an evicted
    // sfDir simply rebuilds its root on the next touch)
    private val roots =
      new graft.core.BoundedMemo[String, String](64, "dedup.sigRoots")

    def rootFor(s: SparkSession, sfDir: String): String =
      roots.getOrElseUpdate(sfDir)(
        buildRootFrom(s, Tables.documents(s, sfDir).filter(!incPredicate)))

    /** Build a fresh store root from a corpus frame (exposed so specs
      * can seed synthetic corpora — e.g. the transitive component
      * merge case). */
    private[graft] def buildRootFrom(s: SparkSession,
        corpus: DataFrame): String = {
      val root =
        java.nio.file.Files.createTempDirectory("graft-dedupsig").toString
      // choose the banding from the corpus size ONCE and persist it —
      // increments band under the same scheme forever (the layout-
      // bounds pattern); the count is of corpus DOCS, which the
      // oracle replays with a plain count(*)
      val (nb, nr) = bandingOf(corpus.count())
      import s.implicits._
      graft.storage.AstarteStore.appendAtomic(
        Seq((nb, nr, "banding")).toDF("bands", "rows", "inc_id"),
        bandingPath(root))
      val arrs = DedupPipeline.shingleArraysOf(corpus).localCheckpoint(true)
      graft.storage.AstarteStore.appendAtomic(arrs, signaturesPath(root))
      // cap hot band buckets at WRITE time: a pathological band key
      // is dropped once here instead of re-poisoning every future
      // increment's candidate join (members still pair via their
      // other band; no-op on healthy data)
      val bands = graft.operators.BoundedBuckets.cap(
        DedupPipeline.bandsOf(arrs, nb, nr), Seq("band_key"),
        tag = "dd_incr_corpus_bands")
      graft.storage.AstarteStore.appendAtomic(bands, bandsPath(root))
      // the corpus's CONVERGED component labels (min-id per
      // component) — the state dd_cc_incremental merges new edges
      // into without ever re-propagating over corpus edges
      val verified = DedupPipeline.verifiedPairsOf(arrs, bands)
      val sym = verified.unionAll(verified
        .select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      graft.storage.AstarteStore.appendAtomic(
        DedupPipeline.propagateConverged(s, sym), ccPath(root))
      root
    }

    def signaturesPath(root: String): String = s"$root/dedup_signatures"
    def bandsPath(root: String): String = s"$root/dedup_bands"
    def ccPath(root: String): String = s"$root/dedup_cc_labels"
    def bandingPath(root: String): String = s"$root/dedup_banding"

    /** The persisted (bands, rowsPerBand) — a 1-row control-plane
      * read; max-fold absorbs a replayed append. Roots predating the
      * scaled scheme (specs that append signature/band frames
      * directly) default to the historical (2, 4). The scheme is
      * immutable once written (the whole point of persisting it), so
      * the read is memoized per root — a serve query pays zero
      * banding-lookup jobs after the first touch. */
    private val bandings =
      new graft.core.BoundedMemo[String, (Int, Int)](64, "dedup.bandings")

    def banding(s: SparkSession, root: String): (Int, Int) =
      bandings.get(root).getOrElse {
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(bandingPath(root))))
          // the historical default for roots predating the scaled
          // scheme — returned UNCACHED: a caller racing the builder
          // (bandingPath lands before any serve, but nothing stops a
          // probe on a half-built root) must not pin the wrong scheme
          // for the JVM's lifetime
          (2, 4)
        else {
          val r = s.read.parquet(bandingPath(root))
            .agg(max(col("bands")), max(col("rows"))).head()
          val v = (r.getInt(0), r.getInt(1))
          bandings.put(root, v)
          v
        }
      }

    /** Merge-on-read component labels. Labels are a MONOID UNDER MIN:
      * a doc's component min-id can only DECREASE as edges arrive
      * (components only ever merge), so the label log folds with
      * min-per-doc — replay-idempotent for free (min is idempotent),
      * the same read-is-the-merge discipline as the sketch store. */
    def ccLabels(s: SparkSession, root: String): DataFrame =
      s.read.parquet(ccPath(root))
        .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))

    /** The label half of the delta cycle: fold an increment's merged
      * labels into the log so the NEXT increment contracts against
      * corpus ∪ everything absorbed. Appending only the CHANGED rows
      * would suffice (the min-fold absorbs redundancy); appending the
      * full merged view is equally correct. */
    def absorbCc(root: String, mergedLabels: DataFrame): Unit =
      graft.storage.AstarteStore.appendAtomic(mergedLabels, ccPath(root))

    /** Compaction-cadence serving layout for the band table: a
      * bucketed + sorted catalog table on `band_key` (the store's
      * `bucketizeHotTables` pattern). At corpus scale the candidate
      * join is increment-bands ⋈ corpus-bands on band_key; against
      * the plain parquet log BOTH sides shuffle, and the corpus side
      * is the one derived from 100 TB. Against this layout the
      * corpus scan reports a compatible HashPartitioning, so the
      * join plans with NO Exchange below the corpus side — only the
      * small increment shuffles (IncrementalDedupSpec pins the plan).
      * Like compaction, it is a point-in-time snapshot: bands
      * absorbed after a bucketize run are visible to the log reader,
      * not to this table until the next run.
      */
    def bucketizeBands(s: SparkSession, root: String,
        buckets: Int = 8): String = {
      val name = f"graft_dedup_bands_${math.abs(root.hashCode.toLong)}%x"
      s.read.parquet(bandsPath(root)).write.mode("overwrite")
        .bucketBy(buckets, "band_key").sortBy("band_key")
        .saveAsTable(name)
      name
    }

    /** Fold a judged increment's signatures into the persisted state,
      * completing the delta cycle: the next increment then judges
      * against corpus + every absorbed increment without any prior
      * text being re-read. Crash-safe via the store's append protocol
      * (a torn absorb leaves staged files that are never table data and
      * that maintenance clears; the upstream retry re-lands identical rows).
      * Appended bands are not re-capped here — a bucket that goes hot
      * only CUMULATIVELY across increments is periodic compaction's
      * job (`compactAppendTable` + a cap pass), not a per-absorb scan
      * of the whole band table.
      */
    def absorb(root: String, incArrs: DataFrame): Unit = {
      val (nb, nr) = banding(incArrs.sparkSession, root)
      graft.storage.AstarteStore.appendAtomic(incArrs, signaturesPath(root))
      graft.storage.AstarteStore.appendAtomic(
        DedupPipeline.bandsOf(incArrs, nb, nr), bandsPath(root))
    }

    def ledgerPath(root: String): String = s"$root/dedup_absorb_ledger"

    /** Ids already absorbed through [[absorbLedgered]]. */
    def absorbedIds(s: SparkSession, root: String): Set[String] =
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(ledgerPath(root)))) Set.empty
      else s.read.parquet(ledgerPath(root)).select(col("inc_id"))
        .collect().map(_.getString(0)).toSet

    /** [[absorb]] with the engine's standard replay discipline for
      * UNSUPERVISED callers (the streaming sink): the ledger row lands
      * LAST, so a crash mid-absorb re-runs the appends — their
      * duplicate rows are bit-identical and collapse under the
      * read-side dedup the streaming path applies ([[dedupArrs]] /
      * [[dedupBands]]); a completed id is skipped outright. The
      * batch-built store stays duplicate-free by construction, so the
      * batch serve paths keep their raw (dedup-free, shuffle-free)
      * reads. Returns true when newly absorbed. */
    def absorbLedgered(s: SparkSession, root: String, incArrs: DataFrame,
        incId: String): Boolean = {
      if (absorbedIds(s, root).contains(incId)) return false
      absorb(root, incArrs)
      import s.implicits._
      graft.storage.AstarteStore.appendAtomic(
        Seq(incId).toDF("inc_id"), ledgerPath(root))
      true
    }

    /** Read-side replay defenses for state that may hold a crash
      * window's double append (one row per doc / per (doc, band) —
      * duplicates are bit-identical). */
    def dedupArrs(s: SparkSession, root: String): DataFrame =
      s.read.parquet(signaturesPath(root)).dropDuplicates("doc_id")
    def dedupBands(s: SparkSession, root: String): DataFrame =
      s.read.parquet(bandsPath(root)).distinct()
  }

  /** The increment's signature arrays — text is scanned exactly here
    * and nowhere else. Exposed for the spec's plan pin: one documents
    * scan, filtered to the increment.
    */
  private[graft] def incrementArrs(s: SparkSession, d: String): DataFrame =
    DedupPipeline.shingleArraysOf(
      Tables.documents(s, d).filter(incPredicate))

  /** The increment's VERIFIED near-dup pairs against the persisted
    * corpus state: (doc_id ∈ increment, other_id, other_inc). The
    * corpus side is never self-joined and never carries text —
    * candidates come from the persisted capped band table, verify
    * reads the persisted arrays. Shared by the verdict fold and the
    * incremental component merge. */
  private[graft] def incrementalPairs(incArrs: DataFrame,
      corpusBands: DataFrame, corpusArrs: DataFrame,
      banding: (Int, Int) = (2, 4)): DataFrame = {
    // the increment MUST band under the corpus's persisted scheme —
    // store-backed callers pass SignatureStore.banding(s, root).
    // The increment is usually the small side (a crawl batch vs the
    // whole corpus); smallness gates in estimated BYTES against the
    // session's own broadcast threshold (forcing tens of MB past
    // autoBroadcastJoinThreshold onto the driver is exactly what the
    // threshold exists to prevent), probed with ONE early-stopping
    // collect over the band transform. A small increment's bands
    // then live in a LOCAL RELATION: the hot-bucket cap runs driver-
    // side with identical semantics, both candidate legs broadcast
    // for free (no broadcast-build job, no checkpoint job, no census
    // job — the serve path's driver-job latency was its measured
    // residual), and the corpus band scan stays map-side with no
    // Exchange below it. A genuinely large increment keeps the
    // distributed shape: eager checkpoint (the cap census plus both
    // candidate legs would otherwise recompute the bands×rows
    // minhash transform — the whole signature cost ×4 per serve),
    // fused cap-and-count, plain joins with AQE picking the strategy.
    val s = incArrs.sparkSession
    val bands0 = DedupPipeline.bandsOf(incArrs, banding._1, banding._2)
    val bandRowBytes = 72L // doc_id (8) + 32-hex band key + row overhead
    val bcThreshold = s.sessionState.conf.autoBroadcastJoinThreshold
    val driverRowCap =
      if (bcThreshold > 0) (bcThreshold / bandRowBytes) else 0L
    // exact band cardinality WITHOUT touching the band transform:
    // bandsOf emits exactly `bands` keys per doc, and the caller's
    // arrs frame is already checkpointed, so the doc count is a
    // near-free job — cheaper and deterministic where a
    // limit(cap+1).collect probe pays CollectLimit's incremental
    // scale-up rounds when the limit is not met
    val incIsSmall =
      driverRowCap > 0 && incArrs.count() * banding._1 <= driverRowCap
    val incBands =
      if (incIsSmall)
        s.createDataFrame(
          java.util.Arrays.asList(graft.operators.BoundedBuckets
            .capRowsLocal(bands0.collect().toIndexedSeq, Seq("band_key"),
              tag = "dd_incr_inc_bands"): _*),
          bands0.schema)
      else graft.operators.BoundedBuckets.cap(
        bands0.localCheckpoint(true), Seq("band_key"),
        tag = "dd_incr_inc_bands")
    def small(df: DataFrame): DataFrame =
      if (incIsSmall) broadcast(df) else df
    val candCorpus = small(incBands)
      .join(corpusBands.select(col("doc_id").as("other_id"), col("band_key")),
        Seq("band_key"))
      .select(col("doc_id"), col("other_id"), lit(false).as("other_inc"))
    val candInc = small(incBands.as("a"))
      .join(incBands.as("b"),
        col("a.band_key") === col("b.band_key") &&
        col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("other_id"),
        lit(true).as("other_inc"))
    // a pair can surface through both of its band keys — dedup before
    // paying the array-intersect verification
    val cands = candCorpus.unionByName(candInc).distinct()

    val otherArrs = corpusArrs
      .select(col("doc_id").as("other_id"), col("arr").as("arr_b"))
      .unionByName(
        incArrs.select(col("doc_id").as("other_id"), col("arr").as("arr_b")))
    cands
      .join(incArrs.select(col("doc_id"), col("arr").as("arr_a")), Seq("doc_id"))
      .join(otherArrs, Seq("other_id"))
      .withColumn("n_inter", size(array_intersect(col("arr_a"), col("arr_b"))))
      .filter(col("n_inter") /
        (size(col("arr_a")) + size(col("arr_b")) - col("n_inter")) >= 0.2)
      .select(col("doc_id"), col("other_id"), col("other_inc"))
  }

  /** Verdicts for the increment given the corpus's PERSISTED signature
    * state (no text column anywhere on the corpus side). Factored out
    * so the spec can run the same logic against directly-computed
    * corpus frames and pin store-roundtrip fidelity.
    */
  private[graft] def incrementalVerdicts(incArrs: DataFrame,
      corpusBands: DataFrame, corpusArrs: DataFrame,
      banding: (Int, Int) = (2, 4)): DataFrame = {
    val verified = incrementalPairs(incArrs, corpusBands, corpusArrs, banding)
    incArrs.select(col("doc_id"))
      .join(verified, Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(
        coalesce(sum(when(!col("other_inc"), 1L)), lit(0L)).as("n_dup_corpus"),
        coalesce(sum(when(col("other_inc"), 1L)), lit(0L)).as("n_dup_within"),
        when(count(col("other_id")) > 0, lit("dup"))
          .otherwise(lit("keeper")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Connected components over corpus ∪ increment served from the
    * persisted corpus LABELS — the graph twin of the sketch/index
    * absorbs: corpus EDGES are never re-read and never re-propagated.
    * New edges CONTRACT onto the persisted labels (each corpus
    * endpoint becomes its component's min-id; a corpus doc with no
    * corpus edges contracts to itself), the converged min-label
    * propagation runs on that contracted graph — increment-sized, so
    * a transitive merge of MANY existing components through a chain
    * of new docs costs O(increment), not O(corpus) — and the only
    * corpus-sized work is ONE broadcast-relabel pass over the
    * persisted label table. Exact because min-labels compose:
    * min over a merged group of component min-ids IS the union
    * component's min-id.
    */
  private[graft] def incrementalComponents(s: SparkSession, labels: DataFrame,
      pairs: DataFrame): DataFrame = {
    val withLabel = pairs
      .join(labels.select(col("doc_id").as("other_id"),
        col("cluster").as("oc")), Seq("other_id"), "left")
      .localCheckpoint(true) // contracted edges + fresh nodes read it
    val contracted = withLabel.select(col("doc_id").as("doc_a"),
      when(col("other_inc"), col("other_id"))
        .otherwise(coalesce(col("oc"), col("other_id"))).as("doc_b"))
    val sym = contracted.unionAll(
      contracted.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val merged = DedupPipeline.propagateConverged(s, sym) // (doc_id, cluster)
    val mergeMap = merged
      .select(col("doc_id").as("cl0"), col("cluster").as("m"))
    // the ONLY corpus-sized op in the serve: one broadcast-relabel
    // map-side pass over the persisted label table
    val corpusOut = labels.join(broadcast(mergeMap),
        col("cluster") === col("cl0"), "left")
      .select(col("doc_id"), coalesce(col("m"), col("cluster")).as("cluster"))
    // increment endpoints (both orientations) + fresh corpus
    // singletons: straight from the merged contraction — all
    // increment-sized
    val extraNodes = pairs.select(col("doc_id"))
      .unionAll(pairs.filter(col("other_inc"))
        .select(col("other_id").as("doc_id")))
      .unionAll(withLabel
        .filter(!col("other_inc") && col("oc").isNull)
        .select(col("other_id").as("doc_id")))
      .distinct()
    corpusOut.unionByName(extraNodes.join(merged, Seq("doc_id")))
      .orderBy(col("doc_id"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // components maintained incrementally: the oracle is
    // dd_cc_converged's exact transitive closure over ALL docs
    // verbatim, so a hash match proves merge-into-persisted-labels
    // equals the from-scratch fixpoint
    "dd_cc_incremental" -> ((s, d) => {
      // NOTE (r18, measured and REJECTED): a scoped coalesce floor
      // (withCoalesceFloor) around this body read 1.48→1.64 s in an
      // idle-gated pair with a clean control, despite the GLOBAL
      // floor A/B having shown 0.67× earlier in the round — the
      // global run predated the scan-parallelism work and its win
      // here came from stages the scoped version doesn't reach.
      val root = SignatureStore.rootFor(s, d)
      val incArrs = incrementArrs(s, d).localCheckpoint(true)
      val pairs = incrementalPairs(incArrs,
        s.read.parquet(SignatureStore.bandsPath(root)),
        s.read.parquet(SignatureStore.signaturesPath(root)),
        SignatureStore.banding(s, root))
        .localCheckpoint(true) // contraction + endpoint reads
      incrementalComponents(s, SignatureStore.ccLabels(s, root), pairs)
    }),
    "dd_incremental" -> ((s, d) => {
      val root = SignatureStore.rootFor(s, d)
      // the only text scan in the whole query — the increment's own
      // docs; checkpointed because bands, both verify sides, and the
      // verdict base all read it (cache() on ArrayType columns is the
      // measured-slow path — see DedupPipeline)
      val incArrs = incrementArrs(s, d).localCheckpoint(true)
      incrementalVerdicts(incArrs,
        s.read.parquet(SignatureStore.bandsPath(root)),
        s.read.parquet(SignatureStore.signaturesPath(root)),
        SignatureStore.banding(s, root))
    })
  )

  /** toks → trigram-hash CTEs shared by both replays (the
    * DedupPipeline oracle prefix, verbatim). */
  private def shinglePrefixSql: String =
    """toks AS (
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
      |  QUALIFY lead(ht,2) OVER w IS NOT NULL)""".stripMargin

  /** All 24 minhash mins plus the DATA-SCALED bands CTE: the band
    * list branches on the corpus doc count with exactly
    * [[bandingOf]]'s integer compares, so the oracle re-derives the
    * persisted store parameters from its own count — the replay
    * pinned relationally by a hash match at sf0.01 (2×4) AND sf0.1
    * (3×5) with different parameters. */
  private def scaledBandsSql: String = {
    val mins = MinhashSeeds.keys.zipWithIndex.map { case (k, i) =>
      s"    min(xor(h, $k)) AS mh$i"
    }.mkString(",\n")
    def keyList(b: Int, r: Int): String =
      (0 until b).map { bi =>
        "md5(lang || '|' || " +
          (0 until r).map(ri => s"mh${bi * r + ri}")
            .mkString(" || ',' || ") + ")"
      }.mkString(",\n      ")
    s"""mh AS (
       |  SELECT doc_id, lang,
       |$mins
       |  FROM sh GROUP BY doc_id, lang),
       |nc AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 < 8),
       |bands AS (
       |  SELECT doc_id, unnest(CASE
       |    WHEN n > 20000 THEN [${keyList(4, 6)}]
       |    WHEN n > 2000 THEN [${keyList(3, 5)}]
       |    ELSE [${keyList(2, 4)}] END) AS band_key
       |  FROM mh CROSS JOIN nc)""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    // the batch closure's exact recursive-CTE shape over the
    // DATA-SCALED band candidates — incremental-equals-batch for the
    // component labels at whatever banding the store persisted
    "dd_cc_incremental" ->
      s"""WITH RECURSIVE $shinglePrefixSql,
         |$scaledBandsSql,
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
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // from-scratch recomputation over the UNION: the oracle derives
    // every signature from raw text and must reach the identical
    // verdicts the persisted-state path emits
    "dd_incremental" ->
      s"""WITH $shinglePrefixSql,
        |$scaledBandsSql,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS other_id,
        |         (b.doc_id % 10 >= 8) AS other_inc
        |  FROM bands a JOIN bands b ON a.band_key = b.band_key
        |  WHERE a.doc_id % 10 >= 8
        |    AND CASE WHEN b.doc_id % 10 >= 8
        |             THEN b.doc_id < a.doc_id
        |             ELSE TRUE END),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_id, c.other_id, c.other_inc, count(*) AS n_inter
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_id
        |  JOIN sh sb ON sb.doc_id = c.other_id AND sb.h = sa.h
        |  GROUP BY 1, 2, 3),
        |verified AS (
        |  SELECT i.doc_id, i.other_id, i.other_inc FROM inter i
        |  JOIN sizes za ON za.doc_id = i.doc_id
        |  JOIN sizes zb ON zb.doc_id = i.other_id
        |  WHERE i.n_inter / (za.sz + zb.sz - i.n_inter) >= 0.2),
        |inc AS (SELECT DISTINCT doc_id FROM sh WHERE doc_id % 10 >= 8)
        |SELECT d.doc_id,
        |  coalesce(sum(CASE WHEN NOT v.other_inc THEN 1 END), 0)::BIGINT
        |    AS n_dup_corpus,
        |  coalesce(sum(CASE WHEN v.other_inc THEN 1 END), 0)::BIGINT
        |    AS n_dup_within,
        |  CASE WHEN count(v.other_id) > 0 THEN 'dup' ELSE 'keeper' END
        |    AS verdict
        |FROM inc d LEFT JOIN verified v ON v.doc_id = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  )
}
