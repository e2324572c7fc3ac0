package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable quantile sketch — the fourth member of the engine's
  * sketch family (HLL = distinct count, CMS = frequency, KMV = set
  * intersection, THIS = percentiles): a deterministic
  * Munro–Paterson/MRL-style summary, the family KLL refines. At
  * 100 TB exact percentiles need a full sort (or the two-phase exact
  * rank pass `q_percentiles` runs at test SF); the sketch replaces
  * that with ONE scan and a ≤ ~2K-item weighted summary per group
  * whose merge is just union — the register-table discipline of
  * [[SketchQueries]].
  *
  * Construction (relational, fully integer, so cross-engine parity is
  * unconditional):
  *   - each row is assigned a base buffer `b0 = h mod B` by the
  *     pack-wide md5-prefix hash (a deterministic pseudo-random
  *     permutation — buffers are uniform subsamples), where
  *     `B = ceil(n_g / K)` comes from a per-group count broadcast
  *     back map-side (never a group-sized window);
  *   - [[Rounds]] pairwise-merge rounds walk the binary tree over
  *     buffers: round r groups buffers by `b0 div 2^r`; a group
  *     containing BOTH child halves compacts every level present —
  *     rank level-ℓ items by (v, uid), keep the odd ranks, promote
  *     them to level ℓ+1 (weight 2^(ℓ+1)) — the textbook MRL collapse
  *     made deterministic by the (v, uid) total order. A group with a
  *     single child passes through untouched, so rounds past a
  *     group's convergence are no-ops and one fixed unroll serves
  *     every group size (and the DuckDB oracle replays it verbatim).
  *   - every phase touches window partitions of ≤ ~2K rows (a merged
  *     pair of buffers); the ONE scan of the data is round 1. At
  *     production scale K (or the unroll depth) grows with
  *     ceil(log2 B) exactly like the k-core loop would — here both
  *     engines consume the same fixed literal so the unroll IS the
  *     contract.
  *
  * Quantile read: weighted nearest rank over the ≤ ~2K-item summary —
  * `est_p = min v with cum·100 ≥ p·wtot` (integer cross-multiply, no
  * division rounding to disagree on). Mergeability is exercised
  * literally by the `_all` row: the union of the per-type item sets
  * IS the merged sketch, no re-normalization needed (weights are
  * absolute counts).
  *
  * Reference analogue: the counters-folded-into-state discipline
  * (`queries.ex:121-155`) — summaries maintained beside the data
  * rather than recomputed from it.
  */
object QuantileSketch extends QueryPack {

  /** Target buffer size (items per base buffer, and the scale of the
    * final summary). */
  private[graft] val K = 256

  /** Fixed merge-tree depth: covers B ≤ 2^12 buffers = ~1M rows per
    * group at K=256 — 10× the largest test SF; rounds past a group's
    * convergence are no-ops. */
  private[graft] val Rounds = 12

  /** Weighted sketch items (g, v, uid, lvl) of a frame with columns
    * (g, v, uid); weight of an item is 2^lvl. */
  private[graft] def sketchOf(src: DataFrame, checkpoint: Boolean = true): DataFrame = {
    // groups-sized, so ONE collect serves everything the old plan
    // paid three jobs for (checkpoint materialize + B_max probe +
    // broadcast build): B_max and the total row count derive driver-
    // side and the broadcast join reads a local relation
    val counts0 = src.groupBy(col("g")).agg(count(lit(1)).as("n_g"))
    val countRows = counts0.collect()
    val counts = src.sparkSession.createDataFrame(
      java.util.Arrays.asList(countRows: _*), counts0.schema)
    // rounds r with 2^(r-1) ≥ B_max are provably pass-through for
    // every group (each merge group holds a single child), so the
    // driver skips them — the result is bit-identical to the fixed
    // [[Rounds]]-deep unroll the oracle replays, minus the no-op jobs
    // (half the rounds at test SFs; at 100 TB the live depth grows as
    // log2 of the biggest group). One control-plane scalar.
    val bMax = countRows.iterator
      .map(r => (r.getLong(1) + K - 1) / K).maxOption.getOrElse(1L)
    val liveRounds = math.min(Rounds,
      math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, bMax - 1))))
    // the merge rounds run at STATICALLY derived PER-ROUND parallelism
    // with AQE off (r18, the DedupPipeline round discipline): the
    // per-group counts are already known driver-side and a merge round
    // halves every still-compacting group, so the round-r row bound —
    // Σ_g max(n_g >> (r-1), min(n_g, 2·K·Rounds)) — sizes each round's
    // exchanges exactly. Under AQE each round paid a separately
    // scheduled query-stage job per exchange (2 jobs/round, Bench census)
    // only to coalesce a known-size exchange; a fixed rp=8 was also
    // measured (q_kll_incremental 1.18→1.37 micro-pair): 8 near-empty
    // tasks per tiny round cost more than they parallelize. Safe where
    // the kcore peel's AQE-off was NOT: the rounds are pure window
    // passes — no join that could lose a runtime broadcast conversion.
    // Scale-adaptive: one partition per ~1M bound rows keeps round 1
    // (the only data-sized pass) at cluster parallelism at 100 TB
    // while test SFs run each round as ONE single-task job.
    val maxPar = src.sparkSession.sparkContext.defaultParallelism
    def roundRp(r: Int): Int = {
      val bound = countRows.iterator.map { row =>
        val n = row.getLong(1)
        math.max(n >> (r - 1), math.min(n, 2L * K * Rounds))
      }.sum
      math.max(1, math.min(maxPar.toLong, bound / 1000000L).toInt)
    }
    var cur = src.join(broadcast(counts), Seq("g"))
      .withColumn("b0", expr(
        "cast(conv(substring(md5(cast(uid as string)),1,15),16,10)" +
        s" as bigint) % ((n_g + ${K - 1}) div $K)"))
      .select(col("g"), col("v"), col("uid"), col("b0"),
        lit(0).as("lvl"))
    // eager PER-ROUND checkpoints stay (re-measured in r18): fusing
    // up to 4 single-partition rounds per checkpoint (one job, 12
    // chained windows) read q_kll_percentiles 2.05→2.56 and
    // q_kll_incremental 1.18→1.42 in an idle-gated micro pair with a
    // clean control (0.97) — r16's every-2nd-round rejection
    // reproduces even under the static-rp/AQE-off regime, so the
    // chained-window stage itself (not exchange coalescing) is what
    // loses; the per-round checkpoint's columnar write/read of the
    // shrinking frame is cheaper than re-sorting through a fused
    // window chain.
    var lastCk: DataFrame = null
    for (r <- 1 to liveRounds) DedupPipeline.withRoundParallelism(
        src.sparkSession, roundRp(r)) {
      val full = 1L << r
      val half = 1L << (r - 1)
      val wg = Window.partitionBy(col("g"), col("grp"))
      val wl = Window.partitionBy(col("g"), col("grp"), col("lvl"))
      val next0 = cur
        .withColumn("grp", expr(s"b0 div $full"))
        .withColumn("two",
          max(expr(s"b0 div $half")).over(wg) =!=
          min(expr(s"b0 div $half")).over(wg))
        .withColumn("cnt", count(lit(1)).over(wl))
        .withColumn("rn",
          row_number().over(wl.orderBy(col("v"), col("uid"))))
        .filter(!col("two") || col("cnt") < 2 || col("rn") % 2 === 1)
        .withColumn("lvl", when(col("two") && col("cnt") >= 2,
          col("lvl") + 1).otherwise(col("lvl")))
        .select(col("g"), col("v"), col("uid"), col("b0"), col("lvl"))
      if (checkpoint) {
        // eager per-round checkpoint: truncates the 3-window round
        // lineage and materializes the shrinking frame once (the
        // dd_pagerank lesson); the superseded round's blocks release
        // only AFTER the new checkpoint exists
        cur = next0.localCheckpoint(true)
        if (lastCk != null) releaseCheckpoint(lastCk)
        lastCk = cur
      } else cur = next0
    }
    cur.select(col("g"), col("v"), col("uid"), col("lvl"))
  }

  /** Weighted nearest-rank quantile read of a sketch-item frame:
    * (g, sk_items, w_tot, p50_est, p90_est, p99_est). */
  private[graft] def quantilesOf(items: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("g")).orderBy(col("v"), col("uid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("g"))
    def est(p: Int): Column =
      min(when(col("cum") * 100 >= col("wtot") * p, col("v")))
        .as(s"p${p}_est")
    items
      .withColumn("w", expr("shiftleft(cast(1 as bigint), lvl)"))
      .withColumn("cum", sum(col("w")).over(wOrd))
      .withColumn("wtot", sum(col("w")).over(wAll))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("sk_items"), max(col("wtot")).as("w_tot"),
        est(50), est(90), est(99))
  }

  /** The `_all` merge: per-type item sets unioned verbatim — sketch
    * merge IS union. */
  private[graft] def withAllRow(items: DataFrame): DataFrame =
    items.unionByName(items.withColumn("g", lit("_all")))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-event-type value percentiles from the mergeable sketch,
    // plus the `_all` row merged from the per-type sketches (union —
    // mergeability exercised literally), each beside the exact
    // nearest-rank percentiles (the audit columns the sketch replaces
    // at scale; their window is the exact path's, not the sketch's)
    "q_kll_percentiles" -> ((s, d) => {
      val base = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast("long").as("cents").as("v"),
          col("event_id").as("uid"))
        .localCheckpoint(true) // sketch AND exact audit read it
      // the merge rounds execute here (eager per-round checkpoints)
      // at statically derived round parallelism, AQE off — see
      // sketchOf (supersedes the r18 scoped coalesce floor)
      val est = quantilesOf(withAllRow(sketchOf(base)))
      // exact audit on DISTINCT-VALUE cumulative counts (r18, guide
      // §2.3 "shuffle fewer bytes"): the old row-level windows sorted
      // every event row twice (the `_all` group alone put all N rows
      // in one window partition); aggregating to (g, v, count) first
      // shrinks the window input ~3× at sf0.1 (200k → 67k rows) and
      // bounds it by distinct cents at ANY corpus size. Identical
      // values: the nearest-rank pick `v at row_number ceil(n·p)
      // ordered by v` equals `min v with cumulative count ≥
      // ceil(n·p)` — cum(v) counts exactly the rows ordered at or
      // before v's last occurrence, so the rank-r row's value is the
      // smallest v whose cum reaches r (ties in v share one cum).
      val exCnt = base.select(col("g"), col("v"))
        .unionByName(base.select(lit("_all").as("g"), col("v")))
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("g")).orderBy(col("v"))
      val wAll = Window.partitionBy(col("g"))
      val exact = exCnt
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("g"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= ceil(col("n") * 0.5), col("v"))).as("p50_cents"),
          min(when(col("cum") >= ceil(col("n") * 0.9), col("v"))).as("p90_cents"),
          min(when(col("cum") >= ceil(col("n") * 0.99), col("v"))).as("p99_cents"))
      est.join(exact, Seq("g"))
        .select(col("g").as("event_type"), col("n"), col("sk_items"),
          col("w_tot"), col("p50_est"), col("p90_est"), col("p99_est"),
          col("p50_cents"), col("p90_cents"), col("p99_cents"))
    })
  )

  // ── shared oracle SQL builders (also consumed by the incremental
  //    oracle in IncrementalSketch) ─────────────────────────────────

  /** The [[Rounds]] merge-round CTEs over a base CTE `<prefix>0` with
    * columns (g, v, uid, b0, lvl); ends in `<prefix>$Rounds`. */
  private[graft] def roundsSql(prefix: String): String =
    (1 to Rounds).map { r =>
      val full = 1L << r
      val half = 1L << (r - 1)
      s"""$prefix$r AS (
         |  SELECT g, v, uid, b0,
         |    CASE WHEN two AND cnt >= 2 THEN lvl + 1 ELSE lvl END AS lvl
         |  FROM (
         |    SELECT g, v, uid, b0, lvl,
         |      max(b0 // $half) OVER wg <> min(b0 // $half) OVER wg AS two,
         |      count(*) OVER wl AS cnt,
         |      row_number() OVER (
         |        PARTITION BY g, b0 // $full, lvl ORDER BY v, uid) AS rn
         |    FROM $prefix${r - 1}
         |    WINDOW wg AS (PARTITION BY g, b0 // $full),
         |           wl AS (PARTITION BY g, b0 // $full, lvl))
         |  WHERE NOT two OR cnt < 2 OR rn % 2 = 1)""".stripMargin
    }.mkString(",\n")

  /** Base-buffer CTE `<prefix>0` over a (g, v, uid) CTE named `src`. */
  private[graft] def baseSql(prefix: String, src: String): String =
    s"""${prefix}ng AS (SELECT g, count(*)::BIGINT AS n_g FROM $src GROUP BY 1),
       |${prefix}0 AS (
       |  SELECT s.g, v, uid,
       |    ('0x' || substr(md5(uid::VARCHAR),1,15))::BIGINT
       |      % ((n_g + ${K - 1}) // $K) AS b0,
       |    0 AS lvl
       |  FROM $src s JOIN ${prefix}ng USING (g))""".stripMargin

  /** Quantile-read CTEs over an item CTE (g, v, uid, lvl) named
    * `items`; ends in `est` = (g, sk_items, w_tot, p50/90/99_est). */
  private[graft] def extractSql(items: String): String =
    s"""cums AS (
       |  SELECT g, v,
       |    sum(1::BIGINT << lvl) OVER (
       |      PARTITION BY g ORDER BY v, uid ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(1::BIGINT << lvl) OVER (PARTITION BY g) AS wtot
       |  FROM $items),
       |est AS (
       |  SELECT g, count(*)::BIGINT AS sk_items, max(wtot)::BIGINT AS w_tot,
       |    min(CASE WHEN cum * 100 >= wtot * 50 THEN v END) AS p50_est,
       |    min(CASE WHEN cum * 100 >= wtot * 90 THEN v END) AS p90_est,
       |    min(CASE WHEN cum * 100 >= wtot * 99 THEN v END) AS p99_est
       |  FROM cums GROUP BY 1)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "q_kll_percentiles" ->
      s"""WITH src AS (
         |  SELECT event_type AS g, round(value * 100)::BIGINT AS v,
         |    event_id AS uid
         |  FROM events WHERE value IS NOT NULL),
         |${baseSql("r", "src")},
         |${roundsSql("r")},
         |items AS (
         |  SELECT g, v, uid, lvl FROM r$Rounds
         |  UNION ALL
         |  SELECT '_all' AS g, v, uid, lvl FROM r$Rounds),
         |${extractSql("items")},
         |exsrc AS (
         |  SELECT g, v FROM src
         |  UNION ALL SELECT '_all' AS g, v FROM src),
         |exact AS (
         |  SELECT g, max(n)::BIGINT AS n,
         |    max(CASE WHEN rn = ceil(n * 0.5) THEN v END) AS p50_cents,
         |    max(CASE WHEN rn = ceil(n * 0.9) THEN v END) AS p90_cents,
         |    max(CASE WHEN rn = ceil(n * 0.99) THEN v END) AS p99_cents
         |  FROM (
         |    SELECT g, v,
         |      row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         |      count(*) OVER (PARTITION BY g) AS n
         |    FROM exsrc)
         |  GROUP BY 1)
         |SELECT e.g AS event_type, x.n, e.sk_items, e.w_tot,
         |  e.p50_est, e.p90_est, e.p99_est,
         |  x.p50_cents, x.p90_cents, x.p99_cents
         |FROM est e JOIN exact x USING (g)""".stripMargin
  )
}
