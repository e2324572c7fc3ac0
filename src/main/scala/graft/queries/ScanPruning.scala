package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.storage.FileIndex

/** File-skipping queries over the file index ([[graft.storage.FileIndex]]):
  * pruned box and point reads, the copy-on-write and merge-on-read
  * erase/update/delete lifecycles, compaction, layout migration, schema
  * evolution, time travel and the change feeds, each over a per-SF
  * fixture root built from `events`.
  *
  * Correctness anchor: pruning must be CONSERVATIVE — a pruned read
  * plus the residual predicate equals the full-scan answer. The
  * oracles run the plain full-scan SQL over `events`, so a hash match
  * proves exactly that; `fx_prune_audit` additionally hash-checks the
  * per-file keep/skip DECISIONS against DuckDB's replay of the
  * layout, zone, and bloom arithmetic.
  */
object ScanPruning extends QueryPack {

  /** Increment membership — the pack-wide convention: the most recent
    * ~20% of events play the "new crawl batch" role. */
  private[graft] val incPredicate = col("event_id") % 10 >= 8

  // ───────────────────────────── the per-SF fixture roots
  // LRU-bounded like every per-root control-plane memo (an evicted
  // sfDir simply rebuilds its root on the next touch)
  private val roots =
    new graft.core.BoundedMemo[String, String](64, "fx.roots")

  private def rootFor(s: SparkSession, sfDir: String): String =
    roots.getOrElseUpdate(sfDir)(buildRoot(s, sfDir))

  /** A fresh root over the corpus slice of `events` — uncached, so a
    * fixture that mutates it never changes what another observes. */
  private[graft] def buildRoot(s: SparkSession, sfDir: String): String =
    FileIndex.buildRootFrom(s, Tables.events(s, sfDir).filter(!incPredicate))

  /** The increment slice — the only corpus-table scan absorb makes. */
  private[graft] def incrementEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(incPredicate)

  /** Root with corpus built and the demo increment absorbed (ledger
    * makes the absorb a no-op after the first call). */
  private def readyRoot(s: SparkSession, d: String): String = {
    val root = rootFor(s, d)
    FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
    root
  }

  // the demo-lifecycle fixture roots, LRU-bounded like every other
  // per-root memo (an evicted sfDir rebuilds its lifecycle)
  private val compactedRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.compactedRoots")
  private val erasedRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.erasedRoots")
  private val updatedRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.updatedRoots")
  private val dvRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.dvRoots")
  private val dvCompactedRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.dvCompactedRoots")

  /** The update demo writes a CONSTANT new value: the oracle's CASE
    * then compares literal-for-literal — a delta would hit double
    * rounding boundaries differently per engine. */
  private val UpdatedValue = 9.99

  /** A separate root where the probe user's value has been rewritten
    * copy-on-write (corpus build → increment absorb → keyed update). */
  private def updatedRoot(s: SparkSession, d: String): String =
    updatedRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      FileIndex.updateUser(s, root,
        FileIndex.layoutOf(s, root).probe, UpdatedValue, "upd-1")
      root
    })

  private val deletedWhereRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.deletedWhereRoots")
  private val updatedWhereRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.updatedWhereRoots")

  /** A root after a PREDICATE DELETE: every row inside the demo TIME
    * box with value > 0.5 deleted copy-on-write, files pruned to the
    * predicate's zone/value-stat candidates (ts is stored in nanos;
    * the layout bounds are micros). */
  private def deletedWhereRoot(s: SparkSession, d: String): String =
    deletedWhereRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      val l = FileIndex.layoutOf(s, root)
      FileIndex.deleteWhere(s, root,
        col("ts").between(l.tlo * 1000L, l.thi * 1000L + 999L) &&
          col("value") > 0.5,
        "delw-1")
      root
    })

  private val dvDeletedWhereRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.dvDeletedWhereRoots")
  private val dvDeletedCompactRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.dvDeletedCompactRoots")

  /** The same predicate delete MERGE-ON-READ: positional vectors
    * only, every data file byte-identical to the pre-delete state. */
  private def dvDeletedWhereRoot(s: SparkSession, d: String): String =
    dvDeletedWhereRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      val l = FileIndex.layoutOf(s, root)
      FileIndex.deleteWhereDv(s, root,
        col("ts").between(l.tlo * 1000L, l.thi * 1000L + 999L) &&
          col("value") > 0.5,
        "dvdelw-1")
      root
    })

  /** The positional-delete lifecycle completed: the same merge-on-
    * read predicate delete, then a compaction that folds the marked
    * positions into rewritten files. */
  private def dvDeletedCompactRoot(s: SparkSession, d: String): String =
    dvDeletedCompactRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      val l = FileIndex.layoutOf(s, root)
      FileIndex.deleteWhereDv(s, root,
        col("ts").between(l.tlo * 1000L, l.thi * 1000L + 999L) &&
          col("value") > 0.5,
        "dvdelw-1")
      FileIndex.compact(s, root)
      root
    })

  /** A root after a PREDICATE UPDATE: every `click` row inside the
    * demo user box gets the constant updated value; the event_type
    * conjunct exercises the type-domain prune. */
  private def updatedWhereRoot(s: SparkSession, d: String): String =
    updatedWhereRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      val l = FileIndex.layoutOf(s, root)
      FileIndex.updateWhere(s, root,
        col("user_id").between(l.ulo, l.uhi) &&
          col("event_type") === "click",
        Map("value" -> lit(UpdatedValue)), "updw-1")
      root
    })

  /** A separate root where the demo probe user has been erased
    * copy-on-write (corpus build → increment absorb → erase), so the
    * erasure queries never change what the other roots observe. */
  private def erasedRoot(s: SparkSession, d: String): String =
    erasedRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      FileIndex.erase(s, root,
        FileIndex.layoutOf(s, root).probe, "erase-1")
      root
    })

  /** A separate root where the probe user is erased MERGE-ON-READ:
    * deletion vectors only, every data file byte-identical to the
    * pre-erase state. */
  private def dvRoot(s: SparkSession, d: String): String =
    dvRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      FileIndex.eraseDv(s, root,
        FileIndex.layoutOf(s, root).probe, "dve-1")
      root
    })

  /** The MoR lifecycle completed: the same deletion-vector erase,
    * then a compaction that folds the vectors into rewritten files. */
  private def dvCompactedRoot(s: SparkSession, d: String): String =
    dvCompactedRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      FileIndex.eraseDv(s, root,
        FileIndex.layoutOf(s, root).probe, "dve-1")
      FileIndex.compact(s, root)
      root
    })

  private val cdfRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.cdfRoots")

  /** The change-data-feed demo lifecycle: corpus → append → MoR erase
    * → compaction that folds the vector in. The CDF over the whole
    * range must emit the append as inserts, the erase as deletes, and
    * NOTHING for the compaction. */
  private def cdfRoot(s: SparkSession, d: String): String =
    cdfRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      FileIndex.eraseDv(s, root,
        FileIndex.layoutOf(s, root).probe, "dve-1")
      FileIndex.compact(s, root)
      root
    })

  private val hilbertRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.hilbertRoots")

  /** A root clustered along the HILBERT curve with RANGE (equal-
    * count curve segment) file assignment — the Delta-OPTIMIZE-style
    * layout: size-balanced files under any key skew, connected curve
    * segments so zone boxes stay compact. Same bounds, same index
    * machinery; the absorb replays curve + split points from the
    * persisted layout. */
  private def hilbertRoot(s: SparkSession, d: String): String =
    hilbertRoots.getOrElseUpdate(d)( {
      val root = FileIndex.buildRootFrom(s,
        Tables.events(s, d).filter(!incPredicate), curve = "hilbert",
        rangeBucketed = true)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      root
    })

  private val migratedRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.migratedRoots")

  /** A root that LIVED on Morton-prefix clustering, migrated to
    * Hilbert + range mid-life, then absorbed another increment under
    * the new layout — the full re-OPTIMIZE lifecycle. The two
    * increments are the halves of the standard increment slice. */
  private def migratedRoot(s: SparkSession, d: String): String =
    migratedRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      val inc = incrementEvents(s, d)
      FileIndex.absorb(s, root,
        inc.filter(col("event_id") % 10 === 8), "inc-8")
      FileIndex.migrate(s, root, "hilbert", rangeBucketed = true,
        "migrate-1")
      FileIndex.absorb(s, root,
        inc.filter(col("event_id") % 10 === 9), "inc-9")
      root
    })

  private val evolvedRoots =
    new graft.core.BoundedMemo[String, String](64, "fx.evolvedRoots")

  /** A root whose increment EVOLVED the schema: the corpus predates
    * the `score` column, the increment carries it, and a compaction
    * folds the mixed-schema generations into one. Time travel to the
    * pre-compaction version exercises the schema-merged multi-
    * generation read; the head exercises the evolved rewrite. */
  private def evolvedRoot(s: SparkSession, d: String): String =
    evolvedRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root,
        incrementEvents(s, d)
          .withColumn("score", pmod(col("event_id"), lit(7L))),
        "inc-1")
      FileIndex.compact(s, root)
      root
    })

  /** A separate root taken through the FULL lifecycle — corpus build →
    * increment absorb → compaction down to one live generation — so
    * the compaction queries never change what the multi-generation
    * queries above observe. */
  private def compactedRoot(s: SparkSession, d: String): String =
    compactedRoots.getOrElseUpdate(d)( {
      val root = buildRoot(s, d)
      FileIndex.absorb(s, root, incrementEvents(s, d), "inc-1")
      FileIndex.compact(s, root)
      root
    })

  /** The demo box aggregate over a root's pruned read — shared by the
    * multi-generation, post-compaction, and time-travel queries (same
    * oracle SQL: neither compaction nor the version read may change
    * the answer). */
  private def boxAggOf(s: SparkSession, root: String): DataFrame =
    boxAggOf(s, root, FileIndex.zone(s, root))

  private def boxAggOf(s: SparkSession, root: String,
      zone: DataFrame): DataFrame = {
    val l = FileIndex.layoutOf(s, root)
    readFiles(s, root, FileIndex.boxSurvivors(zone, l))
      .withColumn("tsu", expr("ts div 1000"))
      .filter(col("user_id").between(l.ulo, l.uhi) &&
        col("tsu").between(l.tlo, l.thi))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        countDistinct(col("user_id")).as("users"))
  }


  /** Read exactly the surviving logical files, deletion vectors
    * applied. Only the survivor list crosses to the driver —
    * (inc_id, zbucket) pairs, read-set-sized. */
  private def readFiles(s: SparkSession, root: String,
      survivors: DataFrame): DataFrame = {
    val pairs = survivors.select(col("inc_id"), col("zbucket")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    require(pairs.nonEmpty, "pruned read eliminated every file")
    FileIndex.readPairs(s, root, pairs)
  }

  // ─────────────────────────────────────────── shared oracle SQL
  /** bounds → layout constants, replaying [[FileIndex.Layout]]'s integer
    * arithmetic on the corpus slice. */
  private def constsSql: String =
    s"""bounds AS (
       |  SELECT min(user_id) AS umin, max(user_id) AS umax,
       |    min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax,
       |    count(*) AS nc
       |  FROM events WHERE event_id % 10 < 8),
       |consts AS (
       |  SELECT umin, tmin,
       |    (umax - umin) // ${FileIndex.Codes} + 1 AS wu,
       |    (tmax - tmin) // ${FileIndex.Codes} + 1 AS wt,
       |    CASE WHEN nc > ${64 * FileIndex.FileRows} THEN 256
       |         WHEN nc > ${16 * FileIndex.FileRows} THEN 1024
       |         ELSE 4096 END AS zdiv,
       |    umin + (umax - umin) // 8 AS ulo,
       |    umin + 2 * ((umax - umin) // 8) AS uhi,
       |    tmin + 5 * ((tmax - tmin) // 8) AS tlo,
       |    tmin + 6 * ((tmax - tmin) // 8) AS thi,
       |    umin + (umax - umin) // 3 AS probe,
       |    umin + 2 * ((umax - umin) // 3) AS probe2
       |  FROM bounds)""".stripMargin

  /** The full 16-bit Morton key in DuckDB arithmetic — the replay of
    * [[FileIndex.zkeyExpr]]; zbucket = zkey // zdiv (top 2·pbits bits). */
  private def zkeySql: String =
    (0 until 8).map { i =>
      s"((cu // ${1L << i}) % 2) * ${1L << (2 * i + 1)}" +
        s" + ((ct // ${1L << i}) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")

  /** File assignment replay: every event coded, bucketed, and tagged
    * with the generation it was clustered into. */
  private def slicesSql: String =
    s"""$constsSql,
       |coded AS (
       |  SELECT e.*, zdiv, epoch_us(ts) AS tsu,
       |    greatest(0, least(255, (user_id - umin) // wu)) AS cu,
       |    greatest(0, least(255, (epoch_us(ts) - tmin) // wt)) AS ct
       |  FROM events e CROSS JOIN consts),
       |bucketed AS (
       |  SELECT *, (($zkeySql) // zdiv)::INT AS zbucket
       |  FROM coded),
       |slices AS (
       |  SELECT 'corpus' AS inc_id, * FROM bucketed WHERE event_id % 10 < 8
       |  UNION ALL
       |  SELECT 'inc-1' AS inc_id, * FROM bucketed WHERE event_id % 10 >= 8),
       |zstats AS (
       |  SELECT inc_id, zbucket, count(*) AS n,
       |    min(user_id) AS u_lo, max(user_id) AS u_hi,
       |    min(tsu) AS t_lo, max(tsu) AS t_hi
       |  FROM slices GROUP BY 1, 2)""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the persisted file-index census, merged across generations — a
    // hash match proves the layout function, the index build, AND the
    // store-log merge agree with DuckDB's replay of the clustering
    "fx_layout" -> ((s, d) => {
      val root = readyRoot(s, d)
      FileIndex.zone(s, root)
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("gens"), sum(col("n")).as("n"),
          min(col("u_lo")).as("u_lo"), max(col("u_hi")).as("u_hi"),
          min(col("t_lo")).as("t_lo"), max(col("t_hi")).as("t_hi"))
    }),
    // zone-map-pruned box read: prune the file list against the
    // persisted index, read ONLY surviving files, apply the residual
    // predicate — the oracle full-scans, so a hash match IS the
    // conservative-pruning proof
    "fx_pruned_box" -> ((s, d) => boxAggOf(s, readyRoot(s, d))),
    // the SAME box read served from a root compacted down to one live
    // generation — identical oracle, so a hash match proves the
    // atomic manifest swap is invisible to readers
    "fx_compacted_box" -> ((s, d) => boxAggOf(s, compactedRoot(s, d))),
    // TIME TRAVEL: the same box read as of the manifest version just
    // BEFORE the compaction swap — served from the now-dead
    // pre-compaction generations, still hash-equal to the full scan
    "fx_timetravel_box" -> ((s, d) => {
      val root = compactedRoot(s, d)
      val asOf = FileIndex.currentSeq(s, root) - 1
      boxAggOf(s, root, FileIndex.zoneAt(s, root, asOf))
    }),
    // post-compaction index census: exactly one live generation per
    // bucket, and its persisted stats equal DuckDB's from-scratch
    // replay over ALL events — the compaction-preserves-the-index gate
    "fx_compact_census" -> ((s, d) => {
      val root = compactedRoot(s, d)
      FileIndex.zone(s, root)
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("gens"), sum(col("n")).as("n"),
          min(col("u_lo")).as("u_lo"), max(col("u_hi")).as("u_hi"),
          min(col("t_lo")).as("t_lo"), max(col("t_hi")).as("t_hi"))
    }),
    // the per-file keep/skip DECISIONS, hash-checked: box
    // intersection, point zone test, point bloom test, and the exact
    // probe-row count riding along (bloom false positives are visible
    // as bloom_kept=1, n_probe=0 — conservative, never the reverse)
    "fx_prune_audit" -> ((s, d) => {
      val root = readyRoot(s, d)
      val l = FileIndex.layoutOf(s, root)
      val zone = FileIndex.zone(s, root)
      val bloomKept = FileIndex.pointSurvivors(s, root, l.probe)
        .select(col("inc_id"), col("zbucket"), lit(1).as("bloom_kept"))
      // ground truth riding along: exact probe-row counts per
      // generation bucket (an audit query full-scans BY DESIGN —
      // production reads go through fx_point_lookup's pruned path)
      val probeCounts = readFiles(s, root, zone)
        .filter(col("user_id") === l.probe)
        .withColumn("inc_id",
          when(incPredicate, lit("inc-1")).otherwise(lit("corpus")))
        .withColumn("tsu", expr("ts div 1000"))
        .withColumn("cu", expr(
          s"greatest(0L, least(255L, (user_id - ${l.umin}L) div ${l.wu}L))"))
        .withColumn("ct", expr(
          s"greatest(0L, least(255L, (tsu - ${l.tmin}L) div ${l.wt}L))"))
        .withColumn("zkey", expr(FileIndex.zkeyExpr))
        .withColumn("zbucket", expr(FileIndex.zbucketExprOf(l)))
        .groupBy(col("inc_id"), col("zbucket"))
        .agg(count(lit(1)).as("n_probe"))
      zone
        .withColumn("box_kept",
          when(col("u_hi") < l.ulo || col("u_lo") > l.uhi ||
            col("t_hi") < l.tlo || col("t_lo") > l.thi, 0).otherwise(1))
        .withColumn("zone_kept",
          when(col("u_lo") <= l.probe && col("u_hi") >= l.probe, 1)
            .otherwise(0))
        .join(bloomKept, Seq("inc_id", "zbucket"), "left")
        .join(probeCounts, Seq("inc_id", "zbucket"), "left")
        .select(col("inc_id"), col("zbucket"), col("n"), col("box_kept"),
          col("zone_kept"),
          coalesce(col("bloom_kept"), lit(0)).as("bloom_kept"),
          coalesce(col("n_probe"), lit(0L)).as("n_probe"))
    }),
    // full-table census AFTER a copy-on-write keyed UPDATE (the MERGE
    // write path): the probe user's value is rewritten to a constant
    // in exactly the files that may hold them; the oracle full-scans
    // with the same CASE, so a hash match proves the update touched
    // exactly that user's rows and nothing else
    "fx_updated_census" -> ((s, d) => {
      val root = updatedRoot(s, d)
      readFiles(s, root, FileIndex.zone(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // full-table census AFTER the copy-on-write privacy erase of the
    // probe user: only the files that may have held the user were
    // rewritten, everything else serves from its original generation —
    // the oracle full-scans WHERE user_id <> probe, so a hash match
    // proves the erase removed exactly that user's rows and nothing
    // else
    "fx_erased_census" -> ((s, d) => {
      val root = erasedRoot(s, d)
      readFiles(s, root, FileIndex.zone(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // full-table census after a PREDICATE DELETE (`DELETE FROM t
    // WHERE ts in the demo time box AND value > 0.5`): zone + value
    // stats prune the rewrite to candidate files, a probe scan
    // narrows to files actually holding a match, only those rewrote.
    // The oracle replays the delete as a complementary full-scan
    // filter.
    "fx_delete_where" -> ((s, d) => {
      val root = deletedWhereRoot(s, d)
      readFiles(s, root, FileIndex.zone(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // the SAME predicate delete MERGE-ON-READ: positional deletion
    // vectors (part-file, row-index) only — not one data byte moves —
    // and the census must be observationally identical to the
    // copy-on-write fx_delete_where (same oracle SQL)
    "fx_dv_delete_where" -> ((s, d) => {
      val root = dvDeletedWhereRoot(s, d)
      readFiles(s, root, FileIndex.zone(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // and after compaction FOLDS the marked positions into rewritten
    // files the anti-join is gone and the answer is unchanged
    "fx_dv_delete_compact" -> ((s, d) => {
      val root = dvDeletedCompactRoot(s, d)
      readFiles(s, root, FileIndex.zone(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // full-table census after a PREDICATE UPDATE (`UPDATE t SET
    // value = 9.99 WHERE user_id in the demo box AND event_type =
    // 'click'`): same prune-probe-rewrite path; the oracle replays
    // the update as a CASE projection over the raw table.
    "fx_update_where" -> ((s, d) => {
      val root = updatedWhereRoot(s, d)
      readFiles(s, root, FileIndex.zone(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // full-table census AFTER a MERGE-ON-READ (deletion-vector)
    // erase: not one data byte moved (spec-fingerprinted) — the
    // erased rows vanish purely through the read-side anti-join.
    // Same oracle as the copy-on-write erase: the two erase
    // mechanisms must be observationally identical
    "fx_dv_census" -> ((s, d) => {
      val root = dvRoot(s, d)
      readFiles(s, root, FileIndex.zone(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // the same census after compaction FOLDED the vectors into
    // rewritten files: the anti-join is gone from the read (no DV
    // rows target live files), the answer is unchanged
    "fx_dv_compact_census" -> ((s, d) => {
      val root = dvCompactedRoot(s, d)
      readFiles(s, root, FileIndex.zone(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // the composed CHANGE-DATA-FEED over a range spanning an append,
    // a merge-on-read erase, and a compaction: inserts = the appended
    // rows, deletes = the erased user's rows (from BOTH generations),
    // and the compaction — which folded the vectors into rewritten
    // files — emits nothing. One API for a downstream mirror; the
    // oracle replays both legs from the raw table.
    "fx_cdf_range" -> ((s, d) => {
      val root = cdfRoot(s, d)
      FileIndex.changeDataFeed(s, root, 0L,
          FileIndex.currentSeq(s, root))
        .select(col("_change_type").as("change_type"), col("event_id"),
          expr("ts div 1000").as("tsu"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
    }),
    // CDC BETWEEN VERSIONS, file-pruned: the rows version N removed
    // relative to N−1 are computable from ONLY the files that changed
    // hands (retired set minus newly published set) — never a
    // table-diff. Across the copy-on-write erase, that file-level
    // exceptAll is exactly the erased user's rows, which the oracle
    // recomputes as a plain full scan. At 100 TB an erase touches a
    // handful of files, so the diff reads a handful of files.
    "fx_version_diff" -> ((s, d) => {
      val root = erasedRoot(s, d)
      val head = FileIndex.currentSeq(s, root)
      val before = FileIndex.livePairsAt(s, root, head - 1).toSet
      val after = FileIndex.livePairs(s, root).toSet
      def proj(pairs: Set[(String, Int)]): DataFrame = {
        val sorted = pairs.toSeq.sorted
        if (sorted.isEmpty)
          Tables.events(s, d).limit(0)
            .select(col("event_id"), expr("ts div 1000").as("tsu"),
              col("event_type"),
              round(col("value") * 100).cast("long").as("cents"))
        else FileIndex.readPairs(s, root, sorted)
          .select(col("event_id"), expr("ts div 1000").as("tsu"),
            col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
      }
      proj(before -- after).exceptAll(proj(after -- before))
    }),
    // the pruned POINT path composed with merge-on-read state: a
    // zone+bloom point lookup of a DIFFERENT (non-erased) user served
    // from the deletion-vector root — the anti-join must remove
    // exactly the erased key's rows from the touched files and
    // nothing of the probed user's
    "fx_dv_point" -> ((s, d) => {
      val root = dvRoot(s, d)
      val l = FileIndex.layoutOf(s, root)
      readFiles(s, root, FileIndex.pointSurvivors(s, root, l.probe2))
        .filter(col("user_id") === l.probe2)
        .select(col("event_id"), expr("ts div 1000").as("tsu"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
    }),
    // type-pruned read off the per-file value-domain stats: the
    // rarest event_type (deterministic pick: count asc, name asc) is
    // read through ONLY the files whose domain list contains it, plus
    // the residual equality filter — the oracle full-scans, so a hash
    // match is the conservative-pruning proof (on a corpus whose
    // types localize, the survivor set shrinks — pinned in
    // ScanPruningSpec with a synthetic localized type)
    "fx_type_prune" -> ((s, d) => {
      val root = readyRoot(s, d)
      val t = Tables.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt"), col("event_type")).limit(1)
        .head().getString(0)
      readFiles(s, root, FileIndex.typesMatching(s, root, t))
        .filter(col("event_type") === t)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // top-decile VALUE range served through the per-file value
    // min/max stats: only files whose [v_lo, v_hi] intersects the
    // range are opened, plus the residual filter — the oracle
    // full-scans, so a hash match is the conservative-pruning proof
    // (the bound binds when values localize by file — pinned in
    // ScanPruningSpec with a synthetic value-clustered corpus, and
    // stays exact under deletion vectors because pruning is
    // monotone under row removal)
    "fx_value_prune" -> ((s, d) => {
      val root = readyRoot(s, d)
      val b = Tables.events(s, d)
        .agg(min(col("value")), max(col("value"))).head()
      val thr = b.getDouble(0) + 9 * (b.getDouble(1) - b.getDouble(0)) / 10
      readFiles(s, root,
          FileIndex.zone(s, root).filter(col("v_hi") > thr))
        .filter(col("value") > thr)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // the demo box read after a LAYOUT MIGRATION mid-life: built on
    // Morton prefixes, re-OPTIMIZEd onto Hilbert + range bucketing,
    // then grown by a post-migration absorb that clusters under the
    // new layout — the full-scan oracle matching proves the migration
    // swap and the mixed-layout lifecycle lose no rows
    "fx_migrated_box" -> ((s, d) => boxAggOf(s, migratedRoot(s, d))),
    // the demo box read served from a HILBERT-clustered root: the
    // zone-map prune and residual filter are curve-agnostic, so the
    // full-scan oracle matching proves the alternative layout loses
    // no rows; the locality A/B (Hilbert prunes ≤ Morton on a box
    // workload) is pinned in HilbertKeySpec, where it can be measured
    "fx_hilbert_box" -> ((s, d) => boxAggOf(s, hilbertRoot(s, d))),
    // SCHEMA EVOLUTION, pre-compaction: the increment carries a
    // `score` column the corpus predates — the multi-generation read
    // schema-merges, null-filling the old files, and the census
    // aggregates across both schemas; the oracle recomputes score
    // from scratch with the corpus slice CASE'd to NULL
    "fx_evolved_census" -> ((s, d) => {
      val root = evolvedRoot(s, d)
      val asOf = FileIndex.currentSeq(s, root) - 1
      FileIndex.readPairs(s, root,
          FileIndex.livePairsAt(s, root, asOf))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"),
          countDistinct(col("user_id")).as("users"))
    }),
    // the same census at HEAD, after compaction folded the mixed-
    // schema generations into one rewritten generation — identical
    // oracle, so a hash match proves the rewrite carried the evolved
    // column (and its nulls) instead of amputating it
    "fx_evolved_compact" -> ((s, d) => {
      val root = evolvedRoot(s, d)
      FileIndex.readPairs(s, root, FileIndex.livePairs(s, root))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"),
          countDistinct(col("user_id")).as("users"))
    }),
    // METADATA-ONLY table stats: row count + clustered-dimension
    // min/max folded from the live zone rows — zero data files opened
    // (pinned in ScanPruningSpec via inputFiles); the oracle
    // full-scans, so a hash match proves the persisted per-file stats
    // reconstruct the exact table-level answer across generations
    "fx_meta_stats" -> ((s, d) =>
      FileIndex.metaStats(s, readyRoot(s, d))),
    // the same stats on the MERGE-ON-READ erased root: zone rows
    // still count the erased user's rows (not one data byte moved),
    // so the metadata fold must re-read exactly the DV-touched files
    // — the oracle full-scans WHERE user_id <> probe, so a hash match
    // proves the split fold is exact, including a min/max the erased
    // key may have held
    "fx_dv_meta_stats" -> ((s, d) =>
      FileIndex.metaStats(s, dvRoot(s, d))),
    // GROUP BY event_type census served from METADATA only (the
    // per-file type counts folded over live files) — the oracle
    // full-scans, so a hash match proves the logged counts
    // reconstruct the exact group-by across generations
    "fx_meta_type_census" -> ((s, d) =>
      FileIndex.metaTypeCensus(s, readyRoot(s, d))),
    // the same census on the MERGE-ON-READ erased root: logged type
    // counts still include the erased user's rows, so the fold must
    // re-read exactly the DV-touched files — oracle full-scans
    // WHERE user_id <> probe
    "fx_dv_meta_type_census" -> ((s, d) =>
      FileIndex.metaTypeCensus(s, dvRoot(s, d))),
    // METADATA-ASSISTED time-range count: files whose time span lies
    // fully INSIDE the window contribute their zone row count without
    // being opened; only BOUNDARY files (span straddles a window
    // edge) are read and residual-filtered. At 100 TB a time-range
    // count reads the two boundary shells, not the interior — the
    // oracle recomputes the count by full scan and replays the
    // containment classification from its own zone stats. The window
    // is WIDE (5/8 of the time range) so interior files exist at
    // every SF; user_id stays unconstrained because the demo corpus
    // has too few distinct users at small SF for u-containment to be
    // non-degenerate
    "fx_box_count_meta" -> ((s, d) => {
      val root = readyRoot(s, d)
      val l = FileIndex.layoutOf(s, root)
      val (tlo, thi) = (l.tmin + (l.tmax - l.tmin) / 8,
        l.tmin + 6 * ((l.tmax - l.tmin) / 8))
      val zone = FileIndex.zone(s, root)
        .select(col("inc_id"), col("zbucket"), col("n"),
          col("t_lo"), col("t_hi")).collect()
      def contained(r: org.apache.spark.sql.Row) =
        r.getLong(3) >= tlo && r.getLong(4) <= thi
      def intersects(r: org.apache.spark.sql.Row) =
        !(r.getLong(4) < tlo || r.getLong(3) > thi)
      val metaN = zone.filter(contained).map(_.getLong(2)).sum
      val metaFiles = zone.count(contained)
      val boundary = zone.filter(r => intersects(r) && !contained(r))
        .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
      val boundaryN =
        if (boundary.isEmpty) 0L
        else FileIndex.readPairs(s, root, boundary)
          .withColumn("tsu", expr("ts div 1000"))
          .filter(col("tsu").between(tlo, thi))
          .count()
      import s.implicits._
      Seq((metaN + boundaryN, metaFiles.toLong, boundary.size.toLong))
        .toDF("n", "meta_files", "boundary_files")
    }),
    // DESCRIBE HISTORY of the compacted lifecycle: two appends
    // (corpus, increment) then one rewrite folding both — the oracle
    // replays every commit's file add/remove counts from its own
    // clustering replay, so a hash match proves the manifest recorded
    // exactly the file movements the layout function dictates
    "fx_history" -> ((s, d) =>
      FileIndex.history(s, compactedRoot(s, d))),
    // the MAINT HONESTY AUDIT as a driver-gated relational row: for
    // the clean compaction pub == ret (folded 0); for the DV-folding
    // one pub == ret − folded, where each leg of the equation is an
    // independently logged count (zone census vs the commit-time
    // semi-join fold census) — the oracle replays all three numbers
    // from the raw table, so a hash match proves the audit equates
    // rather than bounds
    "fx_maint_audit" -> ((s, d) => {
      import s.implicits._
      def rowsOf(tag: String, root: String) =
        FileIndex.auditMaint(s, root).map {
          case (seq, gen, pub, ret, folded, ok) =>
            (tag, seq, gen, pub, ret, folded, if (ok) 1L else 0L)
        }
      (rowsOf("clean", compactedRoot(s, d)) ++
        rowsOf("dvfold", dvCompactedRoot(s, d)))
        .toDF("lifecycle", "mseq", "gen", "published", "retired",
          "folded", "ok")
    }),
    // the APPEND CHANGE FEED replayed from the beginning of a root
    // that has been compacted: data-change appends (corpus + the
    // increment) emit once; the compaction rewrite — which re-
    // publishes every row — emits NOTHING, so the census equals the
    // plain full scan instead of doubling
    "fx_append_feed" -> ((s, d) => {
      val root = compactedRoot(s, d)
      // cursor −1 = before the corpus commit (which claims seq 0)
      FileIndex.changeFeed(s, root, -1L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // the feed from a MID-TABLE cursor (just after the corpus
    // commit): exactly the increment's rows, read from only the
    // increment's files — tailing the table costs O(new data), and
    // the oracle recomputes the increment slice from scratch
    "fx_feed_incremental" -> ((s, d) => {
      val root = compactedRoot(s, d)
      val (_, apps) = FileIndex.appendsSince(root, -1L)
      FileIndex.changeFeed(s, root, apps.head._1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          countDistinct(col("user_id")).as("users"))
    }),
    // bloom-refined point lookup: only files that pass BOTH the zone
    // range test and the bloom membership test are read — the oracle
    // full-scans on user_id = probe
    "fx_point_lookup" -> ((s, d) => {
      val root = readyRoot(s, d)
      val l = FileIndex.layoutOf(s, root)
      readFiles(s, root, FileIndex.pointSurvivors(s, root, l.probe))
        .filter(col("user_id") === l.probe)
        .select(col("event_id"), expr("ts div 1000").as("tsu"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "fx_layout" ->
      s"""WITH $slicesSql
         |SELECT zbucket, count(*) AS gens, sum(n)::BIGINT AS n,
         |  min(u_lo) AS u_lo, max(u_hi) AS u_hi,
         |  min(t_lo) AS t_lo, max(t_hi) AS t_hi
         |FROM zstats GROUP BY 1""".stripMargin,
    "fx_pruned_box" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE user_id BETWEEN ulo AND uhi
         |  AND epoch_us(ts) BETWEEN tlo AND thi
         |GROUP BY 1""".stripMargin,
    // identical full-scan SQL — compaction must not change the answer
    "fx_compacted_box" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE user_id BETWEEN ulo AND uhi
         |  AND epoch_us(ts) BETWEEN tlo AND thi
         |GROUP BY 1""".stripMargin,
    // identical full-scan SQL — the version read must not change it
    "fx_timetravel_box" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE user_id BETWEEN ulo AND uhi
         |  AND epoch_us(ts) BETWEEN tlo AND thi
         |GROUP BY 1""".stripMargin,
    // one live generation per bucket; stats replayed from scratch
    "fx_compact_census" ->
      s"""WITH $slicesSql
         |SELECT zbucket, 1::BIGINT AS gens, count(*) AS n,
         |  min(user_id) AS u_lo, max(user_id) AS u_hi,
         |  min(tsu) AS t_lo, max(tsu) AS t_hi
         |FROM bucketed GROUP BY 1""".stripMargin,
    "fx_prune_audit" ->
      s"""WITH $slicesSql,
         |bloombits AS (
         |  SELECT DISTINCT inc_id, zbucket, r,
         |    ('0x' || substr(md5(r::VARCHAR || ':' || user_id::VARCHAR),
         |      1, 8))::BIGINT % ${FileIndex.BloomM} AS bit
         |  FROM slices CROSS JOIN (SELECT unnest([0, 1]) AS r) rr),
         |probebits AS (
         |  SELECT r,
         |    ('0x' || substr(md5(r::VARCHAR || ':' || probe::VARCHAR),
         |      1, 8))::BIGINT % ${FileIndex.BloomM} AS bit
         |  FROM consts CROSS JOIN (SELECT unnest([0, 1]) AS r) rr),
         |bloomkept AS (
         |  SELECT inc_id, zbucket FROM bloombits b
         |  JOIN probebits p USING (r, bit)
         |  GROUP BY 1, 2 HAVING count(DISTINCT r) = ${FileIndex.BloomK}),
         |probecounts AS (
         |  SELECT inc_id, zbucket, count(*) AS n_probe
         |  FROM slices CROSS JOIN consts c
         |  WHERE user_id = c.probe GROUP BY 1, 2)
         |SELECT z.inc_id, z.zbucket, z.n,
         |  CASE WHEN z.u_hi < c.ulo OR z.u_lo > c.uhi
         |    OR z.t_hi < c.tlo OR z.t_lo > c.thi THEN 0 ELSE 1 END
         |    AS box_kept,
         |  CASE WHEN c.probe BETWEEN z.u_lo AND z.u_hi THEN 1 ELSE 0 END
         |    AS zone_kept,
         |  CASE WHEN bk.zbucket IS NOT NULL THEN 1 ELSE 0 END
         |    AS bloom_kept,
         |  coalesce(pc.n_probe, 0)::BIGINT AS n_probe
         |FROM zstats z CROSS JOIN consts c
         |LEFT JOIN bloomkept bk
         |  ON bk.inc_id = z.inc_id AND bk.zbucket = z.zbucket
         |LEFT JOIN probecounts pc
         |  ON pc.inc_id = z.inc_id AND pc.zbucket = z.zbucket""".stripMargin,
    // full scan of the deterministically-picked rarest type — a hash
    // match proves the type-pruned read lost no rows
    "fx_type_prune" ->
      s"""WITH pick AS (
         |  SELECT event_type FROM events GROUP BY 1
         |  ORDER BY count(*), event_type LIMIT 1)
         |SELECT e.event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events e JOIN pick p ON e.event_type = p.event_type
         |GROUP BY 1""".stripMargin,
    "fx_point_lookup" ->
      s"""WITH $constsSql
         |SELECT event_id, epoch_us(ts) AS tsu, event_type,
         |  round(value * 100)::BIGINT AS cents
         |FROM events CROSS JOIN consts
         |WHERE user_id = probe""".stripMargin,
    // full scan of the same top-decile value range (identical double
    // arithmetic for the threshold on both sides) — a hash match
    // proves the value-stat-pruned read lost no rows
    "fx_value_prune" ->
      """WITH b AS (SELECT min(value) AS vmin, max(value) AS vmax
        |           FROM events)
        |SELECT event_type, count(*) AS n,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
        |  count(DISTINCT user_id) AS users
        |FROM events CROSS JOIN b
        |WHERE value > vmin + 9 * (vmax - vmin) / 10
        |GROUP BY 1""".stripMargin,
    // identical full-scan SQL — a mid-life layout migration must not
    // change the answer
    "fx_migrated_box" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE user_id BETWEEN ulo AND uhi
         |  AND epoch_us(ts) BETWEEN tlo AND thi
         |GROUP BY 1""".stripMargin,
    // identical full-scan SQL — the clustering curve must not change
    // the answer
    "fx_hilbert_box" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE user_id BETWEEN ulo AND uhi
         |  AND epoch_us(ts) BETWEEN tlo AND thi
         |GROUP BY 1""".stripMargin,
    // score recomputed from scratch: the increment slice carries
    // event_id % 7, the corpus slice is NULL (it predates the column)
    "fx_evolved_census" ->
      """SELECT event_type, count(*) AS n,
        |  sum(CASE WHEN event_id % 10 >= 8 THEN event_id % 7 END)::BIGINT
        |    AS score_sum,
        |  count(DISTINCT user_id) AS users
        |FROM events GROUP BY 1""".stripMargin,
    // identical SQL — compaction must not change the evolved answer
    "fx_evolved_compact" ->
      """SELECT event_type, count(*) AS n,
        |  sum(CASE WHEN event_id % 10 >= 8 THEN event_id % 7 END)::BIGINT
        |    AS score_sum,
        |  count(DISTINCT user_id) AS users
        |FROM events GROUP BY 1""".stripMargin,
    // the full scan the metadata fold must reconstruct exactly
    "fx_meta_stats" ->
      """SELECT count(*) AS n,
        |  min(user_id) AS u_lo, max(user_id) AS u_hi,
        |  min(epoch_us(ts)) AS t_lo, max(epoch_us(ts)) AS t_hi,
        |  min(value) AS v_lo, max(value) AS v_hi
        |FROM events""".stripMargin,
    // the same stats without the MoR-erased user — the split
    // metadata/exact fold must land here, min/max included
    "fx_dv_meta_stats" ->
      s"""WITH $constsSql
         |SELECT count(*) AS n,
         |  min(user_id) AS u_lo, max(user_id) AS u_hi,
         |  min(epoch_us(ts)) AS t_lo, max(epoch_us(ts)) AS t_hi,
         |  min(value) AS v_lo, max(value) AS v_hi
         |FROM events CROSS JOIN consts
         |WHERE user_id <> probe""".stripMargin,
    // every commit's file movements replayed from the clustering:
    // appends add their slice's distinct buckets; the compaction adds
    // the union's buckets and retires both inputs' file sets
    "fx_history" ->
      s"""WITH $slicesSql,
         |per AS (
         |  SELECT inc_id, count(DISTINCT zbucket) AS nb
         |  FROM slices GROUP BY 1),
         |allb AS (SELECT count(DISTINCT zbucket) AS nb FROM bucketed)
         |SELECT 0::BIGINT AS mseq, 'corpus' AS gen, 'append' AS kind,
         |  (SELECT nb FROM per WHERE inc_id = 'corpus')::BIGINT
         |    AS files_added,
         |  0::BIGINT AS files_removed
         |UNION ALL
         |SELECT 1::BIGINT, 'inc-1', 'append',
         |  (SELECT nb FROM per WHERE inc_id = 'inc-1')::BIGINT, 0::BIGINT
         |UNION ALL
         |SELECT 2::BIGINT, 'compact-1', 'rewrite',
         |  (SELECT nb FROM allb)::BIGINT,
         |  (SELECT sum(nb) FROM per)::BIGINT""".stripMargin,
    // the audit replayed from the raw table: published/retired from
    // full-scan counts, folded = the MoR-erased probe user's rows
    "fx_maint_audit" ->
      s"""WITH $constsSql
         |SELECT 'clean' AS lifecycle, 2::BIGINT AS mseq,
         |  'compact-1' AS gen,
         |  (SELECT count(*) FROM events)::BIGINT AS published,
         |  (SELECT count(*) FROM events)::BIGINT AS retired,
         |  0::BIGINT AS folded, 1::BIGINT AS ok
         |UNION ALL
         |SELECT 'dvfold', 3::BIGINT, 'compact-2',
         |  (SELECT count(*) FROM events CROSS JOIN consts
         |    WHERE user_id <> probe)::BIGINT,
         |  (SELECT count(*) FROM events)::BIGINT,
         |  (SELECT count(*) FROM events CROSS JOIN consts
         |    WHERE user_id = probe)::BIGINT,
         |  1::BIGINT""".stripMargin,
    // the full-scan group-by the metadata type counts must reconstruct
    "fx_meta_type_census" ->
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    // the same group-by without the MoR-erased user
    "fx_dv_meta_type_census" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n
         |FROM events CROSS JOIN consts
         |WHERE user_id <> probe
         |GROUP BY 1""".stripMargin,
    // count by full scan; containment classification replayed from
    // the oracle's own zone stats — meta_files > 0 is implicitly
    // pinned by the hash (the wide box always contains interior
    // files at the demo SFs)
    "fx_box_count_meta" ->
      s"""WITH $slicesSql,
         |wbox AS (
         |  SELECT tmin + (tmax - tmin) // 8 AS wtlo,
         |    tmin + 6 * ((tmax - tmin) // 8) AS wthi
         |  FROM bounds),
         |cls AS (
         |  SELECT z.*, CASE
         |    WHEN z.t_lo >= w.wtlo AND z.t_hi <= w.wthi THEN 'meta'
         |    WHEN z.t_hi < w.wtlo OR z.t_lo > w.wthi THEN 'skip'
         |    ELSE 'boundary' END AS c
         |  FROM zstats z CROSS JOIN wbox w)
         |SELECT
         |  (SELECT count(*) FROM events CROSS JOIN wbox w
         |    WHERE epoch_us(ts) BETWEEN w.wtlo AND w.wthi) AS n,
         |  (SELECT count(*) FROM cls WHERE c = 'meta') AS meta_files,
         |  (SELECT count(*) FROM cls WHERE c = 'boundary')
         |    AS boundary_files""".stripMargin,
    // full census: the feed replay must emit every appended row once
    // and the compaction rewrite zero times
    "fx_append_feed" ->
      """SELECT event_type, count(*) AS n,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
        |  count(DISTINCT user_id) AS users
        |FROM events GROUP BY 1""".stripMargin,
    // the increment slice recomputed from scratch — the mid-cursor
    // feed must read exactly these rows
    "fx_feed_incremental" ->
      """SELECT event_type, count(*) AS n,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
        |  count(DISTINCT user_id) AS users
        |FROM events WHERE event_id % 10 >= 8 GROUP BY 1""".stripMargin,
    // the same census with the probe user's value CASE'd to the
    // update constant — the update-exactness gate
    "fx_updated_census" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(CASE WHEN user_id = probe THEN 999
         |           ELSE round(value * 100)::BIGINT END)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |GROUP BY 1""".stripMargin,
    // everything except the erased user — the erase-exactness gate
    "fx_erased_census" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE user_id <> probe
         |GROUP BY 1""".stripMargin,
    // the predicate delete replayed as its complement: survivors are
    // the rows where the predicate is NOT TRUE
    "fx_delete_where" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE NOT (epoch_us(ts) BETWEEN tlo AND thi AND value > 0.5)
         |GROUP BY 1""".stripMargin,
    // IDENTICAL SQL to fx_delete_where: the merge-on-read positional
    // delete must be observationally equal to the copy-on-write one
    "fx_dv_delete_where" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE NOT (epoch_us(ts) BETWEEN tlo AND thi AND value > 0.5)
         |GROUP BY 1""".stripMargin,
    // and compaction folding the positions must not change the answer
    "fx_dv_delete_compact" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE NOT (epoch_us(ts) BETWEEN tlo AND thi AND value > 0.5)
         |GROUP BY 1""".stripMargin,
    // the predicate update replayed as a CASE projection
    "fx_update_where" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round((CASE WHEN user_id BETWEEN ulo AND uhi
         |    AND event_type = 'click' THEN 9.99 ELSE value END)
         |    * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |GROUP BY 1""".stripMargin,
    // the CDF replay: inserts = the appended increment verbatim,
    // deletes = every row of the erased probe user; the compaction
    // contributes no rows to either leg
    "fx_cdf_range" ->
      s"""WITH $constsSql
         |SELECT 'insert' AS change_type, event_id, epoch_us(ts) AS tsu,
         |  event_type, round(value * 100)::BIGINT AS cents
         |FROM events CROSS JOIN consts
         |WHERE event_id % 10 >= 8
         |UNION ALL
         |SELECT 'delete' AS change_type, event_id, epoch_us(ts) AS tsu,
         |  event_type, round(value * 100)::BIGINT AS cents
         |FROM events CROSS JOIN consts
         |WHERE user_id = probe""".stripMargin,
    // the rows the erase version removed = exactly the erased user's
    // rows — recomputed as a plain full scan
    "fx_version_diff" ->
      s"""WITH $constsSql
         |SELECT event_id, epoch_us(ts) AS tsu, event_type,
         |  round(value * 100)::BIGINT AS cents
         |FROM events CROSS JOIN consts
         |WHERE user_id = probe""".stripMargin,
    // the probed user is untouched by the erase, so the full scan on
    // user_id = probe2 is the exact answer the DV-composed point
    // read must reproduce
    "fx_dv_point" ->
      s"""WITH $constsSql
         |SELECT event_id, epoch_us(ts) AS tsu, event_type,
         |  round(value * 100)::BIGINT AS cents
         |FROM events CROSS JOIN consts
         |WHERE user_id = probe2""".stripMargin,
    // IDENTICAL SQL to fx_erased_census: a merge-on-read erase must
    // be observationally equal to the copy-on-write one
    "fx_dv_census" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE user_id <> probe
         |GROUP BY 1""".stripMargin,
    // and compaction folding the vectors must not change the answer
    "fx_dv_compact_census" ->
      s"""WITH $constsSql
         |SELECT event_type, count(*) AS n,
         |  sum(round(value * 100)::BIGINT)::BIGINT AS cents,
         |  count(DISTINCT user_id) AS users
         |FROM events CROSS JOIN consts
         |WHERE user_id <> probe
         |GROUP BY 1""".stripMargin
  )
}
