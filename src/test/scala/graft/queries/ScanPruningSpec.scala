package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.storage.FileIndex

/** What the oracle hash-match cannot see about the file-skipping
  * index: pruning must be conservative for ARBITRARY boxes (not just
  * the demo constants), it must actually skip files, the bloom layer
  * must reject a point probe the zone ranges cannot, absorbing an
  * increment must be replay-idempotent and must never touch corpus
  * data files, and the pruned read must physically scan fewer files
  * than the full set.
  */
class ScanPruningSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def isolatedRoot(): String = {
    val root = ScanPruning.buildRoot(spark, dir)
    FileIndex.absorb(spark, root,
      ScanPruning.incrementEvents(spark, dir), "inc-1")
    root
  }

  private def readBuckets(root: String, survivors: DataFrame): DataFrame = {
    val paths = survivors.select(col("inc_id"), col("zbucket")).collect()
      .map(r =>
        FileIndex.bucketDir(root, r.getString(0), r.getInt(1)))
    spark.read.parquet(paths.toIndexedSeq: _*)
  }

  test("optimistic commits: versions are exclusive; stale retirements abort") {
    import spark.implicits._
    val synth = (0 until 300).map { i =>
      (i.toLong, (i % 500).toLong * 1000000000L, (i % 20).toLong,
        "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)

    // create-exclusive version claim: the second writer at one number
    // loses, whatever it carries
    assert(FileIndex.tryCommit(root, 7L,
      Seq(("x", -1, "ledger"))))
    assert(!FileIndex.tryCommit(root, 7L,
      Seq(("y", -1, "ledger"))), "version 7 was claimed twice")

    // precondition: retiring a file a racing writer already retired
    // throws CommitConflict instead of resurrecting the rewrite
    val pair = FileIndex.livePairs(spark, root).head
    assert(FileIndex.commitNext(root, "racer", Nil,
      Seq(pair)), "first retirement should land")
    intercept[FileIndex.CommitConflict] {
      FileIndex.commitNext(root, "loser", Seq(3),
        Seq(pair))
    }
    // the loser left no trace: not in the ledger, no version burned
    assert(!FileIndex.absorbedIds(spark, root)
      .contains("loser"))

    // same-gen race: the slower duplicate publish degrades to the
    // replay no-op (false), atomically
    assert(!FileIndex.commitNext(root, "racer", Nil, Nil))
  }

  test("manifest checkpoints serve head reads without the commit prefix") {
    import spark.implicits._
    def synth(ids: Range) = ids.map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 20).toLong, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth(0 until 300))
    for (b <- 1 to 9) // commits 1..9; the 8th folds a checkpoint
      assert(FileIndex.absorb(spark, root,
        synth(1000 * b until 1000 * b + 50), s"inc-$b"))

    val mdir = java.nio.file.Paths.get(
      FileIndex.manifestPath(root))
    import scala.jdk.CollectionConverters._
    def names() = {
      val st = java.nio.file.Files.list(mdir)
      try st.iterator().asScala.map(_.getFileName.toString).toVector
      finally st.close()
    }
    assert(names().exists(_.startsWith("ckpt-")), "no checkpoint written")

    val pairsBefore = FileIndex.livePairs(spark, root)
    val ledgerBefore = FileIndex.absorbedIds(spark, root)

    // move every PRE-checkpoint commit file away: head reads must
    // still answer identically from checkpoint + suffix — the proof
    // they never reparse the prefix
    val backup = java.nio.file.Files.createTempDirectory("graft-ckpt-bk")
    val moved = names().filter(n =>
      n.startsWith("v") && n.stripPrefix("v").stripSuffix(".tsv").toLong <= 8)
    try {
      moved.foreach(n => java.nio.file.Files.move(
        mdir.resolve(n), backup.resolve(n)))
      assert(FileIndex.livePairs(spark, root)
        == pairsBefore, "head live set needed the pre-checkpoint commits")
      assert(FileIndex.absorbedIds(spark, root)
        == ledgerBefore, "ledger needed the pre-checkpoint commits")
      // replays still no-op off the checkpointed ledger
      assert(!FileIndex.absorb(spark, root,
        synth(0 until 1), "inc-3"))
    } finally moved.foreach(n => java.nio.file.Files.move(
      backup.resolve(n), mdir.resolve(n)))

    // with history restored, time travel through the prefix works
    assert(FileIndex
      .livePairsAt(spark, root, 0L).forall(_._1 == "corpus"))
  }

  test("deletion-vector erase moves no data bytes; compaction folds it in") {
    import spark.implicits._
    val synth = (0 until 2000).map { i =>
      val u = (i % 40).toLong
      (i.toLong, i.toLong * 1000000000L, u, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    assert(FileIndex.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 10000L), "inc-1"))

    def fingerprints(): Map[String, String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      FileIndex.livePairs(spark, root).flatMap {
        case (g, b) =>
          val dir = java.nio.file.Paths.get(
            FileIndex.bucketDir(root, g, b))
          val stream = java.nio.file.Files.list(dir)
          try {
            import scala.jdk.CollectionConverters._
            stream.iterator().asScala.filter(p =>
              p.getFileName.toString.endsWith(".parquet")).map { p =>
              p.toString -> md.digest(java.nio.file.Files.readAllBytes(p))
                .map(x => f"$x%02x").mkString
            }.toVector
          } finally stream.close()
      }.toMap
    }

    val before = fingerprints()
    val fullBefore = FileIndex
      .readPairs(spark, root, FileIndex
        .livePairs(spark, root))
      .select(col("event_id")).collect().map(_.getLong(0)).toSet

    assert(FileIndex.eraseDv(spark, root, 7L, "dve-1"))
    assert(!FileIndex.eraseDv(spark, root, 7L, "dve-1"),
      "replayed MoR erase was re-applied")

    // THE deletion-vector property: every live data file is
    // byte-identical after the erase — only index state changed
    assert(fingerprints() == before,
      "a merge-on-read erase rewrote data files")

    // ...yet reads no longer see the user, and lose nothing else
    val afterIds = FileIndex
      .readPairs(spark, root, FileIndex
        .livePairs(spark, root))
      .select(col("event_id"), col("user_id")).collect()
    assert(afterIds.forall(_.getLong(1) != 7L), "erased user still read")
    val want = fullBefore -- synth.filter(col("user_id") === 7L)
      .select(col("event_id")).collect().map(_.getLong(0))
      .flatMap(id => Seq(id, id + 10000L)).toSet
    assert(afterIds.map(_.getLong(0)).toSet == want,
      "MoR erase changed unrelated rows")

    // compaction folds the vectors into rewritten files: the new
    // generation physically lacks the user, and no DV row targets a
    // live file any more (the residual anti-join is gone)
    assert(FileIndex.compact(spark, root).isDefined)
    val newPairs = FileIndex.livePairs(spark, root)
    val physical = spark.read.parquet(newPairs.map { case (g, b) =>
        FileIndex.bucketDir(root, g, b)
      }: _*) // raw read, NO dv applied
    assert(physical.filter(col("user_id") === 7L).count() == 0,
      "compaction did not fold the deletion vector")
    assert(FileIndex.dv(spark, root).isEmpty,
      "stale DV rows still target live files after the fold")
    assert(physical.count().toInt == want.size)
  }

  test("per-file type stats skip >half the files on a localized type") {
    import spark.implicits._
    // 'rare' rows exist only for users [0, 64) of 1024 with matching
    // timestamps, so z-clustering localizes them into the low Morton
    // corner — most files never see the type
    val synth = (0 until 8192).map { i =>
      val u = (i % 1024).toLong
      (i.toLong, u * 1000000000L, u,
        if (u < 64) "rare" else "common", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)

    val liveN = FileIndex.livePairs(spark, root).size
    val kept = FileIndex
      .typesMatching(spark, root, "rare")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(kept.length * 2 < liveN,
      s"type prune kept ${kept.length}/$liveN files — no skipping")

    // conservative: the pruned read + residual equals the full filter
    val pruned = spark.read.parquet(kept.map { case (g, b) =>
        FileIndex.bucketDir(root, g, b)
      }.toIndexedSeq: _*)
      .filter(col("event_type") === "rare").count()
    assert(pruned == 8192L / 16L, s"pruned read found $pruned rare rows")

    // a type the corpus never held keeps zero files
    assert(FileIndex
      .typesMatching(spark, root, "absent").isEmpty)
  }

  test("zone pruning is conservative for arbitrary boxes") {
    val root = isolatedRoot()
    val zone = FileIndex.zone(spark, root)
    val l = FileIndex.layoutOf(spark, root)
    val all = Tables.events(spark, dir).withColumn("tsu", expr("ts div 1000"))
    // boxes as (ulo8, uhi8, tlo8, thi8) eighths of each range — edge
    // boxes, full-range boxes, and empty-intersection boxes included
    for ((ul, uh, tl, th) <- Seq((0, 8, 0, 8), (0, 1, 7, 8), (3, 3, 2, 6),
        (7, 8, 0, 1), (2, 5, 3, 4))) {
      val (uStep, tStep) = ((l.umax - l.umin) / 8, (l.tmax - l.tmin) / 8)
      val (bul, buh) = (l.umin + ul * uStep, l.umin + uh * uStep)
      val (btl, bth) = (l.tmin + tl * tStep, l.tmin + th * tStep)
      val survivors = zone.filter(!(col("u_hi") < bul || col("u_lo") > buh ||
        col("t_hi") < btl || col("t_lo") > bth))
      val expected = all.filter(col("user_id").between(bul, buh) &&
        col("tsu").between(btl, bth))
      val expectedN = expected.count()
      val prunedN =
        if (survivors.isEmpty) 0L
        else readBuckets(root, survivors)
          .withColumn("tsu", expr("ts div 1000"))
          .filter(col("user_id").between(bul, buh) &&
            col("tsu").between(btl, bth))
          .count()
      assert(prunedN == expectedN,
        s"box ($ul,$uh,$tl,$th): pruned read lost rows " +
          s"($prunedN vs $expectedN)")
    }
  }

  test("the demo box actually skips files, and the physical read set shrinks") {
    val root = isolatedRoot()
    val zone = FileIndex.zone(spark, root)
    val l = FileIndex.layoutOf(spark, root)
    val total = zone.count()
    val kept = FileIndex.boxSurvivors(zone, l).count()
    assert(kept < total, s"box pruning kept all $total logical files")
    assert(kept > 0, "box pruning eliminated everything — box misplaced")
    // physical pin via the public query: the pruned plan's data-file
    // set must be smaller than the audit query's (which reads every
    // generation file by design)
    val dataFiles = (name: String) =>
      graft.SparkEntry.queries(name)(spark, dir)
        .inputFiles.count(_.contains("/data_"))
    assert(dataFiles("fx_pruned_box") < dataFiles("fx_prune_audit"),
      "pruned box read did not shrink the physical file set")
  }

  test("bloom rejects an in-range but absent probe; zone alone cannot") {
    import spark.implicits._
    // users 0..9 and 20..29 — 15 sits inside every covering file's
    // [u_lo, u_hi] yet no row carries it
    val synth = (0L until 200L).map { i =>
      val u = if (i % 20 < 10) i % 20 else i % 20 + 10
      (i, i * 1000000000L, u, "view", 1.5, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    val zone = FileIndex.zone(spark, root)
    val zoneKept = zone.filter(col("u_lo") <= 15 && col("u_hi") >= 15).count()
    assert(zoneKept > 0, "no file's zone range covers 15 — bad synth layout")
    assert(FileIndex.pointSurvivors(spark, root, 15L).isEmpty,
      "bloom failed to reject the absent user 15")
    // a PRESENT user survives both layers and reads back its rows
    val hits = readBuckets(root, FileIndex.pointSurvivors(spark, root, 7L))
      .filter(col("user_id") === 7L).count()
    assert(hits == synth.filter(col("user_id") === 7L).count())
  }

  test("out-of-layout increment values clamp to edge files and stay readable") {
    import spark.implicits._
    val synth = (0L until 100L)
      .map(i => (i, i * 1000000000L, i % 10, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    // user 1000 is far outside the layout's creation-time [0, 9]
    val late = Seq((1000L, 5000000000L, 1000L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(FileIndex.absorb(spark, root, late, "late-1"))
    val found = readBuckets(root,
      FileIndex.pointSurvivors(spark, root, 1000L))
      .filter(col("user_id") === 1000L).count()
    assert(found == 1L, "clamped out-of-range row not found via the index")
  }

  test("compaction swaps atomically, preserves answers, and keeps the ledger") {
    val root = isolatedRoot()
    val zone = () => FileIndex.zone(spark, root)
    // pre-compaction census, merged across generations
    def census(df: DataFrame) = df.groupBy(col("zbucket"))
      .agg(sum(col("n")).as("n"), min(col("u_lo")).as("u_lo"),
        max(col("u_hi")).as("u_hi"), min(col("t_lo")).as("t_lo"),
        max(col("t_hi")).as("t_hi"))
      .collect().map(_.toSeq).toSet
    val before = census(zone())
    assert(FileIndex.liveGens(spark, root).size == 2)

    // a half-published generation (index rows, no manifest row — the
    // mid-absorb crash) must be invisible to readers
    val orphan = spark.read.parquet(
      FileIndex.zonePath(root))
      .filter(col("inc_id") === "corpus")
      .withColumn("inc_id", lit("orphan-gen"))
    graft.storage.AstarteStore.appendAtomic(orphan,
      FileIndex.zonePath(root))
    assert(zone().filter(col("inc_id") === "orphan-gen").isEmpty,
      "unpublished generation leaked into the zone map")

    val swapped = FileIndex.compact(spark, root)
    assert(swapped.exists(_.startsWith("compact-")))
    assert(FileIndex.liveGens(spark, root)
      == Seq(swapped.get), "old generations still live after the swap")
    assert(census(zone()) == before,
      "compaction changed the merged per-bucket statistics")

    // dead generations stay in the ledger: re-absorbing an increment
    // whose rows now live inside the compacted generation is a no-op
    assert(!FileIndex.absorb(spark, root,
      ScanPruning.incrementEvents(spark, dir), "inc-1"),
      "compacted-away increment was re-absorbed")
    // a single live generation needs no compaction
    assert(FileIndex.compact(spark, root).isEmpty)

    // and the pruned point read still answers from the compacted files
    val l = FileIndex.layoutOf(spark, root)
    val got = readBuckets(root, FileIndex.pointSurvivors(spark, root, l.probe))
      .filter(col("user_id") === l.probe).count()
    val want = Tables.events(spark, dir)
      .filter(col("user_id") === l.probe).count()
    assert(got == want, s"post-compaction point read lost rows ($got/$want)")
  }

  test("a finer-grained build prunes >15/16 of files on the box read") {
    import spark.implicits._
    // a full 200×100 (user, time) grid so every Morton cell is
    // populated; pbits = 4 → 256 logical files (the spec hook stands
    // in for a corpus past the 64·FileRows tier)
    val synth = (0L until 20000L).map(i =>
      (i, (i / 200L) * 1000000000L, i % 200L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth,
      forcedPbits = Some(4))
    val l = FileIndex.layoutOf(spark, root)
    assert(l.pbits == 4 && l.buckets == 256, "forced prefix depth lost")
    val zone = FileIndex.zone(spark, root)
    val total = zone.count()
    assert(total > 64, s"fine-grained build produced only $total files")
    val kept = FileIndex.boxSurvivors(zone, l).count()
    assert(kept.toDouble / total < 1.0 / 16,
      s"finer granularity did not sharpen the prune: kept $kept/$total")
    // and the pruned read still answers exactly
    val pruned = readBuckets(root, FileIndex.boxSurvivors(zone, l))
      .withColumn("tsu", expr("ts div 1000"))
      .filter(col("user_id").between(l.ulo, l.uhi) &&
        col("tsu").between(l.tlo, l.thi)).count()
    val full = synth.withColumn("tsu", expr("ts div 1000"))
      .filter(col("user_id").between(l.ulo, l.uhi) &&
        col("tsu").between(l.tlo, l.thi)).count()
    assert(pruned == full && full > 0,
      s"fine-grained pruned read lost rows ($pruned vs $full)")
  }

  test("size-tiered compaction folds small generations; big files stay untouched") {
    import spark.implicits._
    def synth(ids: Range): org.apache.spark.sql.DataFrame = ids
      .map(i => (i.toLong, (i % 2000) * 1000000000L, (i % 50).toLong,
        "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth(0 until 2000))
    for (j <- 1 to 3)
      assert(FileIndex.absorb(spark, root,
        synth(2000 + j * 10 until 2000 + j * 10 + 10), s"tiny-$j"))
    def fileSet(gen: String): Set[(String, Long)] = {
      val p = java.nio.file.Paths.get(root, s"data_$gen")
      val out = scala.collection.mutable.Set.empty[(String, Long)]
      java.nio.file.Files.walk(p).forEach { f =>
        if (java.nio.file.Files.isRegularFile(f))
          out += ((p.relativize(f).toString, java.nio.file.Files.size(f)))
      }
      out.toSet
    }
    val corpusBefore = fileSet("corpus")
    val totalBefore = FileIndex.zone(spark, root)
      .agg(sum(col("n"))).head().getLong(0)

    // threshold under the corpus size: folds exactly the three tiny
    // generations, corpus files keep their paths AND bytes
    val swapped = FileIndex.compactTier(spark, root, 100L)
    assert(swapped.exists(_.startsWith("compact-")))
    assert(FileIndex.liveGens(spark, root).toSet ==
      Set("corpus", swapped.get), "tiered fold touched the big generation")
    assert(fileSet("corpus") == corpusBefore,
      "size-tiered compaction rewrote the large generation's files")
    assert(FileIndex.zone(spark, root)
      .agg(sum(col("n"))).head().getLong(0) == totalBefore,
      "tiered fold changed the live row census")
    // reads still correct across the folded + untouched generations
    val hits = readBuckets(root,
      FileIndex.pointSurvivors(spark, root, 7L))
      .filter(col("user_id") === 7L).count()
    assert(hits == synth(0 until 2000).filter(col("user_id") === 7L).count() +
      (1 to 3).map(j => synth(2000 + j * 10 until 2000 + j * 10 + 10)
        .filter(col("user_id") === 7L).count()).sum)
    // only one generation now sits under the threshold → no-op
    assert(FileIndex.compactTier(spark, root, 100L).isEmpty)
    // the full OPTIMIZE still folds everything down to one generation
    val full = FileIndex.compact(spark, root)
    assert(full.exists(_.startsWith("compact-")) && full != swapped)
    assert(FileIndex.liveGens(spark, root) == Seq(full.get))
  }

  test("time travel reads past versions; vacuum reclaims only dead data") {
    val root = isolatedRoot()
    val seqBefore = FileIndex.currentSeq(spark, root)
    assert(FileIndex.compact(spark, root).isDefined)

    // the as-of live set is the pre-compaction one; its (dead) files
    // still answer point reads identically to the head
    assert(FileIndex.livePairsAt(spark, root, seqBefore)
      .map(_._1).distinct.sorted == Seq("corpus", "inc-1"))
    val l = FileIndex.layoutOf(spark, root)
    def probeCount(zone: DataFrame) = {
      val survivors = zone.filter(
        col("u_lo") <= l.probe && col("u_hi") >= l.probe)
      readBuckets(root, survivors).filter(col("user_id") === l.probe).count()
    }
    val past = probeCount(
      FileIndex.zoneAt(spark, root, seqBefore))
    val head = probeCount(FileIndex.zone(spark, root))
    assert(past == head && head > 0,
      s"time-travel read diverged from head ($past vs $head)")

    // vacuum deletes exactly the dead files' data; head reads are
    // untouched, the old snapshot's files are gone
    val reclaimed = FileIndex.vacuum(spark, root)
    assert(reclaimed.nonEmpty &&
      reclaimed.map(_._1).distinct.sorted == Seq("corpus", "inc-1"))
    // per-file reclamation: every dead bucket dir is gone (the empty
    // generation parent may remain), the live generation is intact
    for ((g, b) <- reclaimed)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
        FileIndex.bucketDir(root, g, b))))
    val liveGen = FileIndex.liveGens(spark, root).head
    assert(liveGen.startsWith("compact-") && java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, s"data_$liveGen")))
    assert(probeCount(FileIndex.zone(spark, root)) == head,
      "vacuum broke the head read")
  }

  test("point-probe bloom bits reach the bloom-log scan as pushed literals") {
    val root = isolatedRoot()
    val l = FileIndex.layoutOf(spark, root)
    val pred = FileIndex.bloomBitsOf(l.probe)
      .map { case (r, b) => col("r") === r && col("bit") === b }
      .reduce(_ || _)
    val p = FileIndex.bloomMatching(spark, root, pred)
      .queryExecution.executedPlan.toString()
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(bit,"),
      s"probe bits not pushed into the bloom-log scan:\n${p.take(1200)}")
  }

  test("copy-on-write erase rewrites only touched files; vacuum destroys the bytes") {
    val root = isolatedRoot()
    val l = FileIndex.layoutOf(spark, root)
    val pairsBefore = FileIndex.livePairs(spark, root).toSet
    val touched = FileIndex.pointSurvivors(spark, root, l.probe)
      .select(col("inc_id"), col("zbucket")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(touched.nonEmpty && touched.size < pairsBefore.size,
      "probe erase would rewrite everything — pruning is not selective")
    val seqBefore = FileIndex.currentSeq(spark, root)

    assert(FileIndex.erase(spark, root, l.probe, "erase-1"))
    // ledger: replay is a no-op
    assert(!FileIndex.erase(spark, root, l.probe, "erase-1"))

    // untouched files keep their original generation — only the
    // touched pairs were retired
    val pairsAfter = FileIndex.livePairs(spark, root).toSet
    assert((pairsBefore -- touched).subsetOf(pairsAfter),
      "erase retired files it did not touch")
    assert(pairsAfter.forall(p =>
      p._1.startsWith("erase-1@") || !touched.contains(p)),
      "a touched file is still live under its old generation")

    // the user is gone from head reads; everyone else is intact
    val head = readBuckets(root, FileIndex.zone(spark, root))
    assert(head.filter(col("user_id") === l.probe).count() == 0,
      "erased user still readable at head")
    val expectOthers = Tables.events(spark, dir)
      .filter(col("user_id") =!= l.probe).count()
    assert(head.count() == expectOthers, "erase lost other users' rows")

    // privacy caveat: time travel BEFORE the erase still sees the
    // user — until vacuum destroys the dead bytes
    val past = readBuckets(root,
      FileIndex.zoneAt(spark, root, seqBefore))
    assert(past.filter(col("user_id") === l.probe).count() > 0,
      "pre-erase snapshot should still hold the user (before vacuum)")
    // retention horizon: a vacuum bounded BEFORE the erase's death
    // version reclaims nothing — the pre-erase snapshot survives
    assert(FileIndex
      .vacuumBefore(spark, root, seqBefore).isEmpty,
      "horizon vacuum reclaimed files still needed by retained snapshots")
    assert(readBuckets(root,
      FileIndex.zoneAt(spark, root, seqBefore))
      .filter(col("user_id") === l.probe).count() > 0,
      "horizon vacuum broke a retained snapshot")
    val reclaimed = FileIndex.vacuum(spark, root).toSet
    assert(reclaimed == touched, "vacuum reclaimed a different file set")
    for ((g, b) <- touched)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
        FileIndex.bucketDir(root, g, b))),
        s"dead file ($g, $b) still on disk after vacuum")
    // erase + vacuum = complete deletion; head reads still intact
    assert(readBuckets(root, FileIndex.zone(spark, root))
      .count() == expectOthers, "vacuum broke the post-erase head read")
  }

  test("copy-on-write update rewrites only touched files and only the key's rows") {
    val root = isolatedRoot()
    val l = FileIndex.layoutOf(spark, root)
    val pairsBefore = FileIndex.livePairs(spark, root).toSet
    val touched = FileIndex.pointSurvivors(spark, root, l.probe)
      .select(col("inc_id"), col("zbucket")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(FileIndex.updateUser(
      spark, root, l.probe, 9.99, "upd-1"))
    assert(!FileIndex.updateUser(
      spark, root, l.probe, 1.23, "upd-1"), "replayed update id re-ran")

    val pairsAfter = FileIndex.livePairs(spark, root).toSet
    assert((pairsBefore -- touched).subsetOf(pairsAfter),
      "update retired files it did not touch")
    val head = readBuckets(root, FileIndex.zone(spark, root))
    assert(head.filter(col("user_id") === l.probe &&
      col("value") =!= 9.99).count() == 0, "a probe row kept its old value")
    val othersTouched = head.filter(col("user_id") =!= l.probe &&
      col("value") === 9.99).count()
    val othersNative = Tables.events(spark, dir)
      .filter(col("user_id") =!= l.probe && col("value") === 9.99).count()
    assert(othersTouched == othersNative,
      "update changed another user's value")
    assert(head.count() == Tables.events(spark, dir).count(),
      "update changed the row count")
  }

  test("predicate delete/update rewrite only stat-candidate files") {
    val fis = FileIndex
    val root = isolatedRoot()
    val l = fis.layoutOf(spark, root)
    // the demo TIME box (ts stored in nanos; layout bounds in micros)
    // — at this SF every file spans most of the user range, so time
    // is the clustered dimension that actually prunes
    val boxPred = col("ts").between(l.tlo * 1000L, l.thi * 1000L + 999L)
    val pred = boxPred && col("value") > 0.5

    // the skipping translation prunes (the time box covers ~1/8 of
    // the range) and handles a pushed-down Not via De Morgan:
    // !(value <= 0.5) must produce the same candidate set as > 0.5
    val pairsBefore = fis.livePairs(spark, root).toSet
    val cand = fis.skipCandidates(spark, root, pred).toSet
    assert(cand.nonEmpty && cand.size < pairsBefore.size,
      s"value+time skipping not selective: ${cand.size}/${pairsBefore.size}")
    assert(fis.skipCandidates(spark, root,
      !(col("value") <= 0.5) && boxPred).toSet == cand,
      "De Morgan'd Not translated differently from its direct form")
    // a type conjunct narrows through the type-domain log, never widens
    assert(fis.skipCandidates(spark, root,
      pred && col("event_type") === "click").toSet.subsetOf(cand))

    // DELETE WHERE: only candidate files may rewrite; the surviving
    // rows are exactly the predicate's complement (conservativeness
    // anchor — a skipped file holding a match would leave deleted
    // rows alive and fail the count)
    assert(fis.deleteWhere(spark, root, pred, "delw-1"))
    assert(!fis.deleteWhere(spark, root, pred, "delw-1"),
      "replayed delete id re-ran")
    val pairsAfter = fis.livePairs(spark, root).toSet
    assert((pairsBefore -- cand).subsetOf(pairsAfter),
      "delete rewrote a file outside the skipping candidates")
    val ev = Tables.events(spark, dir)
    val head = readBuckets(root, fis.zone(spark, root))
    assert(head.count() == ev.filter(!(boxPred && col("value") > 0.5)).count(),
      "predicate delete kept/killed the wrong rows")
    assert(head.filter(boxPred && col("value") > 0.5).count() == 0)

    // a predicate no row satisfies: ledger-only commit, zero churn
    val quiet = fis.livePairs(spark, root).toSet
    assert(fis.deleteWhere(spark, root, col("value") > 1e9, "delw-none"))
    assert(fis.livePairs(spark, root).toSet == quiet,
      "no-match delete still rewrote files")

    // UPDATE WHERE on a fresh root: matching rows map through the
    // assignment, everything else republishes verbatim, counts hold
    val root2 = isolatedRoot()
    val upred = col("user_id").between(l.ulo, l.uhi) &&
      col("event_type") === "click"
    assert(fis.updateWhere(spark, root2, upred,
      Map("value" -> lit(9.99)), "updw-1"))
    assert(!fis.updateWhere(spark, root2, upred,
      Map("value" -> lit(1.23)), "updw-1"), "replayed update id re-ran")
    val head2 = readBuckets(root2, fis.zone(spark, root2))
    assert(head2.count() == ev.count(), "predicate update changed row count")
    assert(head2.filter(upred && col("value") =!= 9.99).count() == 0,
      "a matching row kept its old value")
    val expectCents = ev
      .withColumn("v2", when(upred, lit(9.99)).otherwise(col("value")))
      .agg(sum(round(col("v2") * 100).cast("long"))).head().getLong(0)
    assert(head2.agg(sum(round(col("value") * 100).cast("long")))
      .head().getLong(0) == expectCents,
      "non-matching rows did not republish verbatim")
  }

  test("positional predicate delete moves no bytes; compaction folds it") {
    val fis = FileIndex
    val root = isolatedRoot()
    val l = fis.layoutOf(spark, root)
    val pred = col("ts").between(l.tlo * 1000L, l.thi * 1000L + 999L) &&
      col("value") > 0.5
    val ev = Tables.events(spark, dir)
    val keep = ev.filter(!(col("ts").between(l.tlo * 1000L,
      l.thi * 1000L + 999L) && col("value") > 0.5)).count()
    val kill = ev.count() - keep

    def dataFiles(): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val out = scala.collection.mutable.Set.empty[(String, Long)]
      val rootP = java.nio.file.Paths.get(root)
      val stream = java.nio.file.Files.walk(rootP)
      try stream.iterator().asScala.foreach { f =>
        val rel = rootP.relativize(f).toString
        if (rel.startsWith("data_") && rel.endsWith(".parquet"))
          out += ((rel, java.nio.file.Files.size(f)))
      } finally stream.close()
      out.toSet
    }
    val bytesBefore = dataFiles()
    val seqBefore = fis.currentSeq(spark, root)

    assert(fis.deleteWhereDv(spark, root, pred, "dvdel-1"))
    assert(!fis.deleteWhereDv(spark, root, pred, "dvdel-1"),
      "replayed positional delete re-ran")
    assert(dataFiles() == bytesBefore,
      "a merge-on-read positional delete moved data bytes")
    // head read: exactly the complement survives
    val head = readBuckets(root, fis.zone(spark, root))
    assert(head.count() == ev.count(), "raw buckets changed") // raw read
    val applied = fis.readPairs(spark, root, fis.livePairs(spark, root))
    assert(applied.count() == keep,
      "positional anti-join kept/killed the wrong rows")
    assert(applied.filter(pred).count() == 0)
    // metadata stats split the DV-touched files and stay exact
    assert(fis.metaStats(spark, root).head().getLong(0) == keep,
      "metaStats stale under positional vectors")
    // CDC emits exactly the deleted rows as deletes
    val cdc = fis.changeDataFeed(spark, root, seqBefore,
      fis.currentSeq(spark, root))
    assert(cdc.filter(col("_change_type") === "delete").count() == kill,
      "positional delete CDC leg wrong")
    assert(cdc.filter(col("_change_type") =!= "delete").count() == 0)

    // compaction folds the positions; answer unchanged, audit exact
    assert(fis.compact(spark, root).isDefined)
    assert(fis.dvPos(spark, root).count() == 0,
      "live positional vectors survive the fold")
    assert(fis.readPairs(spark, root, fis.livePairs(spark, root))
      .count() == keep, "compaction changed the logical table")
    val audit = fis.auditMaint(spark, root)
    assert(audit.nonEmpty && audit.forall(_._6),
      s"a position-folding compaction audits dirty: $audit")
    // vacuum destroys the retired copies and folds the pos log
    fis.vacuum(spark, root)
    assert(fis.readPairs(spark, root, fis.livePairs(spark, root))
      .count() == keep, "vacuum broke the folded table")
  }

  test("absorb is ledger-guarded, replay-idempotent, and corpus-blind") {
    val root = ScanPruning.buildRoot(spark, dir)
    val inc = ScanPruning.incrementEvents(spark, dir).localCheckpoint(true)

    // corpus-blind: absorbing must succeed with the corpus DATA gone
    // (it reads only the persisted bounds + ledger and the increment)
    val corpusData = java.nio.file.Paths.get(root, "data_corpus")
    val hidden = java.nio.file.Paths.get(root, "data_corpus_hidden")
    java.nio.file.Files.move(corpusData, hidden)
    try assert(FileIndex.absorb(spark, root, inc, "inc-1"),
      "first absorb should land")
    finally java.nio.file.Files.move(hidden, corpusData)

    def zoneMap(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    def bloomSet(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    val zone0 = zoneMap(FileIndex.zone(spark, root))
    val bloom0 = bloomSet(FileIndex.bloom(spark, root))
    assert(zone0.keys.exists(_._1 == "inc-1"))

    // ledger: a replayed absorb is a no-op
    assert(!FileIndex.absorb(spark, root, inc, "inc-1"))
    assert(zoneMap(FileIndex.zone(spark, root)) == zone0)

    // crash window: the retry that raced the ledger read and DOUBLE-
    // appended the same inc_id's index rows — merge-on-read still
    // yields the same index
    val rawZone = spark.read.parquet(
      FileIndex.zonePath(root))
      .filter(col("inc_id") === "inc-1")
    graft.storage.AstarteStore.appendAtomic(rawZone,
      FileIndex.zonePath(root))
    val rawBloom = spark.read.parquet(
      FileIndex.bloomPath(root))
      .filter(col("inc_id") === "inc-1")
    graft.storage.AstarteStore.appendAtomic(rawBloom,
      FileIndex.bloomPath(root))
    assert(zoneMap(FileIndex.zone(spark, root)) == zone0,
      "double-appended zone rows changed the merged index")
    assert(bloomSet(FileIndex.bloom(spark, root)) == bloom0,
      "double-appended bloom rows changed the merged bit set")
  }

  test("layout migration re-clusters atomically; later absorbs follow the new layout") {
    import spark.implicits._
    // skewed users so the range re-bucketing has something to balance
    val synth = (0 until 8192).map { i =>
      val r = ((i * 2654435761L >>> 8) % 1000000L).toDouble / 1000000.0
      val u = (r * r * r * 1024).toLong
      (i.toLong, (i.toLong % 3000) * 1000000000L, u, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth,
      forcedPbits = Some(3))
    assert(FileIndex.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 10000L), "inc-1"))
    assert(FileIndex.layoutOf(spark, root).curve == "z")

    def allIds(): Set[Long] = FileIndex
      .readPairs(spark, root, FileIndex
        .livePairs(spark, root))
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    val before = allIds()

    assert(FileIndex.migrate(spark, root, "hilbert",
      rangeBucketed = true, "migrate-1"))
    assert(!FileIndex.migrate(spark, root, "hilbert",
      rangeBucketed = true, "migrate-1"), "replayed migration re-ran")

    // the new layout is active and persisted; the old generations are
    // gone from the live set; not a row moved logically
    val l = FileIndex.layoutOf(spark, root)
    assert(l.curve == "hilbert" && l.splits.nonEmpty)
    val liveGens = FileIndex
      .livePairs(spark, root).map(_._1).distinct
    assert(liveGens.forall(_.startsWith("migrate-1@")) &&
      liveGens.size == 1,
      s"migration left old generations live: $liveGens")
    assert(allIds() == before, "migration changed the logical table")

    // range bucketing balanced the skew the prefix layout could not
    val rows = FileIndex.zone(spark, root)
      .select(col("n")).collect().map(_.getLong(0))
    assert(rows.max <= 2L * (16384L / rows.length),
      s"migrated buckets unbalanced: ${rows.sorted.reverse.take(4).toSeq}")

    // a post-migration absorb clusters under the NEW layout (its keys
    // route through the persisted split points) and reads compose
    assert(FileIndex.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 20000L), "inc-2"))
    assert(allIds() == before ++ (0L until 8192L).map(_ + 20000L),
      "post-migration absorb diverged")
  }

  test("metadata stats open no data files; DV-touched files re-read exactly") {
    import spark.implicits._
    val synth = (0 until 2000).map { i =>
      val u = (i % 40).toLong
      (i.toLong, (i.toLong + 5) * 1000000000L, u, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    assert(FileIndex.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 10000L), "inc-1"))

    def statsOf(): (Long, Long, Long, Long, Long) = {
      val r = FileIndex.metaStats(spark, root).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }

    // vector-free: the stats frame scans ONLY index state — the
    // metadata-only-query property, pinned on the physical read set
    val clean = FileIndex.metaStats(spark, root)
    assert(clean.inputFiles.nonEmpty &&
      clean.inputFiles.forall(!_.contains("/data_")),
      "a metadata-only read opened a data file")
    assert(statsOf() == (4000L, 0L, 39L, 5000000L, 2004000000L))

    // merge-on-read erase of the MIN user: the zone stats are now
    // stale on both count and u_lo — the split fold must re-read the
    // touched files (and only those) and still be exact
    assert(FileIndex.eraseDv(spark, root, 0L, "dve-1"))
    val touchedDirs = FileIndex.dv(spark, root)
      .select(col("inc_id"), col("zbucket")).distinct().collect()
      .map(r => FileIndex.bucketDir(root,
        r.getString(0), r.getInt(1)))
    val after = FileIndex.metaStats(spark, root)
    // inputFiles are file: URIs; bucketDir is a bare path
    val dataRead = after.inputFiles.filter(_.contains("/data_"))
      .map(_.replaceFirst("^file:/+", "/"))
    assert(dataRead.nonEmpty, "the DV-aware fold must re-read touched files")
    assert(dataRead.forall(f => touchedDirs.exists(f.startsWith)),
      "the DV-aware fold read beyond the touched files")
    // exact vs recompute: user 0 gone, so u_lo moves to 1 and the
    // min ts moves past user 0's first rows
    val want = synth.unionByName(
        synth.withColumn("event_id", col("event_id") + 10000L))
      .filter(col("user_id") =!= 0L)
      .agg(count(lit(1)), min(col("user_id")), max(col("user_id")),
        min(expr("ts div 1000")), max(expr("ts div 1000"))).head()
    assert(statsOf() == (want.getLong(0), want.getLong(1), want.getLong(2),
      want.getLong(3), want.getLong(4)),
      "DV-aware metadata stats disagree with the exact recompute")
  }

  test("append change feed: exactly-once across restarts; rewrites never re-emit") {
    import spark.implicits._
    def mk(base: Long, n: Int) = (0 until n).map { i =>
      val u = (i % 40).toLong
      (base + i, (base + i) * 1000000000L, u, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val corpus = mk(0L, 1500)
    val root = FileIndex.buildRootFrom(spark, corpus)
    val cursorFile = java.nio.file.Paths.get(root, "feed_cursor")
    def loadCursor(): Long =
      if (java.nio.file.Files.exists(cursorFile))
        new String(java.nio.file.Files.readAllBytes(cursorFile), "UTF-8").toLong
      else -1L
    def poll(): Set[Long] = {
      // rows + next cursor come from ONE manifest snapshot, so a
      // commit racing in mid-poll lands in the next poll, never lost
      val (head, rows) =
        FileIndex.changeFeedState(spark, root, loadCursor())
      val ids = rows.select(col("event_id")).collect()
        .map(_.getLong(0)).toSet
      java.nio.file.Files.write(cursorFile, head.toString.getBytes("UTF-8"))
      ids
    }

    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val first = poll()
    assert(first == (0L until 1500L).toSet, "feed missed corpus rows")
    seen ++= first

    assert(FileIndex.absorb(spark, root, mk(10000L, 700),
      "inc-a"))
    val second = poll()
    assert(second == (10000L until 10700L).toSet)
    seen ++= second

    // maintenance between polls: an absorb then a COW erase — the
    // erase REWRITES every file that may hold the user (here: all of
    // them, every synthetic file holds every user), the most
    // aggressive rewrite commit there is. Only the absorb's rows may
    // emit — and they emit from the absorb's own (now-dead, not yet
    // vacuumed) generation, as appended
    assert(FileIndex.absorb(spark, root, mk(20000L, 700),
      "inc-b"))
    assert(FileIndex.erase(spark, root, 7L, "erase-1"))
    val third = poll()
    assert(third == (20000L until 20700L).toSet,
      "a rewrite commit leaked rows into the append feed")
    seen ++= third

    // restart: the cursor reloads from disk (poll() already re-reads
    // it each time — this poll IS the restarted consumer), a replayed
    // absorb is ledger-blocked, and an empty poll emits nothing
    assert(!FileIndex.absorb(spark, root, mk(20000L, 700),
      "inc-b"), "replayed absorb landed twice")
    assert(poll().isEmpty, "an empty poll emitted rows")
    // an absorb and a compaction land in the same window: the
    // compaction re-publishes EVERYTHING (erase survivors + inc-c),
    // yet only inc-c's rows emit
    assert(FileIndex.absorb(spark, root, mk(30000L, 300),
      "inc-c"))
    assert(FileIndex.compact(spark, root).isDefined)
    val fourth = poll()
    assert(fourth == (30000L until 30300L).toSet,
      "the compaction rewrite leaked rows into the append feed")
    seen ++= fourth

    assert(seen.size == seen.toSet.size, "a row was emitted twice")
    assert(seen.toSet ==
      (0L until 1500L).toSet ++ (10000L until 10700L) ++
        (20000L until 20700L) ++ (30000L until 30300L),
      "the feed union is not exactly the appended rows")
  }

  test("per-file value stats skip >half the files on value-clustered data; exact under DVs") {
    import spark.implicits._
    // value rides the clustered user dimension, so z-clustering
    // localizes value ranges per file — the regime where the column
    // stats bind (on uncorrelated data they prune nothing and the
    // conservative read degrades to a scan, never to a wrong answer)
    val synth = (0 until 8192).map { i =>
      val u = (i % 1024).toLong
      (i.toLong, u * 1000000000L, u, "view", u / 10.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)

    val liveN = FileIndex.livePairs(spark, root).size
    val thr = 90.0 // only users ≥ 901 qualify — the top Morton corner
    val kept = FileIndex.zone(spark, root)
      .filter(col("v_hi") > thr)
    assert(kept.count() * 2 < liveN,
      s"value prune kept ${kept.count()}/$liveN files — no skipping")

    // conservative: pruned read + residual ≡ the full filter
    val pruned = readBuckets(root, kept)
      .filter(col("value") > thr).count()
    assert(pruned == synth.filter(col("value") > thr).count())

    // exact under deletion vectors: a MoR-erased user's rows vanish
    // from the value-pruned read without any stat rewrite (pruning
    // is monotone under row removal, so the stale v_hi only keeps a
    // file it could have skipped, never skips one it must read)
    assert(FileIndex.eraseDv(spark, root, 1000L, "dve-v"))
    val keptPairs = FileIndex.zone(spark, root)
      .filter(col("v_hi") > thr)
      .select(col("inc_id"), col("zbucket")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    val prunedDv = FileIndex.readPairs(spark, root, keptPairs)
      .filter(col("value") > thr).count()
    assert(prunedDv == synth.filter(col("value") > thr &&
      col("user_id") =!= 1000L).count(),
      "value-pruned read under deletion vectors diverged")
  }

  test("evolved reads use the persisted merged schema; the feed carries evolved columns") {
    import spark.implicits._
    def mk(base: Long, n: Int) = (0 until n).map { i =>
      ((base + i).toLong, (base + i) * 1000000000L, (i % 40).toLong,
        "view", (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, mk(0L, 800))
    assert(FileIndex.absorb(spark, root,
      mk(10000L, 400).withColumn("score", pmod(col("event_id"), lit(7L))),
      "inc-ev"))

    // the persisted union schema serves the multi-generation read:
    // canonical columns first, the evolved extra after, all nullable —
    // and the read plans from it (schema equality), so no footer merge
    val pairs = FileIndex.livePairs(spark, root)
    val merged = FileIndex
      .mergedSchemaFor(spark, root, pairs.map(_._1))
    assert(merged.isDefined, "generations missing from the schema log")
    assert(merged.get.fieldNames.toSeq == Seq("event_id", "ts", "user_id",
      "event_type", "value", "props", "score"))
    assert(merged.get.fields.forall(_.nullable))
    val read = FileIndex.readPairs(spark, root, pairs)
    assert(read.schema == merged.get,
      "the evolved read did not plan from the persisted schema")
    // old generation null-fills, new one carries values
    assert(read.filter(col("score").isNull).count() == 800L)
    assert(read.filter(col("score").isNotNull).count() == 400L)

    // the change feed must carry the evolved column too (a CDC
    // consumer would otherwise silently lose it)
    val feed = FileIndex.changeFeed(spark, root, 0L)
    assert(feed.columns.contains("score"),
      "the change feed dropped an evolved column")
    assert(feed.count() == 400L &&
      feed.filter(col("score") === pmod(col("event_id"), lit(7L)))
        .count() == 400L)
  }

  test("metadata stats answer n=0 on a fully-erased table; empty-table migrate is safe") {
    import spark.implicits._
    val synth = (0 until 200).map { i =>
      (i.toLong, i.toLong * 1000000000L, 5L, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    // one user everywhere: the COW erase rewrites everything away
    assert(FileIndex.erase(spark, root, 5L, "erase-all"))
    assert(FileIndex.livePairs(spark, root).isEmpty)
    val st = FileIndex.metaStats(spark, root).head()
    assert(st.getLong(0) == 0L, "empty-table count was not 0")
    assert(st.isNullAt(1) && st.isNullAt(3), "empty-table bounds not null")

    // migrating the empty table neither crashes nor invents files; it
    // publishes the new curve for future absorbs
    assert(FileIndex.migrate(spark, root, "hilbert",
      rangeBucketed = true, "mig-empty"))
    assert(FileIndex.livePairs(spark, root).isEmpty)
    assert(FileIndex.layoutOf(spark, root).curve
      == "hilbert")
    assert(FileIndex.absorb(spark, root, synth, "inc-back"))
    assert(FileIndex
      .metaStats(spark, root).head().getLong(0) == 200L)
  }

  test("head reads stay O(checkpoint window) as the commit log grows") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val synth = (0 until 100).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 7).toLong, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    def headReadSet(): Int = {
      // the files a head read parses: the newest checkpoint plus the
      // commit suffix past it — computed from the manifest listing,
      // the same inputs headState uses
      val dir = java.nio.file.Paths.get(root, "index_manifest")
      val stream = java.nio.file.Files.list(dir)
      val names =
        try stream.iterator().asScala.map(_.getFileName.toString).toVector
        finally stream.close()
      val ckpt = names.filter(_.startsWith("ckpt-"))
        .map(_.stripPrefix("ckpt-").stripSuffix(".tsv").toLong)
        .maxOption
      ckpt.fold(names.count(_.startsWith("v"))) { c =>
        1 + names.filter(_.startsWith("v"))
          .count(_.stripPrefix("v").stripSuffix(".tsv").toLong > c)
      }
    }
    (1 to 8).foreach(i =>
      assert(FileIndex.commitNext(root, s"n-$i", Nil, Nil)))
    val at8 = headReadSet()
    (9 to 100).foreach(i =>
      assert(FileIndex.commitNext(root, s"n-$i", Nil, Nil)))
    val at100 = headReadSet()
    // the count cycles with the checkpoint phase (1..CkptEvery+1) but
    // NEVER grows with the log's length — the O(CkptEvery) bound
    assert(at8 <= 9 && at100 <= 9,
      s"head-read file count grew with the log: $at8 -> $at100")
    // and the head state is still correct after 100 commits
    assert(FileIndex.livePairs(spark, root).nonEmpty)
    assert(FileIndex
      .absorbedIds(spark, root).count(_.startsWith("n-")) == 100)
  }

  test("change-data feed: an update emits delete+insert; erase deletes; compaction nothing") {
    import spark.implicits._
    // users are CONTIGUOUS runs so the keyed update rewrites only the
    // files that hold user 3 — the other generations stay live and
    // the subsequent compaction has ≥2 generations to fold
    val synth = (0 until 400).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i / 50).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    assert(FileIndex.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 1000L), "inc-1"))
    val v1 = FileIndex.currentSeq(spark, root)
    assert(FileIndex.updateUser(spark, root, 3L, 9.99,
      "upd-1"))
    val v2 = FileIndex.currentSeq(spark, root)
    assert(FileIndex.compact(spark, root).isDefined)
    val v3 = FileIndex.currentSeq(spark, root)

    def cdf(from: Long, to: Long) = FileIndex
      .changeDataFeed(spark, root, from, to)
      .groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the update version: every row of user 3 deleted at its old
    // value and re-inserted at the new one
    val n3 = 400L / 8L * 2L
    assert(cdf(v1, v2) == Map("delete" -> n3, "insert" -> n3))
    // the compaction version emits nothing
    assert(cdf(v2, v3).isEmpty)
    // and the update's inserts really carry the new value
    val upd = FileIndex.changeDataFeed(spark, root, v1, v2)
    assert(upd.filter(col("_change_type") === "insert" &&
      col("value") =!= 9.99).count() == 0L)
  }

  test("vacuum folds the deletion-vector log; over-cap erases stay distributed") {
    import spark.implicits._
    val synth = (0 until 2000).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 40).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    assert(FileIndex.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 10000L), "inc-1"))
    def dvRaw() = spark.read.parquet(
      FileIndex.dvPath(root))
    def liveIds() = FileIndex
      .readPairs(spark, root, FileIndex
        .livePairs(spark, root))
      .select(col("event_id"), col("user_id")).collect()

    // dve-1 targets the original files; compaction folds it (the
    // vectors then point at DEAD files); dve-2 then targets the
    // freshly compacted LIVE files
    assert(FileIndex.eraseDv(spark, root, 7L, "dve-1"))
    assert(FileIndex.compact(spark, root).isDefined)
    assert(dvRaw().filter(col("erase_id") === "dve-1").count() > 0,
      "pre-vacuum dv log should still hold the folded vectors")
    assert(FileIndex.eraseDv(spark, root, 11L, "dve-2"))

    // the honest DV-folding compaction passes the maint audit while
    // its evidence is still in the dv log (pub < ret, explained by
    // the vectors that targeted its inputs); after the vacuum below
    // the commit falls under the horizon and is skipped by design
    val audit = FileIndex.auditMaint(spark, root)
    assert(audit.nonEmpty && audit.forall(_._6),
      s"honest maintenance flagged: $audit")

    // vacuum destroys the retired files AND folds the dv log: dve-1's
    // vectors (targets destroyed, unreadable below the horizon) drop;
    // dve-2's (targets live) survive
    assert(FileIndex.vacuum(spark, root).nonEmpty)
    val left = dvRaw().select(col("erase_id")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(left == Set("dve-2"),
      s"dv log should fold to live vectors only, held $left")
    val ids = liveIds()
    assert(ids.forall(r => r.getLong(1) != 7L && r.getLong(1) != 11L),
      "an erased user resurfaced after the dv fold")
    assert(ids.length == 2 * synth.filter(
      col("user_id") =!= 7L && col("user_id") =!= 11L).count().toInt)
    assert(FileIndex.auditMaint(spark, root).isEmpty,
      "pre-horizon maint commits should be skipped, not misjudged")

    // a forced over-threshold erase keeps the DISTRIBUTED anti-join
    // and still answers exactly (never unbounded driver memory)
    System.setProperty("graft.dv.collectCap", "1")
    try {
      val root2 = FileIndex.buildRootFrom(spark, synth)
      assert(FileIndex.eraseDv(spark, root2, 3L, "dve-a"))
      assert(FileIndex.eraseDv(spark, root2, 5L, "dve-b"))
      val got = FileIndex
        .readPairs(spark, root2, FileIndex
          .livePairs(spark, root2))
        .select(col("event_id"), col("user_id")).collect()
      assert(got.forall(r => r.getLong(1) != 3L && r.getLong(1) != 5L))
      assert(got.length == synth.filter(
        col("user_id") =!= 3L && col("user_id") =!= 5L).count().toInt)
      val n = FileIndex.metaStats(spark, root2)
        .head().getLong(0)
      assert(n == got.length.toLong,
        "metadata stats diverged on the over-cap dv path")
    } finally System.clearProperty("graft.dv.collectCap")

    // the per-root memos stay LRU-bounded however many roots a
    // process cycles (BoundedMemoSpec pins the eviction itself)
    assert(FileIndex.memoSizes.values.forall(_ <= 64))
  }

  test("the maint audit flags a lying row-preserving declaration") {
    import spark.implicits._
    val synth = (0 until 800).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 40).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, synth)
    assert(FileIndex.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 10000L), "inc-1"))
    // an honest row-preserving rewrite audits clean
    assert(FileIndex.compact(spark, root).isDefined)
    assert(FileIndex.auditMaint(spark, root).forall(_._6))

    // the lie: a rewrite that DROPS user 3's rows but declares itself
    // row-preserving — CDC would skip it unread, silently losing the
    // deletes; the audit recomputes the claim from logged counts only
    val pairs = FileIndex.livePairs(spark, root)
    val sneaky = FileIndex
      .readPairs(spark, root, pairs)
      .filter(col("user_id") =!= 3L)
      .select(Seq("event_id", "ts", "user_id", "event_type", "value",
        "props").map(col): _*)
    val buckets = FileIndex.writeAndIndex(
      spark, root, sneaky, "lie-1",
      FileIndex.layoutOf(spark, root))
    assert(FileIndex.commitNext(
      root, "lie-1", buckets, pairs, "maint"))
    val audit = FileIndex.auditMaint(spark, root)
    val lie = audit.find(_._2 == "lie-1")
    assert(lie.exists(!_._6),
      s"the lying maint commit went undetected: $audit")
    assert(audit.filter(_._2 != "lie-1").forall(_._6),
      "the audit flagged an honest commit")
  }

  test("the maint audit equates under DV folds: an extra dropped row is flagged") {
    import spark.implicits._
    val fis = FileIndex
    val synth = (0 until 800).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 40).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // the HONEST DV-folding compaction: its commit logs the folded-
    // row census and the audit EQUATES pub == ret − folded
    val root = fis.buildRootFrom(spark, synth)
    assert(fis.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 10000L), "inc-1"))
    assert(fis.eraseDv(spark, root, 7L, "dve-1"))
    assert(fis.compact(spark, root).isDefined)
    val honest = fis.auditMaint(spark, root)
    val u7 = 2 * synth.filter(col("user_id") === 7L).count()
    assert(honest.exists(a => a._5 == u7 && a._6),
      s"honest DV-folding compaction misjudged (expected folded=$u7): $honest")

    // the LIE the old one-sided bound could never catch: a rewrite
    // that folds the vectors AND drops one extra user, declaring its
    // honest fold count — pub < ret held before, so it passed; now
    // pub ≠ ret − folded flags it
    val root2 = fis.buildRootFrom(spark, synth)
    assert(fis.eraseDv(spark, root2, 7L, "dve-1"))
    val pairs2 = fis.livePairs(spark, root2)
    val folded = synth.filter(col("user_id") === 7L).count()
    val sneaky = fis.readPairs(spark, root2, pairs2) // drops user 7 (dv)
      .filter(col("user_id") =!= 3L)                 // ...and sneaks out 3
      .select(Seq("event_id", "ts", "user_id", "event_type", "value",
        "props").map(col): _*)
    val buckets = fis.writeAndIndex(spark, root2, sneaky, "lie-dv",
      fis.layoutOf(spark, root2))
    assert(fis.commitNext(root2, "lie-dv", buckets, pairs2, "maint", folded))
    val audit2 = fis.auditMaint(spark, root2)
    assert(audit2.find(_._2 == "lie-dv").exists(!_._6),
      s"a DV-folding rewrite that dropped extra rows went undetected: $audit2")
  }

  test("time travel below the vacuum horizon raises the typed retention error") {
    import spark.implicits._
    val fis = FileIndex
    val synth = (0 until 600).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 40).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = fis.buildRootFrom(spark, synth) // seq 0
    assert(fis.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 10000L), "inc-a")) // 1
    // the CoW erase retires every original file (user 7 is in all of
    // them) — seq 2; later growth — seq 3
    assert(fis.erase(spark, root, 7L, "erase-1"))
    assert(fis.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 20000L), "inc-b")) // 3

    // snapshots at and above the soon-to-be horizon, captured BEFORE
    // the vacuum — they must stay byte-identical after it
    val at2 = fis.livePairsAt(spark, root, 2L)
    val ids2 = fis.readPairs(spark, root, at2)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet

    assert(fis.vacuumBefore(spark, root, 2L).nonEmpty)

    // a pre-horizon snapshot read gets the TYPED contract error
    // naming the horizon — never a missing-file crash mid-scan
    val e = intercept[fis.OutOfRetentionException] {
      fis.livePairsAt(spark, root, 1L)
    }
    assert(e.fromSeq == 1L && e.horizonSeq == 2L)
    assert(e.getMessage.contains("horizon 2"))
    intercept[fis.OutOfRetentionException] {
      fis.zoneAt(spark, root, 0L)
    }

    // reads AT and ABOVE the horizon still answer, byte-identical
    assert(fis.livePairsAt(spark, root, 2L) == at2)
    assert(fis.readPairs(spark, root, fis.livePairsAt(spark, root, 2L))
      .select(col("event_id")).collect().map(_.getLong(0)).toSet == ids2)
    assert(fis.zoneAt(spark, root, 3L).count() > 0)
  }

  test("cross-generation type evolution fails fast with the typed conflict error") {
    import spark.implicits._
    val fis = FileIndex
    def mk(base: Long, n: Int) = (0 until n).map { i =>
      ((base + i).toLong, (base + i) * 1000000000L, (i % 40).toLong,
        "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = fis.buildRootFrom(spark, mk(0L, 200))
    assert(fis.absorb(spark, root,
      mk(10000L, 100).withColumn("score", lit(1).cast("int")), "inc-int"))
    assert(fis.absorb(spark, root,
      mk(20000L, 100).withColumn("score", lit(2L)), "inc-long"))
    val e = intercept[fis.SchemaEvolutionConflict] {
      fis.readPairs(spark, root, fis.livePairs(spark, root))
    }
    assert(e.column == "score" &&
      Set(e.typeA, e.typeB) == Set("int", "bigint"),
      s"conflict misreported: ${e.getMessage}")
    // a read spanning only type-consistent generations still plans
    val onlyLong = fis.livePairs(spark, root)
      .filter(p => p._1 != "inc-int")
    assert(fis.readPairs(spark, root, onlyLong)
      .filter(col("score").isNotNull).count() == 100L)
  }

  test("a merge-on-read erase and a rewrite cannot race each other's files away") {
    import spark.implicits._
    val fis = FileIndex
    def mkSynth() = (0 until 600).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 40).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // direction 1: a compaction planned BEFORE an eraseDv lands must
    // not retire the files the new vectors target (dv() serves
    // vectors only against live files — committing would silently
    // resurrect the user). The ledger guard conflicts the commit.
    val root = fis.buildRootFrom(spark, mkSynth())
    assert(fis.absorb(spark, root,
      mkSynth().withColumn("event_id", col("event_id") + 10000L), "inc-1"))
    val planning = fis.currentSeq(spark, root)
    val pairs = fis.livePairs(spark, root)
    val union = fis.readPairs(spark, root, pairs)
      .select(Seq("event_id", "ts", "user_id", "event_type", "value",
        "props").map(col): _*)
    val buckets = fis.writeAndIndex(spark, root, union, "compact-race",
      fis.layoutOf(spark, root))
    assert(fis.eraseDv(spark, root, 7L, "dve-race")) // lands mid-rewrite
    intercept[fis.CommitConflict] {
      fis.commitNext(root, "compact-race", buckets, pairs, "maint", 0L,
        guardLedgerSince = planning)
    }
    // the next maintenance pass replans, folds the vector, commits
    assert(fis.compact(spark, root).isDefined)
    assert(fis.readPairs(spark, root, fis.livePairs(spark, root))
      .filter(col("user_id") === 7L).count() == 0L,
      "the erase was lost across the raced compaction")

    // direction 2: an eraseDv planned against files a compaction then
    // retires must conflict at commit (requireLive) instead of
    // publishing vectors born against dead files
    val root2 = fis.buildRootFrom(spark, mkSynth())
    assert(fis.absorb(spark, root2,
      mkSynth().withColumn("event_id", col("event_id") + 10000L), "inc-1"))
    val touched0 = fis.livePairs(spark, root2) // the erase's plan set
    assert(fis.compact(spark, root2).isDefined) // retires all of them
    intercept[fis.CommitConflict] {
      fis.commitNext(root2, "dve-stale", Nil, Nil,
        requireLive = touched0)
    }
    // the PUBLIC eraseDv retries internally and lands on fresh files
    assert(fis.eraseDv(spark, root2, 11L, "dve-fresh"))
    assert(fis.readPairs(spark, root2, fis.livePairs(spark, root2))
      .filter(col("user_id") === 11L).count() == 0L)
  }

  test("every per-root memo in main is LRU-registered and bounded") {
    // referencing the owning objects forces their memos to register
    // (object init); the registry then proves no per-root cache
    // anywhere in main can grow driver memory one entry per root
    // forever — a newly added NAMED memo joins the pin automatically
    FileIndex.retentionHorizon("/nonexistent")
    assert(Seq(ScanPruning, IncrementalDedup, IncrementalRetrieval,
      IncrementalAnn, IncrementalSketch, AstarteOpsQueries)
      .forall(_.oracle != null))
    locally {
      val _ = (IncrementalDedup.SignatureStore,
        IncrementalRetrieval.LexIndexStore, IncrementalAnn.AnnStore,
        IncrementalSketch.SketchStore, StoreFixtures)
    }
    val sizes = graft.core.BoundedMemo.sizes
    val expected = Set(
      "fx.schema", "fx.dvLive", "fx.roots", "fx.compactedRoots",
      "fx.erasedRoots", "fx.updatedRoots", "fx.dvRoots",
      "fx.dvCompactedRoots", "fx.cdfRoots", "fx.hilbertRoots",
      "fx.migratedRoots", "fx.evolvedRoots", "dedup.bandings",
      "dedup.sigRoots", "retrieval.lexRoots", "retrieval.bucketized",
      "ann.roots", "sketch.roots", "ops.fixtures")
    assert(expected.subsetOf(sizes.keySet),
      s"unregistered per-root memos: ${expected -- sizes.keySet}")
    assert(sizes.values.forall(_ <= 64), s"a memo exceeded its bound: $sizes")
  }

  /** A root over two generations of 400 synthetic rows (40 users)
    * with user 7 erased merge-on-read and then compacted, so dve-1's vectors target dead
    * files that the next vacuum destroys. */
  private def foldedDvRoot(): String = {
    val synth = synthEvents()
    val root = FileIndex.buildRootFrom(spark, synth)
    assert(FileIndex.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 10000L), "inc-1"))
    assert(FileIndex.eraseDv(spark, root, 7L, "dve-1"))
    assert(FileIndex.compact(spark, root).isDefined)
    root
  }

  /** 400 synthetic events of 40 users. */
  private def synthEvents(): DataFrame = {
    import spark.implicits._
    (0 until 400).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 40).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private def userIds(root: String): Set[Long] =
    FileIndex.readPairs(spark, root, FileIndex.livePairs(spark, root))
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet

  private def dvFiles(root: String): Set[String] = {
    val d = new java.io.File(FileIndex.dvPath(root))
    Option(d.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".parquet")).toSet
  }

  /** Where vacuum persists the retention horizon. */
  private def horizonFile(root: String): java.nio.file.Path =
    java.nio.file.Paths.get(root, "retention-horizon.tsv")

  /** Every file under the dv and dv-position dirs, checksums and hidden
    * files included, with its bytes. */
  private def dvBytes(root: String): Map[String, Seq[Byte]] =
    Seq(FileIndex.dvPath(root), FileIndex.dvPosPath(root)).flatMap { d =>
      val dir = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(dir)) Nil
      else {
        val files = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Byte])]
        java.nio.file.Files.walk(dir).forEach { p =>
          if (java.nio.file.Files.isRegularFile(p))
            files += (p.toString -> java.nio.file.Files.readAllBytes(p).toSeq)
        }
        files
      }
    }.toMap

  test("a vacuum with nothing new to destroy returns empty and leaves the dv dirs as they were") {
    val root = foldedDvRoot()
    assert(FileIndex.eraseDv(spark, root, 11L, "dve-2"))
    val first = FileIndex.vacuum(spark, root)
    assert(first.nonEmpty)
    val horizon = FileIndex.retentionHorizon(root)
    val before = dvBytes(root)
    assert(before.nonEmpty, "dve-2's vectors target live files and stay")
    assert(FileIndex.vacuum(spark, root).isEmpty, "a second vacuum reclaimed again")
    assert(dvBytes(root) == before, "a second vacuum rewrote the dv log")
    assert(FileIndex.retentionHorizon(root) == horizon)
    // a later compaction retires more files: the next vacuum takes
    // exactly those
    assert(FileIndex.absorb(spark, root,
      synthEvents().withColumn("event_id", col("event_id") + 20000L)
        .filter(!col("user_id").isin(7L, 11L)), "inc-2"))
    assert(FileIndex.compact(spark, root).isDefined)
    val third = FileIndex.vacuum(spark, root)
    assert(third.nonEmpty && third.toSet.intersect(first.toSet).isEmpty)
    assert(!userIds(root)(7L) && !userIds(root)(11L))
  }

  test("a dv fold that crashed between move-in and retire") {
    val root = foldedDvRoot()
    assert(FileIndex.eraseDv(spark, root, 11L, "dve-2"))
    val dv = java.nio.file.Paths.get(FileIndex.dvPath(root))
    val snapshot = dvFiles(root)
    val saved = java.nio.file.Files.createTempDirectory("dv-snapshot")
    snapshot.foreach(n => java.nio.file.Files.copy(dv.resolve(n),
      saved.resolve(n)))
    assert(FileIndex.retentionHorizon(root) == -1L)
    assert(FileIndex.vacuum(spark, root).nonEmpty)
    val liveDv = FileIndex.dv(spark, root).collect().toSet
    val ids = userIds(root)
    assert(!ids(7L) && !ids(11L))

    // the crash: the folded replacement moved in, the snapshot files
    // never retired — copy them back beside it; the horizon, persisted
    // only after both folds, was never written
    snapshot.foreach(n => java.nio.file.Files.copy(saved.resolve(n),
      dv.resolve(n)))
    java.nio.file.Files.delete(horizonFile(root))
    assert(snapshot.subsetOf(dvFiles(root)))
    assert(FileIndex.dv(spark, root).collect().toSet == liveDv)
    assert(userIds(root) == ids)

    // the next vacuum folds the destroyed files' vectors out again and
    // retires every file it read: the snapshot names are gone, the log
    // holds each live vector once
    FileIndex.vacuum(spark, root)
    val raw = spark.read.parquet(dv.toString)
    assert(raw.select(col("erase_id")).distinct().collect()
      .map(_.getString(0)).toSet == Set("dve-2"))
    assert(raw.count() == raw.distinct().count())
    assert(dvFiles(root).intersect(snapshot).isEmpty)
    assert(FileIndex.dv(spark, root).collect().toSet == liveDv)
    assert(userIds(root) == ids)
  }

  test("a fold to empty leaves no dv dir") {
    val root = foldedDvRoot()
    assert(FileIndex.vacuum(spark, root).nonEmpty)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(FileIndex.dvPath(root))))
    assert(!FileIndex.hasDv(root))
    assert(FileIndex.dv(spark, root).count() == 0L)
    assert(!userIds(root)(7L), "the compacted erase resurfaced")

    // a fold that crashed between its last retirement and the prune
    // leaves the dir empty and the horizon unwritten: reads take the
    // dir for no log, and the next vacuum re-runs the fold, removing it
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(FileIndex.dvPath(root)))
    java.nio.file.Files.delete(horizonFile(root))
    assert(!FileIndex.hasDv(root))
    assert(FileIndex.dv(spark, root).count() == 0L)
    assert(!userIds(root)(7L), "the compacted erase resurfaced")
    FileIndex.vacuum(spark, root)
    assert(!FileIndex.hasDv(root))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(FileIndex.dvPath(root))))

    // a later erase recreates the log
    assert(FileIndex.eraseDv(spark, root, 9L, "dve-2"))
    assert(FileIndex.hasDv(root))
    assert(spark.read.parquet(FileIndex.dvPath(root))
      .select(col("erase_id")).distinct().collect()
      .map(_.getString(0)).toSet == Set("dve-2"))
    val ids = userIds(root)
    assert(!ids(7L) && !ids(9L))
  }

  test("a destroying vacuum clears stale index staging and keeps fresh") {
    val root = foldedDvRoot()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 2 * 60 * 60 * 1000L
    def staging(name: String): org.apache.hadoop.fs.Path = {
      val f = new org.apache.hadoop.fs.Path(
        s"$root/_graft_batch-$name/part-0.parquet")
      fs.create(f).close()
      f
    }
    val stale = staging("stale")
    fs.setTimes(stale, old, -1)
    fs.setTimes(stale.getParent, old, -1)
    val fresh = staging("fresh")
    assert(FileIndex.vacuum(spark, root).nonEmpty)
    assert(!fs.exists(stale.getParent), "stale index staging survived")
    assert(fs.exists(fresh), "a fresh staging dir was cleared")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .forall(!_.getPath.getName.endsWith(".maintenance.lock")))
  }
}
