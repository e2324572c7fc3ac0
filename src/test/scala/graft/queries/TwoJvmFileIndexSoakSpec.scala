package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.storage.FileIndex

/** True cross-PROCESS file-index soak: two forked child JVMs
  * ([[FileIndexSoakChild]]) and this (parent) JVM absorb disjoint
  * increments into ONE index root concurrently — NO lock anywhere:
  * each absorb writes its own generation directory, appends to the
  * shared zone/bloom logs through the store's stage-then-rename
  * protocol, and lands its manifest commit through the optimistic
  * create-exclusive version claim, so racing writers collide on the
  * version number and retry instead of corrupting each other. Pass =
  * every absorbed row readable through the index exactly once, every
  * generation live, per-generation zone census exact, and — new with
  * the optimistic protocol — every manifest version owned by exactly
  * one commit (the old read-max-then-publish boundary ambiguity is
  * structurally gone). The second case runs a COMPACTION loop in the
  * parent concurrently with the children's absorbs, still lock-free:
  * a gen absorbed mid-rewrite stays live after the swap, and a fold
  * whose inputs were retired under it aborts at commit time.
  */
class TwoJvmFileIndexSoakSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def launchChild(root: String, writer: String, nAbs: Int,
      rowsPer: Int, base: Long, logDir: String): Process = {
    graft.ChildJvm.launch("graft.queries.FileIndexSoakChild",
      Seq(root, writer, nAbs.toString, rowsPer.toString, base.toString),
      new java.io.File(s"$logDir/$writer.out"))
  }

  test("two child JVMs + the parent absorb concurrently; head reads are exact") {
    import spark.implicits._
    def synth(ids: Range) = ids.map { i =>
      (i.toLong, (i % 2000).toLong * 1000000000L, (i % 50).toLong,
        "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val logDir = Files.createTempDirectory("graft-fx2jvm").toString
    val root = FileIndex.buildRootFrom(
      spark, synth(0 until 500))
    val nAbs = 3; val rowsPer = 100

    // disjoint id ranges: corpus 0-499, w1 10000+, w2 20000+, parent 30000+
    val c1 = launchChild(root, "w1", nAbs, rowsPer, 10000L, logDir)
    val c2 = launchChild(root, "w2", nAbs, rowsPer, 20000L, logDir)
    for (b <- 1 to nAbs) {
      val off = 30000 + (b - 1) * rowsPer
      assert(FileIndex.absorb(spark, root,
        synth(off until off + rowsPer), s"w0-$b"))
    }
    assert(c1.waitFor() == 0, s"child w1 crashed — see $logDir/w1.out")
    assert(c2.waitFor() == 0, s"child w2 crashed — see $logDir/w2.out")

    // every generation live, ledger complete
    val gens = FileIndex.liveGens(spark, root).toSet
    val wantGens = Set("corpus") ++
      (for (w <- Seq("w0", "w1", "w2"); b <- 1 to nAbs) yield s"$w-$b")
    assert(gens == wantGens, s"live generations diverged: $gens")

    // exactly-once head read: every id present once, none invented
    val pairs = FileIndex.livePairs(spark, root)
    val all = spark.read.parquet(pairs.map { case (g, b) =>
      FileIndex.bucketDir(root, g, b)
    }: _*)
    val wantIds = (0 until 500).map(_.toLong) ++
      (for (base <- Seq(10000, 20000, 30000); k <- 0 until nAbs * rowsPer)
        yield (base + k).toLong)
    val gotIds = all.select(col("event_id")).collect().map(_.getLong(0))
    assert(gotIds.length == wantIds.size,
      s"row count ${gotIds.length} != ${wantIds.size}")
    assert(gotIds.toSet == wantIds.toSet, "id set diverged")
    assert(gotIds.length == gotIds.distinct.length, "a row was doubled")

    // the zone census agrees with the data, per generation
    val census = FileIndex.zone(spark, root)
      .groupBy(col("inc_id")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census("corpus") == 500L)
    for (g <- wantGens - "corpus") assert(census(g) == rowsPer.toLong, g)

    // optimistic versioning: 1 + 9 racing publishes landed as a
    // CONTIGUOUS run of create-exclusive commits, one gen per version
    val commits = FileIndex.readCommitsAfter(root, -1L)
    val seqs = commits.map(_.mseq).distinct.sorted
    assert(seqs == (0L to (3L * nAbs)).toVector,
      s"version numbers not contiguous/unique: $seqs")
    assert(commits.groupBy(_.mseq).forall(_._2.map(_.gen).distinct.size == 1),
      "two generations landed under one manifest version")

    // and the pruned point path still answers exactly
    val hits = spark.read.parquet(
      FileIndex.pointSurvivors(spark, root, 7L)
        .select(col("inc_id"), col("zbucket")).collect().map(r =>
          FileIndex.bucketDir(root, r.getString(0),
            r.getInt(1))).toIndexedSeq: _*)
      .filter(col("user_id") === 7L).count()
    assert(hits == all.filter(col("user_id") === 7L).count(),
      "pruned point read diverged from the full head read")
  }

  test("LOCK-FREE compaction races child-JVM absorbs; nothing lost or doubled") {
    import spark.implicits._
    def synth(ids: Range) = ids.map { i =>
      (i.toLong, (i % 2000).toLong * 1000000000L, (i % 50).toLong,
        "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val logDir = Files.createTempDirectory("graft-fx2jvmc").toString
    val root = FileIndex.buildRootFrom(
      spark, synth(0 until 500))
    val nAbs = 3; val rowsPer = 100

    val c1 = launchChild(root, "w1", nAbs, rowsPer, 10000L, logDir)
    val c2 = launchChild(root, "w2", nAbs, rowsPer, 20000L, logDir)
    // parent compacts in a loop WHILE the children absorb — no
    // ProcessLock: each fold reads the live set, rewrites it, and
    // commits optimistically; absorbs landing mid-rewrite are not in
    // the fold's input set and stay live after the swap
    var folds = 0
    while (c1.isAlive || c2.isAlive) {
      if (FileIndex.compact(spark, root).isDefined)
        folds += 1
      Thread.sleep(50)
    }
    assert(c1.waitFor() == 0, s"child w1 crashed — see $logDir/w1.out")
    assert(c2.waitFor() == 0, s"child w2 crashed — see $logDir/w2.out")
    // one terminal fold so the final state is itself post-compaction
    FileIndex.compact(spark, root)
    assert(folds >= 1, "compaction never overlapped the absorbs — " +
      "weak race coverage, raise nAbs")

    // exactly-once: every id present once, none invented, none doubled
    val pairs = FileIndex.livePairs(spark, root)
    val all = spark.read.parquet(pairs.map { case (g, b) =>
      FileIndex.bucketDir(root, g, b)
    }: _*)
    val wantIds = ((0 until 500).map(_.toLong) ++
      (for (base <- Seq(10000, 20000); k <- 0 until nAbs * rowsPer)
        yield (base + k).toLong)).toSet
    val gotIds = all.select(col("event_id")).collect().map(_.getLong(0))
    assert(gotIds.length == wantIds.size,
      s"row count ${gotIds.length} != ${wantIds.size}")
    assert(gotIds.toSet == wantIds, "id set diverged")
    assert(gotIds.length == gotIds.distinct.length, "a row was doubled")

    // every absorbed generation is in the ledger (live or folded away)
    val ledger = FileIndex.absorbedIds(spark, root)
    for (w <- Seq("w1", "w2"); b <- 1 to nAbs)
      assert(ledger.contains(s"$w-$b"), s"$w-$b missing from the ledger")

    // zone census over live files equals the data — the index
    // followed every fold
    val total = FileIndex.zone(spark, root)
      .agg(sum(col("n"))).head().getLong(0)
    assert(total == wantIds.size.toLong, s"zone census $total")
  }

  test("the append feed tails cross-process absorbs exactly once; vacuum trails the cursor") {
    import spark.implicits._
    def synth(ids: Range) = ids.map { i =>
      (i.toLong, (i % 2000).toLong * 1000000000L, (i % 50).toLong,
        "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val logDir = Files.createTempDirectory("graft-fx2jvmf").toString
    val root = FileIndex.buildRootFrom(
      spark, synth(0 until 500))
    val nAbs = 3; val rowsPer = 100

    // the parent TAILS the feed while two child JVMs absorb — the
    // cross-process visibility claims: a half-published generation
    // (data written, manifest commit pending) never leaks into a
    // poll, and the single-snapshot cursor never skips a commit that
    // landed mid-poll
    val c1 = launchChild(root, "w1", nAbs, rowsPer, 10000L, logDir)
    val c2 = launchChild(root, "w2", nAbs, rowsPer, 20000L, logDir)
    var cursor = -1L
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def poll(): Unit = {
      val (head, rows) =
        FileIndex.changeFeedState(spark, root, cursor)
      seen ++= rows.select(col("event_id")).collect().map(_.getLong(0))
      cursor = head
    }
    while (c1.isAlive || c2.isAlive) { poll(); Thread.sleep(50) }
    assert(c1.waitFor() == 0, s"child w1 crashed — see $logDir/w1.out")
    assert(c2.waitFor() == 0, s"child w2 crashed — see $logDir/w2.out")
    poll() // drain the tail

    val wantIds = ((0 until 500).map(_.toLong) ++
      (for (base <- Seq(10000, 20000); k <- 0 until nAbs * rowsPer)
        yield (base + k).toLong)).toSet
    assert(seen.size == seen.toSet.size,
      "the cross-process feed emitted a row twice")
    assert(seen.toSet == wantIds,
      s"feed union diverged (missing ${(wantIds -- seen).size}, " +
        s"extra ${(seen.toSet -- wantIds).size})")

    // a compaction AFTER the drain re-publishes everything — the
    // feed must emit nothing for it...
    assert(FileIndex.compact(spark, root).isDefined)
    poll()
    assert(seen.size == wantIds.size,
      "the compaction rewrite leaked rows into the feed")
    // ...and once the cursor is past the appends, vacuum may destroy
    // the retired generations without breaking the consumer — the
    // retention contract: vacuum must trail the slowest cursor
    FileIndex.vacuum(spark, root)
    poll()
    assert(seen.size == wantIds.size, "post-vacuum poll emitted rows")
  }
}
