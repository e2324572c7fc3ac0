package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.ScanPruning
import graft.storage.FileIndex

/** The streaming tail of the append change feed: every appended row
  * is delivered exactly once across micro-batches, a REPLAYED batch
  * id re-reads its recorded range byte-identically (the crash-between-
  * emit-and-checkpoint window), and rewrite commits (erase,
  * compaction) never emit.
  */
class StreamingChangeFeedSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def mk(base: Long, n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (base + i, (base + i) * 1000000000L, (i % 40).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("streamed tail delivers appends exactly once; replayed batch re-reads its range") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val root = FileIndex.buildRootFrom(spark, mk(0L, 1200))
    val stateDir = Files.createTempDirectory("graft-scf").toString
    val emitted =
      scala.collection.mutable.Map.empty[Long, Set[Long]] // batchId -> ids
    val sink = StreamingChangeFeed.tail(root, stateDir) { (rows, id) =>
      val ids = rows.select(col("event_id")).collect()
        .map(_.getLong(0)).toSet
      emitted.synchronized {
        emitted(id) = emitted.getOrElse(id, Set.empty) ++ ids
      }
    }

    val input = MemoryStream[Int]
    val q = input.toDS().toDF().writeStream.foreachBatch(sink)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-scf-ckpt").toString)
      .start()
    try {
      input.addData(1) // tick: corpus
      q.processAllAvailable()
      assert(FileIndex.absorb(spark, root, mk(10000L, 500),
        "inc-a"))
      input.addData(2) // tick: inc-a
      q.processAllAvailable()
      // maintenance + an absorb between ticks: only inc-b may emit
      assert(FileIndex.absorb(spark, root, mk(20000L, 500),
        "inc-b"))
      assert(FileIndex.erase(spark, root, 7L, "erase-1"))
      input.addData(3)
      q.processAllAvailable()
      input.addData(4) // tick with nothing new
      q.processAllAvailable()
    } finally q.stop()

    val all = emitted.values.flatten.toSeq
    assert(all.size == all.toSet.size, "a row was emitted twice")
    assert(all.toSet ==
      (0L until 1200L).toSet ++ (10000L until 10500L) ++
        (20000L until 20500L),
      "the tail's union is not exactly the appended rows")
    assert(emitted.getOrElse(3L, Set.empty).isEmpty ||
      emitted(3L) == (20000L until 20500L).toSet)

    // crash window: re-invoke already-claimed batch ids directly
    // (what a foreachBatch replay does) — the recorded ranges re-read
    // byte-identically even though MORE commits landed since. Only
    // ids inside the claim-GC keep window are replayable: the
    // streaming contract replays at most the LAST uncommitted batch,
    // so claims older than that are pruned (bounded-state-dir test
    // below) and ids 1..3 are the replayable tail after batch 3.
    assert(FileIndex.absorb(spark, root, mk(30000L, 300),
      "inc-c"))
    val before = emitted.toMap
    val tick = spark.range(1).toDF()
    (1L to 3L).foreach { id => sink(tick, id) }
    (1L to 3L).foreach { id =>
      assert(emitted(id) == before.getOrElse(id, Set.empty),
        s"replayed batch $id emitted different rows")
    }
    // and the next FRESH batch picks up exactly inc-c
    sink(tick, 99L)
    assert(emitted(99L) == (30000L until 30300L).toSet,
      "the post-replay fresh batch missed the new append")
  }

  test("CDC tail delivers row-level changes exactly once; maintenance emits nothing") {
    import scala.jdk.CollectionConverters._
    val root = FileIndex.buildRootFrom(spark, mk(0L, 800))
    val stateDir = Files.createTempDirectory("graft-scf-cdc").toString
    // (batchId -> (inserts, deletes)) by event_id
    val emitted = scala.collection.mutable.Map
      .empty[Long, (Set[Long], Set[Long])]
    val sink = StreamingChangeFeed.tailCdc(root, stateDir) { (rows, id) =>
      val got = rows.select(col("_change_type"), col("event_id"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      emitted(id) = (got.collect { case ("insert", e) => e }.toSet,
        got.collect { case ("delete", e) => e }.toSet)
    }
    val tick = spark.range(1).toDF()
    sink(tick, 0L) // corpus publish
    assert(emitted(0L) == ((0L until 800L).toSet, Set.empty[Long]))

    // an absorb + a COW erase of user 7 land between polls: the CDC
    // batch carries the increment as inserts AND the erased user's
    // rows (from BOTH generations) as deletes
    assert(FileIndex.absorb(spark, root, mk(10000L, 400),
      "inc-a"))
    assert(FileIndex.erase(spark, root, 7L, "erase-1"))
    sink(tick, 1L)
    val wantDel = ((0L until 800L) ++ (10000L until 10400L))
      .filter(e => e % 40 == 7).toSet
    assert(emitted(1L) == ((10000L until 10400L).toSet, wantDel))

    // an absorb AND a compaction in the same window (the erase left
    // one generation, the absorb makes two): the CDC batch carries
    // exactly the absorb's inserts — the compaction, declared
    // row-preserving, contributes nothing
    assert(FileIndex.absorb(spark, root, mk(30000L, 120),
      "inc-mid"))
    val compacted = FileIndex.compact(spark, root)
    assert(compacted.isDefined)
    sink(tick, 2L)
    assert(emitted(2L) == ((30000L until 30120L).toSet, Set.empty[Long]),
      "a maintenance rewrite leaked into the CDC tail")

    // crash replay: re-invoking the LAST batch id after a new absorb
    // re-reads its recorded range byte-identically, not the new commit
    assert(FileIndex.absorb(spark, root, mk(20000L, 100),
      "inc-b"))
    sink(tick, 2L)
    assert(emitted(2L) == ((30000L until 30120L).toSet, Set.empty[Long]),
      "a replayed CDC batch read past its recorded range")
    sink(tick, 3L)
    assert(emitted(3L) == ((20000L until 20100L).toSet, Set.empty[Long]))
  }

  test("claim ledger stays bounded over 1000 batches; replay across the prune boundary is byte-identical") {
    import scala.jdk.CollectionConverters._
    val root = FileIndex.buildRootFrom(spark, mk(0L, 400))
    val stateDir = Files.createTempDirectory("graft-scf-gc")
    val collected =
      scala.collection.mutable.Map.empty[Long, Set[Long]]
    // collect only on the batches that can carry data — the soak's
    // other 990 ticks exercise the claim/prune path, not Spark
    var collectNext = false
    val sink = StreamingChangeFeed.tail(root, stateDir.toString) {
      (rows, id) =>
        if (collectNext) collected(id) =
          rows.select(col("event_id")).collect().map(_.getLong(0)).toSet
    }
    val tick = spark.range(1).toDF()
    def claims() = {
      val stream = Files.list(stateDir)
      try stream.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".tsv")).toVector.sorted
      finally stream.close()
    }
    (0L until 1000L).foreach { id =>
      if (id % 250 == 0) {
        assert(FileIndex.absorb(spark, root,
          mk(100000L + id * 10, 50), s"inc-$id"))
        collectNext = true
      }
      sink(tick, id)
      if (collectNext) collectNext = false
      assert(claims().size <= 4,
        s"claim ledger grew unbounded at batch $id: ${claims().size} files")
    }
    // exactly the appended rows (batch 0's range starts at the
    // beginning, so it carries the corpus too), each exactly once
    val all = collected.values.flatten.toSeq
    assert(all.size == all.toSet.size)
    assert(all.toSet == (0L until 400L).toSet ++
      Seq(0L, 250L, 500L, 750L).flatMap(id =>
        (100000L + id * 10) until (100000L + id * 10 + 50)))
    // claims far below the head are pruned...
    assert(claims().forall(_.stripPrefix("b").stripSuffix(".tsv")
      .toLong >= 997L), s"stale claims survived: ${claims()}")
    // ...and the replay contract still holds ACROSS the prune
    // boundary: a new append lands, the LAST batch is re-invoked
    // (the foreachBatch crash window), and it re-reads its recorded
    // range — not the new commit
    assert(FileIndex.absorb(spark, root,
      mk(900000L, 30), "inc-late"))
    collectNext = true
    sink(tick, 999L) // replayed id: claim exists, range is recorded
    assert(collected(999L).isEmpty,
      "a replayed batch read past its recorded range after pruning")
    collectNext = true
    sink(tick, 1000L) // fresh id: picks up exactly the new append
    assert(collected(1000L) == (900000L until 900030L).toSet)
  }

  test("a cursor below the vacuum horizon raises the out-of-retention contract") {
    val fis = FileIndex
    val root = fis.buildRootFrom(spark, mk(0L, 400)) // seq 0
    assert(fis.absorb(spark, root, mk(10000L, 200), "inc-a")) // seq 1
    // the CoW erase retires every file holding user 7 (user = i % 40
    // puts it in all of them) and republishes the survivors — seq 2
    assert(fis.erase(spark, root, 7L, "erase-1"))
    assert(fis.absorb(spark, root, mk(20000L, 200), "inc-b")) // seq 3
    // destroy the files the erase retired; the horizon persists at 2
    assert(fis.vacuumBefore(spark, root, 2L).nonEmpty)

    // a cursor whose PENDING appends were destroyed gets the TYPED
    // contract error naming the horizon and the re-bootstrap path —
    // never a missing-file crash mid-diff
    val e = intercept[fis.OutOfRetentionException] {
      fis.changeFeedState(spark, root, 0L)
    }
    assert(e.fromSeq == 0L && e.horizonSeq == 2L)
    assert(e.getMessage.contains("horizon 2") &&
      e.getMessage.toLowerCase.contains("re-bootstrap"))
    intercept[fis.OutOfRetentionException] {
      fis.changeFeedRange(spark, root, 0L, 3L)
    }
    // ...but the gate is EXACT, not cursor-vs-horizon coarse: a
    // cursor below the horizon whose pending appends all SURVIVE is
    // served (the Kafka analogue — error only when needed bytes are
    // actually gone). Cursor 1's pending append is only inc-b.
    val (servedHead, servedRows) = fis.changeFeedState(spark, root, 1L)
    assert(servedHead == 3L)
    assert(servedRows.select(col("event_id")).collect()
      .map(_.getLong(0)).toSet == (20000L until 20200L).toSet,
      "a below-horizon cursor with surviving appends was not served")
    // the CDC feed keeps the documented COARSE per-root gate (its
    // legs read both sides of rewrites, so cursor-vs-horizon is the
    // honest cheap bound)
    intercept[fis.OutOfRetentionException] {
      fis.changeDataFeed(spark, root, 1L, 3L)
    }

    // the streaming tails surface the same error: a long-stopped
    // consumer whose newest claim ends below the horizon (each tail
    // gets its own state dir — the first poll's fresh claim would
    // otherwise advance the second tail's cursor past the horizon)
    def staleDir(to: Long): java.nio.file.Path = {
      val d = java.nio.file.Files.createTempDirectory("graft-scf-ret")
      java.nio.file.Files.write(d.resolve(f"b${0L}%019d.tsv"),
        s"-1\t$to\n".getBytes("UTF-8"))
      d
    }
    // a REPLAYED claim spanning destroyed appends throws through the
    // recorded-range read itself
    val sink = StreamingChangeFeed.tail(root, staleDir(1L).toString)(
      (_, _) => ())
    intercept[fis.OutOfRetentionException] {
      sink(spark.range(1).toDF(), 0L)
    }
    // a FRESH claim is validated BEFORE it is persisted: the stale
    // cursor throws and no claim file lands — a recovery that keeps
    // the state dir must not find a claim for a never-emitted range
    val tailDir = staleDir(0L)
    val freshSink = StreamingChangeFeed.tail(root, tailDir.toString)(
      (_, _) => ())
    intercept[fis.OutOfRetentionException] {
      freshSink(spark.range(1).toDF(), 1L)
    }
    assert(!java.nio.file.Files.exists(
      tailDir.resolve(f"b${1L}%019d.tsv")),
      "an out-of-retention cursor persisted a poisoned claim")
    val cdcDir = staleDir(1L)
    val cdcSink = StreamingChangeFeed.tailCdc(root, cdcDir.toString)(
      (_, _) => ())
    intercept[fis.OutOfRetentionException] {
      cdcSink(spark.range(1).toDF(), 1L)
    }
    assert(!java.nio.file.Files.exists(
      cdcDir.resolve(f"b${1L}%019d.tsv")),
      "a CDC tail persisted a poisoned claim")

    // from the horizon on, both feeds answer unchanged
    val (head, rows) = fis.changeFeedState(spark, root, 2L)
    assert(head == 3L)
    assert(rows.select(col("event_id")).collect().map(_.getLong(0)).toSet
      == (20000L until 20200L).toSet)
    val cdc = fis.changeDataFeed(spark, root, 2L, 3L)
    assert(cdc.filter(col("_change_type") === "insert").count() == 200L
      && cdc.filter(col("_change_type") =!= "insert").count() == 0L)
  }
}
