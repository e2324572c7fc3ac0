package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.ScanPruning
import graft.storage.FileIndex

/** Streaming copy-on-write maintenance: erase/update commands applied
  * through the control stream take effect exactly once — a replayed
  * micro-batch containing already-applied command ids leaves the
  * store BYTE-IDENTICAL (file paths, sizes, manifest) — and the
  * mutations themselves behave like their batch twins.
  */
class StreamingFileMaintenanceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def row(id: Long, user: Long) =
    (id, id * 1000000000L, user, "view", 1.0 + (id % 3), "{}")

  /** Every regular file under the root with its size — the
    * byte-identity witness (paths + sizes; content is immutable once
    * written by construction of the store's append protocol). */
  private def storeState(root: String): Set[(String, Long)] = {
    val p = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.Set.empty[(String, Long)]
    val walk = java.nio.file.Files.walk(p)
    try walk.forEach { f =>
      if (java.nio.file.Files.isRegularFile(f))
        out += ((p.relativize(f).toString, java.nio.file.Files.size(f)))
    } finally walk.close()
    out.toSet
  }

  test("command stream applies erase+update once; replayed batch is byte-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val corpus = (0L until 200L).map(i => row(i, i % 20))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, corpus)

    val input = MemoryStream[(String, Long, Double, String)]
    val cmds = input.toDS().toDF("op", "user_id", "value", "cmd_id")
    val q = cmds.writeStream
      .foreachBatch(StreamingFileMaintenance.sink(root))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sfm").toString)
      .start()
    try {
      input.addData(("erase", 7L, 0.0, "cmd-erase-7"),
        ("update", 3L, 9.99, "cmd-update-3"))
      q.processAllAvailable()
    } finally q.stop()

    // the mutations behaved like their batch twins
    val head = spark.read.parquet(
      FileIndex.livePairs(spark, root).map { case (g, b) =>
        FileIndex.bucketDir(root, g, b)
      }: _*)
    assert(head.filter(col("user_id") === 7L).count() == 0,
      "streamed erase left the user readable")
    assert(head.filter(col("user_id") === 3L && col("value") =!= 9.99)
      .count() == 0, "streamed update missed a row")
    assert(head.count() == 190L, "maintenance changed unrelated rows")

    // redelivery: the SAME commands arrive again (engine restart, or
    // the producer retries the queue) — every byte stays put
    val before = storeState(root)
    val seqBefore = FileIndex.currentSeq(spark, root)
    val replay = Seq(("erase", 7L, 0.0, "cmd-erase-7"),
      ("update", 3L, 9.99, "cmd-update-3"))
      .toDF("op", "user_id", "value", "cmd_id")
    StreamingFileMaintenance.sink(root)(replay, 99L)
    assert(storeState(root) == before,
      "replayed command batch changed store bytes")
    assert(FileIndex.currentSeq(spark, root) == seqBefore,
      "replayed command batch advanced the manifest version")

    // a mixed batch (one applied, one new) applies ONLY the new one —
    // the crash-between-commands retry contract
    val mixed = Seq(("erase", 7L, 0.0, "cmd-erase-7"),
      ("erase", 11L, 0.0, "cmd-erase-11"))
      .toDF("op", "user_id", "value", "cmd_id")
    StreamingFileMaintenance.sink(root)(mixed, 100L)
    val after = spark.read.parquet(
      FileIndex.livePairs(spark, root).map { case (g, b) =>
        FileIndex.bucketDir(root, g, b)
      }: _*)
    assert(after.filter(col("user_id") === 11L).count() == 0)
    assert(after.count() == 180L,
      "mixed-batch retry re-applied the already-applied command")
  }
}
