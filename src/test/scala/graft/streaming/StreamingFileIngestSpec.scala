package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.ScanPruning
import graft.storage.FileIndex

/** Streaming file ingestion through the skipping index: every
  * micro-batch becomes its own ledgered generation, rows stay
  * readable through the pruned-read path, and a re-delivered batch id
  * (the restart contract) absorbs nothing twice.
  */
class StreamingFileIngestSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def row(id: Long, user: Long) =
    (id, id * 1000000000L, user, "view", 1.0, "{}")

  test("micro-batches land as generations; replayed batch ids are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the layout is fixed by a corpus build, as in production
    val corpus = (0L until 100L).map(i => row(i, i % 10))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = FileIndex.buildRootFrom(spark, corpus)

    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    val stream = input.toDS()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = stream.writeStream
      .foreachBatch(StreamingFileIngest.sink(root))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sfi").toString)
      .start()
    try {
      input.addData(row(100L, 3L), row(101L, 7L))
      q.processAllAvailable()
      input.addData(row(102L, 3L))
      q.processAllAvailable()
    } finally q.stop()

    val gens = FileIndex.absorbedIds(spark, root)
    assert(gens.contains("batch-000000000") && gens.contains("batch-000000001"),
      s"expected two batch generations, got $gens")

    // streamed rows are served through the SAME pruned point-lookup
    // path as batch data
    val hits = FileIndex.pointSurvivors(spark, root, 3L)
    val paths = hits.select(col("inc_id"), col("zbucket")).collect()
      .map(r => FileIndex
        .bucketDir(root, r.getString(0), r.getInt(1)))
    val found = spark.read.parquet(paths.toIndexedSeq: _*)
      .filter(col("user_id") === 3L).count()
    assert(found == 12L, // 10 corpus rows (users cycle mod 10) + 2 streamed
      s"pruned read found $found rows for user 3, expected 12")

    // restart contract: the engine re-delivers a batch with the same
    // id — the ledger makes the sink a no-op
    val zoneBefore = FileIndex.zone(spark, root)
      .collect().map(_.toSeq).toSet
    val replayed = (Seq(row(100L, 3L), row(101L, 7L)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamingFileIngest.sink(root)(replayed, 0L)
    assert(FileIndex.zone(spark, root)
      .collect().map(_.toSeq).toSet == zoneBefore,
      "replayed batch id changed the index")
  }
}
