package graft.storage

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** True cross-PROCESS store soak: two forked child JVMs
  * ([[StoreSoakChild]]) and this (parent) JVM append batches to one
  * table and run maintenance compaction concurrently — the
  * multi-writer reality the in-JVM specs (threads sharing one
  * `lockFor` monitor) cannot exercise, because separate driver
  * processes only meet at the filesystem: the staged commit
  * ([[StagedCommit]]) that `appendAtomic` and `rewriteLeaf` share,
  * `rewriteLeaf`'s snapshot-then-retire compaction, and
  * [[ProcessLock]]'s exclusive lock file. Pass = every appended row
  * present exactly once, and no staging left behind.
  * Results recorded in STORE_SOAK.md.
  */
class TwoJvmStoreSoakSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def launchChild(table: String, writer: String, nBatches: Int,
      rowsPer: Int, compactEvery: Int, logDir: String): Process = {
    graft.ChildJvm.launch("graft.storage.StoreSoakChild",
      Seq(table, writer, nBatches.toString, rowsPer.toString, compactEvery.toString),
      new java.io.File(s"$logDir/$writer.out"))
  }

  test("two child JVMs + the parent append and compact one table; no row lost or doubled") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-2jvm").toString
    val table = s"$root/events"
    val nBatches = 4; val rowsPer = 200; val compactEvery = 2

    val c1 = launchChild(table, "w1", nBatches, rowsPer, compactEvery, root)
    val c2 = launchChild(table, "w2", nBatches, rowsPer, compactEvery, root)
    // parent writes and compacts CONCURRENTLY with both children
    for (b <- 1 to nBatches) {
      val df = (0 until rowsPer)
        .map(i => ("w0", b, i.toLong, s"payload-w0-$b-$i"))
        .toDF("writer", "batch", "i", "payload")
      AstarteStore.appendAtomic(df, table, partitionCols = Seq("writer"))
      if (b % compactEvery == 0)
        new AstarteStore(table).compactAppendTable(spark, table, maxFiles = 2)
    }
    assert(c1.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
      c1.exitValue() == 0,
      s"child w1 failed:\n${Files.readString(java.nio.file.Path.of(s"$root/w1.out")).takeRight(3000)}")
    assert(c2.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
      c2.exitValue() == 0,
      s"child w2 failed:\n${Files.readString(java.nio.file.Path.of(s"$root/w2.out")).takeRight(3000)}")

    // one more maintenance pass now that all writers are done, then
    // assert the exact table contents — and that a clean run leaves
    // nothing to recover: no staging dir and no tmp sibling
    new AstarteStore(table).compactAppendTable(spark, table, maxFiles = 2)
    val siblings = new java.io.File(root).listFiles().map(_.getName)
    assert(!siblings.exists(n => n.startsWith(StagedCommit.Prefix) || n.endsWith(".tmp")),
      s"a clean run left staging beside the table: ${siblings.mkString(",")}")
    val t = spark.read.parquet(table)
    val total = 3L * nBatches * rowsPer
    assert(t.count() == total, "row count after concurrent append+compact")
    assert(t.select(col("writer"), col("batch"), col("i")).distinct().count() == total,
      "no duplicated (writer, batch, i)")
    val perBatch = t.groupBy(col("writer"), col("batch"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(perBatch.length == 3 * nBatches)
    assert(perBatch.forall(_.getAs[Long]("n") == rowsPer),
      s"every batch exactly intact: ${perBatch.mkString(",")}")
    // compaction actually ran: leaves hold few files, not 12 batches'
    // worth (each append writes >=1 file per leaf; maxFiles = 2)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leafFiles = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
      .map(d => fs.listStatus(d.getPath)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
    assert(leafFiles.nonEmpty && leafFiles.forall(_ <= 3),
      s"compaction must bound per-leaf file counts, got ${leafFiles.mkString(",")}")
  }
}
