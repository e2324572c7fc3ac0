package graft.queries

import org.apache.spark.sql.SparkSession
import graft.storage.FileIndex

/** Child-process half of the two-JVM FILE-INDEX soak
  * ([[TwoJvmFileIndexSoakSpec]]): a real second JVM absorbing
  * increments into a shared Z-ordered file-index root, concurrently
  * with the parent and a sibling child — the cross-process
  * concurrent-ABSORB claim exercised for real (separate driver
  * processes only meet at the filesystem: the store log's
  * stage-then-rename appends and the deterministic generation
  * directories). args: root, writer id, absorb count, rows per
  * absorb, event-id base (disjoint per writer so the parent can
  * assert exactly-once by id).
  */
object FileIndexSoakChild {
  def main(args: Array[String]): Unit = {
    val Array(root, writer, nAbsS, rowsPerS, baseS) = args
    val (nAbs, rowsPer, base) = (nAbsS.toInt, rowsPerS.toInt, baseS.toLong)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-fxsoak-$writer")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    try {
      for (b <- 1 to nAbs) {
        val off = base + (b - 1).toLong * rowsPer
        val df = (0 until rowsPer).map { i =>
          val id = off + i
          (id, (id % 2000) * 1000000000L, id % 50, "view", 1.0, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        FileIndex.absorb(spark, root, df, s"$writer-$b")
      }
    } finally spark.stop()
    sys.exit(0)
  }
}
