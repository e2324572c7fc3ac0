package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Ends with
  * `[verify] wrote N/M, failed: [...]` and exits non-zero if any query
  * failed (every other dump and oracle_sql.json are still written). */
object Verify {

  /** Writes each query's result to `outDir/<name>` as one parquet file
    * and every oracle SQL to `outDir/oracle_sql.json`; returns the names
    * of the queries that failed, each also reported on stderr. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name prefixes to run (a
    // local-iteration filter; the driver always runs the full set)
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(",").toSeq
        name => ps.exists(name.startsWith) }
      else _ => true
    // all session config lives in GraftSession so the correctness dump
    // runs the exact plans the bench times
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")
    val queries = SparkEntry.queries.toSeq.filter(kv => only(kv._1))
    val failed = dump(spark, sfDir, outDir, queries)
    println(s"[verify] wrote ${queries.size - failed.size}/${queries.size}, " +
      s"failed: ${failed.mkString("[", ", ", "]")}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
