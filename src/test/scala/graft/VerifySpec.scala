package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump: one parquet per query plus oracle_sql.json,
  * and a failing query is named, not swallowed.
  */
class VerifySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("dump writes every q1_ query and oracle_sql.json with no failures") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries = SparkEntry.queries.toSeq.filter(_._1.startsWith("q1_"))
    assert(queries.nonEmpty)
    assert(Verify.dump(spark, dir, out, queries) == Nil)
    queries.foreach { case (name, fn) =>
      val dumped = spark.read.parquet(s"$out/$name")
      assert(dumped.count() > 0, s"$name dumped no rows")
      assert(dumped.count() == fn(spark, dir).count())
    }
    val oracle = Files.readString(Paths.get(out, "oracle_sql.json"))
    assert(oracle.contains("\"q1_agg\""))
  }

  test("a failing query is returned and the others are still dumped") {
    val out = Files.createTempDirectory("graft-verify").toString
    val ok = "q1_agg" -> SparkEntry.queries("q1_agg")
    val broken: (String, (SparkSession, String) => org.apache.spark.sql.DataFrame) =
      "broken" -> ((s, d) => s.read.parquet(s"$d/no_such_table.parquet"))
    assert(Verify.dump(spark, dir, out, Seq(broken, ok)) == Seq("broken"))
    assert(spark.read.parquet(s"$out/q1_agg").count() > 0)
    assert(!Files.exists(Paths.get(out, "broken")))
    assert(Files.exists(Paths.get(out, "oracle_sql.json")))
  }
}
