package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shared session's config: every runner (Bench, Verify,
  * perfbench) measures the plans these settings produce, so a changed
  * value is a measured decision, never a side effect.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("session settings are the measured constants, minPartitionNum unset") {
    assert(GraftSession.settings("4").toMap == Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.files.openCostInBytes" -> "4194304",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "4096",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.hadoop.fs.file.impl" -> "graft.storage.ForkFreeLocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.storage.ForkFreeLocalFs"))
    // one value per key: a later duplicate would silently win
    assert(GraftSession.settings("4").map(_._1).distinct.size ==
      GraftSession.settings("4").size)
  }

  test("the test JVM's -Dspark.* options mirror the session settings") {
    // build.sbt passes them so that every spec's own session builder
    // runs on the same filesystem, time zone and UI setting
    val mirrored = GraftSession.settings("4").filter { case (k, _) => sys.props.contains(k) }
    assert(mirrored.map(_._1).toSet.contains("spark.hadoop.fs.file.impl"))
    assert(mirrored.map(_._1).toSet.contains("spark.hadoop.fs.AbstractFileSystem.file.impl"))
    mirrored.foreach { case (k, v) => assert(sys.props(k) == v, k) }
  }
}
