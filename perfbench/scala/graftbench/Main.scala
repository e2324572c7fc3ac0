package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import graft.GraftSession

/** Settings of one run, and the two process-wide recorders. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val runDir: String, val dataDir: String) {
  val tracer = new Tracer(trace)
  val census = new Census
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var setupS = -1.0

  /** Called right before the first timed operation: set-up time runs
    * from JVM start to here.
    */
  def markTimed(): Unit =
    if (setupS < 0) setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  def setupSeconds: Double = setupS
}

/** What one run measured and checked. */
final class Result {
  var attempted = 0L
  private var failedChecks = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val diags = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def value(name: String): Double = metrics(name)._1
  def diag(name: String, json: String): Unit = diags(name) = json

  /** Median of the workload's latency samples. A run holds fewer than
    * forty of them, too few for a tail percentile.
    */
  def latency(samples: Seq[Double]): Unit = {
    metric("latency_ms_p50", Probe.median(samples), "ms")
    diag("latency_samples", samples.size.toString)
  }

  def check(log: CheckLog): Unit = {
    failedChecks += log.failed
    failures ++= log.failures
    diag("checks_passed", log.ok.toString)
  }

  def failed: Long = math.min(attempted, failedChecks)
  def correct: Boolean = failedChecks == 0

  def all: Map[String, (Double, String)] = metrics.toMap
  def diagJson: String =
    (diags.map { case (k, v) => s"${Json.str(k)}:$v" } ++
      Seq(s"\"failures\":${failures.take(20).map(Json.str).mkString("[", ",", "]")}"))
      .mkString("{", ",", "}")
}

/** Benchmark entry: one workload, one seed, one run.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir> <resultFile> [traceFile]
  *
  * Writes the full result (every metric measured, plus diagnostics) as
  * one JSON object to `resultFile`; `perfbench/run.py` selects the
  * metrics of the requested mode and prints the final line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, runDir, dataDir, resultFile) = args.take(7)
    val ctx = new Ctx(workload, seed.toLong, seconds.toInt, trace == "1", runDir, dataDir)
    val res = new Result
    res.diag("loadavg_start", Json.str(Probe.loadavg()))
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    if (ctx.trace) spark.sparkContext.addSparkListener(ctx.census)
    try {
      workload match {
        case "ingest_backlog" => Ingest.backlog(spark, ctx, res)
        case "analytics_heavies" => Analytics.run(spark, ctx, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.metric("setup_s", ctx.setupSeconds, "s")
      res.metric("peak_rss_mb", Probe.rssHighWaterMb(), "MB")
      res.diag("loadavg_end", Json.str(Probe.loadavg()))
      res.diag("cpus", GraftSession.cpus)
      val metrics = res.all.map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
      val out = s"""{"correct":${res.correct},"attempted":${res.attempted},"failed":${res.failed},""" +
        s""""metrics":$metrics,"diagnostics":${res.diagJson}}"""
      Files.writeString(Paths.get(resultFile), out + "\n")
      if (ctx.trace && args.length > 7) ctx.tracer.writeJsonLines(Paths.get(args(7)))
    } finally spark.stop()
  }
}
