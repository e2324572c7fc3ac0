package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The store read mix: device-row, property (last-write-wins),
  * datastream time-range, object-row and path reads on hot and cold
  * devices of a store the pipeline wrote in micro-batches.
  */
object Reads extends AdaptiveSparkPlanHelper {
  import Fleet._

  val Kinds = Seq("device_row", "properties", "datastream_range", "object_rows", "paths")

  /** One read: its kind, its device, and for range reads the
    * value-time window [fromMs, toMs).
    */
  final case class Read(kind: String, device: String, fromMs: Long, toMs: Long)

  /** One round: every kind once on a hot device and once on a cold one. */
  def round(rnd: java.util.Random, clockEndMs: Long): Seq[Read] =
    Kinds.flatMap { k =>
      Seq(rnd.nextInt(10), 200 + rnd.nextInt(Devices - 200)).map { rank =>
        val span = clockEndMs - ClockStartMs
        val from = ClockStartMs + (rnd.nextDouble() * span * 0.7).toLong
        Read(k, deviceId(rank), from, from + span / 4)
      }
    }

  def frame(spark: SparkSession, store: graft.storage.AstarteStore, r: Read): DataFrame = {
    val dev = col("device_id") === r.device
    r.kind match {
      case "device_row" =>
        store.devicesSnapshot(spark).toDF().filter(dev)
          .select("total_received_msgs", "total_received_bytes", "connected")
      case "properties" =>
        store.properties.snapshot(spark).filter(dev && col("iface") === Props)
          .select("path", "boolean_value", "double_value", "string_value")
      case "datastream_range" =>
        val d0 = Math.floorDiv(r.fromMs, 86400000L)
        val d1 = Math.floorDiv(r.toMs - 1, 86400000L)
        store.datastreams(spark)
          .filter(col("iface") === Telemetry && col("day").between(d0, d1) && dev &&
            col("value_timestamp") >= r.fromMs && col("value_timestamp") < r.toMs)
          .select("path", "value_timestamp", "double_value", "integer_value",
            "longinteger_value", "string_value", "boolean_value")
      case "object_rows" =>
        store.objectTable(spark, ifaces(Sample), mappings(Sample)).filter(dev)
          .select("path", "value_timestamp", "v_x", "v_n", "v_tag")
      case "paths" =>
        store.pathsFor(spark, Telemetry).filter(dev).select("path")
    }
  }

  /** The generator's answer to a read, as sorted row renderings. */
  def expected(truth: Truth, r: Read): Seq[String] = {
    val d = truth.devs(r.device)
    r.kind match {
      case "device_row" => Seq(s"${d.msgs}|${d.bytes}|${d.connected}")
      case "properties" => d.props.toSeq.map { case (p, v) => s"$p|$v" }.sorted
      case "datastream_range" =>
        d.telemetry.filter(t => t._2 >= r.fromMs && t._2 < r.toMs)
          .map { case (p, ts, v) => s"$p|$ts|$v" }.sorted.toSeq
      case "object_rows" =>
        d.samples.map { case (p, ts, x, n, tag) => s"$p|$ts|$x|$n|$tag" }.sorted.toSeq
      case "paths" => d.paths.filter(_._1 == Telemetry).map(_._2).toSeq.sorted
    }
  }

  def rendered(kind: String, rows: Array[Row]): Seq[String] = rows.toSeq.map { r =>
    kind match {
      case "device_row" => s"${r.getLong(0)}|${r.getLong(1)}|${r.getBoolean(2)}"
      case "properties" => s"${r.getString(0)}|${Checks.propertyValue(r)}"
      case "datastream_range" =>
        val v = (2 to 6).map(i => r.get(i)).find(_ != null).orNull
        s"${r.getString(0)}|${r.getLong(1)}|$v"
      case "object_rows" => s"${r.getString(0)}|${r.getLong(1)}|${r.get(2)}|${r.get(3)}|${r.get(4)}"
      case "paths" => r.getString(0)
    }
  }.sorted

  /** Files the scan nodes of an executed read opened. */
  private def filesScanned(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum

  /** Two rounds of the read mix against `store`, each read timed with a
    * span around the public read call and checked against the
    * generator's answer once its timing stops.
    */
  def measure(spark: SparkSession, ctx: Ctx, store: graft.storage.AstarteStore,
      truth: Truth, log: CheckLog, res: Result): Unit = {
    val clockEndMs = truth.devs.values.flatMap(_.telemetry.map(_._2)).max
    val rnd = new java.util.Random(ctx.seed * 31L + 5L)
    val perKind = Kinds.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var files, returnedRows = 0L
    val reads = round(rnd, clockEndMs) ++ round(rnd, clockEndMs)
    reads.zipWithIndex.foreach { case (r, i) =>
      val op = s"read-$i"
      val t0 = ctx.tracer.nowNs
      val (df, rows) = Groups.run(spark, op) {
        val df = frame(spark, store, r)
        (df, df.collect())
      }
      val t1 = ctx.tracer.nowNs
      ctx.tracer.add(0L, s"storage.read.${r.kind}", op, t0, t1)
      perKind(r.kind) += (t1 - t0) / 1e6
      files += filesScanned(df)
      returnedRows += rows.length
      val got = rendered(r.kind, rows)
      val want = expected(truth, r)
      log.expect(got == want, s"${r.kind} ${r.device}: ${got.take(3)} expected ${want.take(3)} (${got.size}/${want.size} rows)")
    }
    val n = reads.size
    // the first round pays first-touch costs; per-kind figures are medians
    Kinds.foreach(k => res.metric(s"storage.read_ms.$k", Probe.median(perKind(k).toSeq), "ms"))
    val aggs = ctx.census.keys.filter(_.startsWith("read-")).map(ctx.census.agg)
    res.metric("storage.files_scanned_per_read", files.toDouble / n, "count")
    res.metric("storage.bytes_read_per_read", aggs.map(_.bytesRead.get).sum.toDouble / n, "B")
    res.metric("storage.rows_scanned_per_row_returned",
      aggs.map(_.recordsRead.get).sum.toDouble / math.max(1L, returnedRows), "ratio")
    res.metric("spark.jobs_per_read", aggs.map(_.jobs.get).sum.toDouble / n, "count")
  }
}
