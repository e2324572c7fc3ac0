package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.events.EventSink
import graft.storage.AstarteStore

/** Compares the store and the event topic with the generator's ground
  * truth. Every mismatch is one failed check; `ok` is the number of
  * check items that matched.
  */
final class CheckLog {
  var ok = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def expect(cond: Boolean, what: => String): Unit =
    if (cond) ok += 1 else failures += what
  def failed: Long = failures.size.toLong
}

object Checks {
  import Fleet._

  def store(spark: SparkSession, store: AstarteStore, sink: EventSink,
      truth: Truth, log: CheckLog): Unit = {
    devices(spark, store, truth, log)
    properties(spark, store, truth, log)
    partitions(spark, store, truth, log)
    events(spark, sink, truth, log)
    paths(spark, store, truth, log)
  }

  private def devices(spark: SparkSession, store: AstarteStore, truth: Truth, log: CheckLog): Unit = {
    val rows = store.devicesSnapshot(spark).collect().map(r => r.device_id -> r).toMap
    log.expect(rows.size == truth.devs.size,
      s"devices: ${rows.size} rows, expected ${truth.devs.size}")
    truth.devs.foreach { case (id, d) =>
      rows.get(id) match {
        case None => log.expect(false, s"devices: $id missing")
        case Some(r) =>
          val ifaceMsgs = d.ifaceMsgs.toMap.filter(_._2 > 0)
          val ifaceBytes = d.ifaceBytes.toMap.filter(_._2 > 0)
          val intro = if (d.announced) Seq(Props, Telemetry, Sample).map(_ -> 1).toMap else Map.empty[String, Int]
          log.expect(r.total_received_msgs == d.msgs && r.total_received_bytes == d.bytes &&
            r.exchanged_msgs_by_interface == ifaceMsgs && r.exchanged_bytes_by_interface == ifaceBytes &&
            r.connected == d.connected && r.introspection == intro,
            s"devices: $id msgs=${r.total_received_msgs}/${d.msgs} bytes=${r.total_received_bytes}/${d.bytes} " +
              s"iface=${r.exchanged_msgs_by_interface}/$ifaceMsgs connected=${r.connected}/${d.connected}")
      }
    }
  }

  def propertyValue(r: Row): Any =
    Seq("boolean_value", "double_value", "string_value").map(c => r.getAs[Any](c)).find(_ != null).orNull

  private def properties(spark: SparkSession, store: AstarteStore, truth: Truth, log: CheckLog): Unit = {
    val got = store.properties.snapshot(spark)
      .filter(col("iface") === Props)
      .select("device_id", "path", "boolean_value", "double_value", "string_value")
      .collect().map(r => (r.getString(0), r.getString(1)) -> propertyValue(r)).toMap
    val want = truth.devs.toSeq.flatMap { case (id, d) => d.props.map { case (p, v) => (id, p) -> v } }.toMap
    log.expect(got.size == want.size, s"properties: ${got.size} live paths, expected ${want.size}")
    want.foreach { case (k, v) =>
      log.expect(got.get(k).contains(v), s"properties: $k = ${got.get(k)}, expected $v")
    }
  }

  /** Partition columns read back as int or long depending on inference. */
  private def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  private def partitions(spark: SparkSession, store: AstarteStore, truth: Truth, log: CheckLog): Unit = {
    val ds = store.datastreams(spark)
      .groupBy("iface", "day")
      .agg(count(lit(1)), coalesce(sum("integer_value"), lit(0L)), coalesce(sum("longinteger_value"), lit(0L)))
      .collect().map(r => (r.getString(0), long(r, 1)) -> (long(r, 2), long(r, 3), long(r, 4)))
    val obj = store.objectTable(spark, ifaces(Sample), mappings(Sample))
      .groupBy("day").agg(count(lit(1)), coalesce(sum("v_n"), lit(0L)))
      .collect().map(r => (Sample, long(r, 0)) -> (long(r, 1), long(r, 2), 0L))
    val got = (ds ++ obj).toMap
    val want = truth.partitions.toMap
    log.expect(got.keySet == want.keySet,
      s"partitions: ${got.keySet.toSeq.sorted} expected ${want.keySet.toSeq.sorted}")
    want.foreach { case (k, v) =>
      log.expect(got.get(k).contains(v), s"partition $k = ${got.get(k)}, expected $v")
    }
  }

  private def events(spark: SparkSession, sink: EventSink, truth: Truth, log: CheckLog): Unit = {
    val got = sink.read(spark).groupBy("event_type", "routing_key").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = truth.events.toMap
    log.expect(got == want, s"events: $got expected $want")
  }

  private def paths(spark: SparkSession, store: AstarteStore, truth: Truth, log: CheckLog): Unit = {
    Seq(Telemetry, Sample).foreach { iface =>
      val got = store.pathsFor(spark, iface).collect().map(r => (r.getString(0), r.getString(1))).toSet
      val want = truth.devs.toSeq.flatMap { case (id, d) =>
        d.paths.filter(_._1 == iface).map(p => (id, p._2)) }.toSet
      log.expect(got == want, s"paths $iface: ${got.size} stored, expected ${want.size}")
    }
  }
}
