package graft.events

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.storage.{EffectWriter, TableOut}
import graft.streaming.EffectRow

/** Events sink (SURVEY §2.1 S7): serializes the engine's event
  * side-output with the reference's routing metadata shape — one row
  * per (event, target) with routing key and header columns — to a
  * durable parquet topic (standing in for the AMQP events exchange;
  * `publishTo` swaps in a Kafka/AMQP producer without touching the
  * routing logic).
  *
  * Delivery semantics: blind append keyed by (device, reception,
  * eventType, target) — idempotent under task retry, the Spark
  * replacement for the reference's infinite-retry publish
  * (`triggers_handler.ex:404-459`).
  */
final class EventSink(val path: String) {

  /** Append the batch's routed events to the parquet topic,
    * partitioned by event type, as one Spark job ([[EffectWriter]]).
    */
  def publish(effects: Dataset[EffectRow]): Unit =
    EffectWriter.write(effects, None, Some(this))

  /** The topic's layout: the routed rows, partitioned by event type. */
  private[graft] def table(spark: SparkSession): TableOut = {
    import spark.implicits._
    new TableOut(path, Seq("event_type"))(spark.emptyDataset[EventWireRow].toDF())
  }

  /** Deliver routed events through a pluggable [[EventProducer]] (the
    * real AMQP/Kafka swap-in) instead of the parquet topic. Wrap the
    * producer in [[RetryingProducer]] for the reference's backoff
    * semantics; when the wrapper gives up, the exception fails the
    * Spark task and the micro-batch retries — safe because delivery
    * is idempotent per (routing key, wire bytes).
    */
  def publishTo(effects: Dataset[EffectRow], producer: EventProducer): Unit =
    routed(effects).foreachPartition { (it: Iterator[EventWireRow]) =>
      it.foreach(producer.send)
    }

  /** The shared routing stage, independent of which transport
    * delivers the events.
    */
  private def routed(effects: Dataset[EffectRow]): Dataset[EventWireRow] = {
    import effects.sparkSession.implicits._
    effects.filter(_.kind == "event").flatMap(EventSink.route)
  }

  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

object EventSink {

  /** Route one event: one output row per target (a merged congruent
    * trigger carries a comma-joined target list), each carrying the
    * SimpleEvent protobuf wire bytes and the five x_astarte_* routing
    * headers (S7 parity with `triggers_handler.ex:377-459`).
    */
  private[graft] def route(e: EffectRow): Iterator[EventWireRow] =
    Option(e.target).getOrElse("").split(",").iterator.map { t =>
      val ev = SimpleEventCodec.fromEffectRow(e.eventType, e.realm,
        e.deviceId, t, e.iface, e.major, e.path, e.valueBson, e.prevBson,
        e.receptionMs, e.detail)
      val sid = SimpleEventCodec.triggerId(t + "|" + e.eventType)
      val pid = SimpleEventCodec.triggerId(t)
      EventWireRow(e.realm, e.deviceId, e.eventType, t, e.iface, e.path,
        e.valueBson, e.prevBson, e.receptionMs, e.detail,
        SimpleEventCodec.encode(ev, sid, pid),
        SimpleEventCodec.headers(ev, sid, pid).toMap)
    }
}

/** Pluggable transport for routed events — the broker swap-in point
  * (an AMQP channel, a Kafka producer, a test double). `send` throws
  * to signal failure; implementations run inside executor tasks, so
  * they must be serializable and safe to construct per-partition.
  */
trait EventProducer extends Serializable {
  def send(row: EventWireRow): Unit
}

/** Bounded randomized-exponential-backoff retry around a producer —
  * parity with the reference's publish retry loop
  * (`triggers_handler.ex:404-425`: exponential backoff plus a random
  * component, retrying until the broker accepts). The reference
  * retries forever; here attempts are bounded so a dead broker fails
  * the Spark task (the micro-batch then retries, idempotently)
  * instead of wedging an executor thread.
  *
  * `sleeper`/`jitter` are injectable for deterministic tests; the
  * default jitter draws uniformly from [0, bound], giving a sleep in
  * [expo/2, expo] — the "equal jitter" scheme.
  */
final class RetryingProducer(
    delegate: EventProducer,
    maxAttempts: Int = 10,
    baseBackoffMs: Long = 50L,
    maxBackoffMs: Long = 10000L,
    sleeper: Long => Unit = Thread.sleep(_),
    jitter: Long => Long = bound =>
      java.util.concurrent.ThreadLocalRandom.current().nextLong(bound + 1))
    extends EventProducer {

  override def send(row: EventWireRow): Unit = {
    var attempt = 0
    var delivered = false
    while (!delivered) {
      try { delegate.send(row); delivered = true }
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          val expo = math.min(maxBackoffMs,
            baseBackoffMs << math.min(attempt - 1, 20))
          sleeper(expo / 2 + jitter(expo / 2))
      }
    }
  }
}

/** One routed sink row: event columns + wire bytes + routing headers. */
final case class EventWireRow(
    realm: String,
    device_id: String,
    event_type: String,
    routing_key: String,
    iface: String,
    path: String,
    bson_value: Array[Byte],
    bson_prev_value: Array[Byte],
    timestamp_ms: Long,
    detail: String,
    wire: Array[Byte],
    headers: Map[String, String])
