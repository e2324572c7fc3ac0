package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => StreamTrigger}
import graft.events.EventSink
import graft.storage.{AstarteStore, EffectWriter}

/** End-to-end streaming assembly (SURVEY §3.1 "Spark translation"):
  *
  * ```
  * source (Dataset[Envelope], any: file/Kafka/AMQP-bridge/MemoryStream)
  *   → groupByKey(realm, device).flatMapGroupsWithState  (DeviceStateMachine)
  *   → foreachBatch: one job — fold, state commit, every store table and
  *     the event topic written in the same tasks → driver renames the
  *     tasks' files into their tables
  * ```
  *
  * One Spark job per micro-batch ([[EffectWriter]]): each task of the
  * fold routes its effect rows by kind to parquet writers it opens as
  * it needs them, one per table and partition directory it touches, so
  * the fold and its state-store commit run once and nothing is cached
  * or re-read. Every table's files are staged under the batch's own
  * hidden directory and renamed into place by the driver once the job
  * has succeeded; a batch with an object append the registry cannot
  * type writes nothing and fails.
  *
  * Effectively-once: source offsets + device state checkpoint
  * together under `checkpointDir`, and every file a batch writes is
  * named by (query id, batch id, partition). A replayed micro-batch
  * lands on the names its first run committed and adds nothing, and
  * two queries sharing a store or topic never collide (the reference's
  * per-device ack protocol becomes checkpoint + deterministic output —
  * SURVEY §7.4 risk 1).
  *
  * The registry (interfaces + triggers incl. volatile overlay) is
  * consulted through a [[DeviceStateMachine.RegistryProvider]] on
  * every state-function invocation — the Spark replacement for the
  * reference's 10-minute caches (ST2/ST3) and the volatile-trigger
  * session overlay (S9); use MutableRegistryProvider to push updates
  * into a running query.
  */
object Pipeline {

  def start(
      envelopes: Dataset[Envelope],
      registry: DeviceStateMachine.RegistryProvider,
      store: AstarteStore,
      events: EventSink,
      checkpointDir: String,
      triggerInterval: String = "1 second"): StreamingQuery =
    runEffects(DeviceStateMachine.processStream(envelopes, registry),
      registry, store, events, checkpointDir, triggerInterval)

  /** Shared sink glue: both entry points write through the same
    * checkpointed foreachBatch (store + event sink). The registry is
    * re-read per micro-batch so object-table leaf schemas follow live
    * minor bumps, same as the state machine's ST2 refresh. The batch's
    * one job is described as `graft effects batch <n>`.
    */
  private def runEffects(
      effects: Dataset[EffectRow],
      registry: DeviceStateMachine.RegistryProvider,
      store: AstarteStore,
      events: EventSink,
      checkpointDir: String,
      triggerInterval: String): StreamingQuery =
    effects.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(StreamTrigger.ProcessingTime(triggerInterval))
      .foreachBatch { (batch: Dataset[EffectRow], batchId: Long) =>
        batch.sparkSession.sparkContext.setJobDescription(s"graft effects batch $batchId")
        EffectWriter.write(batch, Some(store -> registry.current()), Some(events), Some(batchId))
      }
      .start()

  /** ST8 cold-start: like [[start]], but the state store is seeded
    * from the durable store — folded devices dimension + properties
    * snapshot via [[AstarteStore.initialSessionStates]] (the
    * reference loads stats/introspection/properties on a device's
    * first message, `impl.ex:50-87`). Use after losing or migrating
    * the checkpoint: the per-micro-batch stats flush keeps the stored
    * dimension current, so the resumed counters are exact.
    */
  def startBootstrapped(
      spark: SparkSession,
      realm: String,
      envelopes: Dataset[Envelope],
      registry: DeviceStateMachine.RegistryProvider,
      store: AstarteStore,
      events: EventSink,
      checkpointDir: String,
      triggerInterval: String = "1 second"): StreamingQuery = {
    val init = store.initialSessionStates(spark, realm)
    runEffects(DeviceStateMachine.processStreamWithInit(envelopes, registry, init),
      registry, store, events, checkpointDir, triggerInterval)
  }

  /** File-based envelope source (S1/S2 stand-in): each parquet file
    * dropped into `dir` is a shard of messages; Spark's file source
    * provides ordered offsets + checkpointing, and source partitions
    * map to the reference's sharded queues.
    */
  def fileSource(spark: SparkSession, dir: String): Dataset[Envelope] = {
    import spark.implicits._
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Envelope]].schema)
      .parquet(dir)
      .as[Envelope]
  }

  /** S2 sharded fan-in: union N shard sources into one envelope
    * stream. The reference runs one AMQP consumer per queue shard
    * (`amqp_data_consumer/supervisor.ex:31-49`) and relies on
    * consistent-hash routing for per-device FIFO; here the union is
    * safe regardless of which shard a device lands on, because the
    * state machine re-sorts each device's slice by
    * (reception, offset) inside the keyed group.
    */
  def fanIn(sources: Seq[Dataset[Envelope]]): Dataset[Envelope] =
    sources.reduceLeft(_ union _)
}
