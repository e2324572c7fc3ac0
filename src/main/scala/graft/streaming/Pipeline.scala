package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => StreamTrigger}
import graft.core.ConcurrentJobs
import graft.events.EventSink
import graft.storage.AstarteStore

/** End-to-end streaming assembly (SURVEY §3.1 "Spark translation"):
  *
  * ```
  * source (Dataset[Envelope], any: file/Kafka/AMQP-bridge/MemoryStream)
  *   → groupByKey(realm, device).flatMapGroupsWithState  (DeviceStateMachine)
  *   → foreachBatch: persist once → kind census → plan every table
  *     → store appends + event append as concurrent jobs → unpersist
  * ```
  *
  * One materialization per micro-batch: the batch is persisted once
  * for both sinks ([[EffectBatch]]), and one job, adding no shuffle
  * of its own, both fills the cache and takes the census (effect kinds present, object
  * `(iface, major)` pairs). From it every table's rows are planned —
  * object appends checked against the registry — before any write
  * starts; then each table and the event topic are written as their
  * own Spark job, concurrently, over the cached batch
  * ([[graft.core.ConcurrentJobs]]), and the batch is unpersisted once
  * all have ended. A batch therefore costs one census job plus one
  * write job per table it touches, and the fold with its state-store
  * commit runs once.
  *
  * Effectively-once: source offsets + device state checkpoint
  * together under `checkpointDir`; both sinks are blind idempotent
  * appends keyed by full PK, so a replayed micro-batch rewrites
  * identical rows (the reference's per-device ack protocol becomes
  * checkpoint + idempotence — SURVEY §7.4 risk 1).
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
    * minor bumps, same as the state machine's ST2 refresh.
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
        val sc = batch.sparkSession.sparkContext
        sc.setJobDescription(s"graft effects batch $batchId")
        EffectBatch.cached(batch) { fx =>
          ConcurrentJobs.runAll(sc, store.planWrites(fx, registry.current()) ++ events.planWrite(fx))
        }
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
