package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming twin of the file-skipping index's incremental
  * maintenance ([[graft.queries.ScanPruning]]): a `foreachBatch` sink
  * that clusters every micro-batch into its own Z-ordered generation
  * and appends its zone-map/bloom index rows through the store log —
  * live table ingestion with the index never more than one trigger
  * behind.
  *
  * Effectively-once BY THE LEDGER, not by the engine: Structured
  * Streaming re-delivers a micro-batch after a restart with the SAME
  * batch id, and the generation name is a pure function of that id —
  * so the replayed absorb hits the inc_id ledger and becomes a no-op,
  * and even the crash inside absorb (files written, manifest row not
  * yet landed) re-runs to the identical end state. This is the same
  * sink-side idempotence contract the engine's other foreachBatch
  * paths rely on, made literal through
  * [[graft.storage.FileIndex.absorb]].
  *
  * Scale shape: each trigger touches only its own micro-batch (one
  * clustered write + one read-back of the new files + three
  * control-plane appends); compaction
  * ([[graft.storage.FileIndex.compact]]) runs as
  * separate maintenance when small per-trigger generations pile up.
  */
object StreamingFileIngest {

  /** Deterministic generation name for a micro-batch — zero-padded so
    * generation listings sort in ingestion order. */
  def genId(batchId: Long): String = f"batch-$batchId%09d"

  /** The foreachBatch sink over a canonical events stream
    * (event_id, ts, user_id, event_type, value, props; ts in
    * epoch-nanos). Usage:
    * `stream.writeStream.foreachBatch(sink(root)).start()`. */
  def sink(root: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      graft.storage.FileIndex.absorb(batch.sparkSession, root, batch, genId(batchId))
      ()
    }
}
