package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming copy-on-write maintenance for the file-skipping index —
  * the mutation twin of [[StreamingFileIngest]]: a `foreachBatch`
  * sink over a CONTROL stream of erase/update commands (privacy
  * erasures, keyed corrections) that applies each through
  * [[graft.storage.FileIndex]]'s ledgered
  * copy-on-write paths.
  *
  * Effectively-once BY THE LEDGER, exactly like the ingest twin:
  * every command carries its own `cmd_id` (assigned by the producer —
  * a ticket id, not the batch id), each apply is ledgered under that
  * id, and a redelivered micro-batch — or the same command arriving
  * twice across batches — replays into no-ops. A crash between two
  * commands of one batch re-runs the batch: the applied prefix
  * no-ops, the suffix lands; store state is byte-identical to the
  * single-delivery run (pinned in StreamingFileMaintenanceSpec).
  *
  * Scale shape: commands are control-plane events (a privacy queue,
  * not a data stream), so the per-batch collect is bounded by the
  * command rate; each apply rewrites only the files that may hold its
  * key (zone + bloom pruned), never the table.
  */
object StreamingFileMaintenance {

  /** The foreachBatch sink over a command stream with columns
    * (op string ∈ {erase, update}, user_id long, value double,
    * cmd_id string). Usage:
    * `cmds.writeStream.foreachBatch(sink(root)).start()`. */
  def sink(root: String): (DataFrame, Long) => Unit =
    (batch, _) => {
      val s = batch.sparkSession
      // deterministic apply order whatever partition order the batch
      // arrives in — replays must walk the identical sequence
      val cmds = batch
        .select("op", "user_id", "value", "cmd_id")
        .collect().sortBy(_.getString(3))
      cmds.foreach { r =>
        r.getString(0) match {
          case "erase" =>
            graft.storage.FileIndex.erase(s, root, r.getLong(1), r.getString(3))
          case "update" =>
            graft.storage.FileIndex.updateUser(s, root, r.getLong(1),
              r.getDouble(2), r.getString(3))
          case other =>
            throw new IllegalArgumentException(s"unknown command op: $other")
        }
      }
    }
}
