package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.storage.FileIndex

/** Structured-Streaming TAIL of the file index's append change feed —
  * the source twin of [[StreamingFileMaintenance]]: a `foreachBatch`
  * glue that turns any trigger stream into exactly-once delivery of
  * the table's newly appended rows.
  *
  * Exactly-once BY A RANGE LEDGER (the Kafka-source offset contract,
  * re-derived on the manifest): each micro-batch CLAIMS the commit
  * range (cursor, head] by create-exclusively writing
  * `b<batchId>.tsv` into its own state dir before emitting; a
  * replayed batchId — a crash between emit and the checkpoint
  * commit — finds its claim and re-reads exactly the recorded range,
  * byte-identical however many commits landed since
  * ([[FileIndex.changeFeedRange]]). The cursor is the max `to`
  * over all claims, so ranges tile the manifest with no gap and no
  * overlap. Rewrite commits (compaction, copy-on-write erase/update)
  * never emit — the append-commit shape test in
  * [[FileIndex.appendsSince]].
  *
  * Scale shape: each poll reads ONLY the newly appended generations'
  * files — tailing a 100 TB table costs O(new data) per batch; the
  * ledger is PRUNED each batch to the replayable tail
  * ([[pruneClaims]]), so the state dir and its per-batch listing stay
  * O(1) over a consumer's whole life.
  *
  * One state dir per consumer (it IS the consumer's cursor); pair it
  * with the query's checkpoint — restarting with a fresh checkpoint
  * but an old state dir would replay claims for restarted batch ids,
  * which is exactly what the checkpoint contract forbids.
  */
object StreamingChangeFeed {

  /** The foreachBatch glue. `emit` receives (appended rows, batchId)
    * and must be idempotent per batchId — the rows it sees for one id
    * are identical across replays, so any transactional or
    * id-deduplicating sink lands each appended row exactly once.
    * Usage: `ticks.writeStream.foreachBatch(tail(root, stateDir)(emit))
    * .start()` — the tick stream is only a scheduler. */
  def tail(root: String, stateDir: String)(
      emit: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    tailWith(root, stateDir,
      (s, from, to) => FileIndex.changeFeedRange(s, root, from, to),
      (from, to) => FileIndex.assertFeedReadable(root, from, to))(emit)

  /** The CDC twin of [[tail]]: exactly-once delivery of ROW-LEVEL
    * CHANGES (`_change_type` insert/delete, `_commit_version`) via
    * [[FileIndex.changeDataFeed]] — same claim ledger, same
    * replay contract (the manifest is append-only, so a pinned
    * version range re-reads byte-identically), so a downstream
    * mirror can be maintained by one idempotent-per-batchId sink.
    * Maintenance rewrites declared row-preserving at commit time
    * emit nothing and cost nothing to skip. */
  def tailCdc(root: String, stateDir: String)(
      emit: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    tailWith(root, stateDir,
      (s, from, to) => FileIndex.changeDataFeed(s, root, from, to),
      (from, _) => FileIndex.assertCdcReadable(root, from))(emit)

  /** `validate(from, to)` runs BEFORE a fresh claim is persisted: a
    * stale cursor must throw the typed out-of-retention error WITHOUT
    * recording a claim — a claim written first would raise
    * maxClaimedTo, and any recovery that keeps the state dir would
    * then silently skip the never-delivered range. Replays validate
    * through the read itself (same typed error, claim already
    * recorded by definition). */
  private def tailWith(root: String, stateDir: String,
      read: (org.apache.spark.sql.SparkSession, Long, Long) => DataFrame,
      validate: (Long, Long) => Unit)(
      emit: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (tick, batchId) => {
      val s = tick.sparkSession
      val dir = java.nio.file.Paths.get(stateDir)
      java.nio.file.Files.createDirectories(dir)
      val claim = dir.resolve(f"b$batchId%019d.tsv")
      if (!java.nio.file.Files.exists(claim)) {
        val cursor = maxClaimedTo(dir)
        val (head, _) = FileIndex.appendsSince(root, cursor)
        // validate BEFORE claiming: an out-of-retention cursor must
        // never record a claim for a range that will never emit
        validate(cursor, head)
        // claim before emit: a crash after the claim replays this
        // exact range; a crash before it re-claims fresh — either
        // way the ranges tile with no gap and no overlap
        FileIndex.claimExclusive(claim, s"$cursor\t$head\n")
      }
      // a replayed batch re-reads its recorded range verbatim; a racing
      // claim (same batchId from a zombie executor) wrote the same
      // cursor math or lost — either way the file holds the winner
      val f = new String(java.nio.file.Files.readAllBytes(claim), "UTF-8")
        .trim.split('\t')
      val (from, to) = (f(0).toLong, f(1).toLong)
      emit(read(s, from, to), batchId)
      pruneClaims(dir, batchId)
    }

  /** How many claims below the current batch survive a prune. One
    * would do — foreachBatch runs batches sequentially, so by the
    * time batch N executes every batch < N is checkpoint-committed
    * and only claim N itself can ever be replayed — but a small tail
    * is kept as insurance against an operator hand-rolling state-dir
    * surgery; the bound is what matters, not the constant. */
  private val KeepClaims = 2L

  /** Claim-ledger GC — the prune the cursor contract allows: batches
    * are claimed in order by one streaming query, so once batch
    * `batchId` RAN (emit returned), claims below `batchId - KeepClaims`
    * can never be read again — the cursor lives in the newest claim
    * and a replay only ever re-reads the LAST uncommitted batch's
    * claim. Without this the state dir grows one file per micro-batch
    * forever and the per-batch listing cost is O(total batches); with
    * it both are O(1). A zombie driver that lost the checkpoint race
    * may re-claim a pruned id: it writes a FRESH claim
    * (from = maxClaimedTo, to = currentSeq) and emits the current
    * unclaimed range's real rows under the stale batch id — but the
    * sink's idempotent-per-batchId contract discards any emit for a
    * committed id, and the cursor math ignores the lower id, so
    * exactly-once holds (the discarded range is re-claimed by the
    * live query's next batch). */
  private def pruneClaims(dir: java.nio.file.Path, batchId: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.list(dir)
    val old =
      try stream.iterator().asScala.filter { p =>
        ClaimName.findFirstMatchIn(p.getFileName.toString)
          .exists(_.group(1).toLong < batchId - KeepClaims)
      }.toList
      finally stream.close()
    old.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  private val ClaimName = """^b(\d{19})\.tsv$""".r

  /** The consumer's cursor. Ranges tile monotonically (each claim's
    * `from` is the previous claim's `to`, and batches are claimed in
    * order by one streaming query), so the NEWEST claim alone carries
    * the cursor — one file read per batch, not O(batches); the
    * listing itself is the only per-batch directory cost, and stays
    * O(1) because [[pruneClaims]] keeps only the replayable tail. */
  private def maxClaimedTo(dir: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.list(dir)
    val newest =
      try stream.iterator().asScala.filter(p =>
        ClaimName.findFirstIn(p.getFileName.toString).isDefined)
        .maxByOption(_.getFileName.toString)
      finally stream.close()
    newest.fold(-1L) { p =>
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .trim.split('\t')(1).toLong
    }
  }
}
