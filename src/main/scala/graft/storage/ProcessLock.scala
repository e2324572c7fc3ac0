package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Cross-process mutual exclusion for store maintenance, via an
  * exclusively-created lock FILE next to the table.
  *
  * The JVM-local `AstarteStore.lockFor` monitors serialize writers
  * within one driver process; two driver PROCESSES sharing a store
  * root (an ingest job plus a separate vacuum job) never see each
  * other's monitors. Maintenance (sweep/compaction) is the only part
  * of the protocol that needs cross-process exclusion — writes are
  * made safe structurally by the staged commit ([[StagedCommit]]):
  * each stages in its own directory and renames only finished files
  * in. The reference gets both for free from Cassandra's server-side
  * per-cell LWW (`queries.ex:87-155`).
  *
  * Protocol: an exclusive create wins the lock — `File.createNewFile`
  * (atomic on POSIX) for `file:` paths, since Hadoop's
  * RawLocalFileSystem implements `create(overwrite = false)` as a
  * non-atomic exists-then-open; `fs.create(overwrite = false)` (atomic
  * on HDFS) elsewhere. The file body records a unique OWNER TOKEN +
  * acquire time; release deletes the lock only while it still carries
  * our token, so an owner that overran the stale horizon can never
  * delete the lock a successor legitimately re-acquired. A crashed
  * owner's lock goes STALE and is broken after `staleMs` (maintenance
  * is idempotent and crash-recoverable by design — stage, move in,
  * retire converges on rerun — so breaking a stale lock is safe; the stale
  * window only delays, never corrupts). A LIVE owner heartbeats the
  * lock's mtime every `staleMs / 4` from a daemon thread, so a run
  * longer than `staleMs` keeps its lock and `staleMs` only needs to
  * exceed the worst heartbeat gap (GC pause + FS hiccup), not the
  * whole run. A narrow stat-to-delete race remains in stale breaking
  * (two breakers can both proceed) — acceptable for idempotent
  * maintenance, not for general mutual exclusion. On object stores
  * without atomic create, swap this for the store's conditional-put
  * primitive.
  */
object ProcessLock {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Run `body` holding the cross-process lock file at `lockPath`.
    * Polls up to `waitMs` for a held lock, breaking it if older than
    * `staleMs`; throws if the lock cannot be acquired in time (the
    * caller's maintenance run is skipped loudly, not silently).
    */
  def withLock[A](fs: FileSystem, lockPath: HPath,
      staleMs: Long = 60 * 60 * 1000L, waitMs: Long = 60 * 1000L)(body: => A): A = {
    val token = s"pid=${ProcessHandle.current().pid()} " +
      s"token=${java.util.UUID.randomUUID()} " +
      s"acquired_ms=${System.currentTimeMillis()}\n"
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      acquired = tryAcquire(fs, lockPath, token)
      if (!acquired) {
        breakIfStale(fs, lockPath, staleMs)
        if (System.currentTimeMillis() > deadline)
          throw new java.io.IOException(
            s"could not acquire maintenance lock $lockPath within ${waitMs}ms — " +
              "another process holds it; rerun after it finishes")
        Thread.sleep(200)
      }
    }
    // heartbeat: refresh the lock's mtime so a legitimately long run
    // never goes stale; touching a successor's lock (we overran AND
    // it got broken — only possible if the heartbeat itself stalled
    // past staleMs) merely keeps a live lock fresh, which is harmless
    val hb = new Thread(() => {
      val interval = math.max(1000L, staleMs / 4)
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(interval)
          try fs.setTimes(lockPath, System.currentTimeMillis(), -1)
          catch {
            // an interrupt landing INSIDE the FS call surfaces as
            // InterruptedIOException (an IOException) with the
            // interrupt flag consumed — swallowing it with the
            // transient-error case would leak a heartbeat that
            // refreshes this path forever; exit instead
            case _: java.io.InterruptedIOException =>
              throw new InterruptedException
            case _: java.io.IOException => ()
            // a non-IO failure (e.g. an object-store FileSystem whose
            // setTimes throws UnsupportedOperationException) is not
            // transient — log ONCE that the heartbeat is degrading to
            // a no-op (staleness protection then relies on staleMs
            // exceeding the run) instead of dying silently
            case scala.util.control.NonFatal(e) =>
              log.warn(s"lock heartbeat for $lockPath degraded to a " +
                s"no-op ($e) — staleness protection now relies on " +
                "staleMs exceeding the run")
              throw new InterruptedException
          }
        }
      } catch { case _: InterruptedException => () }
    }, "graft-lock-heartbeat")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      hb.interrupt()
      hb.join(2000)
      // ownership-checked release: delete only OUR lock — if a
      // successor broke this lock as stale and created its own,
      // leaving it alone is the correct (non-cascading) behavior.
      // A transient read failure must NOT be mistaken for "broken by
      // a successor" (that would strand a valid lock for staleMs), so
      // the body read retries once before giving up.
      try {
        readBody(fs, lockPath) match {
          case Some(body) if body == token => fs.delete(lockPath, false)
          case Some(_) => log.warn(s"lock $lockPath no longer ours at release " +
            "(broken as stale by a successor) — leaving it in place")
          case None => log.warn(
            s"could not read lock $lockPath at release — it will go stale")
        }
      } catch { case e: java.io.IOException =>
        log.warn(s"failed to release lock $lockPath: $e — it will go stale") }
    }
  }

  /** Read the lock body, retrying once on a transient failure; None
    * only after both attempts fail (release then leaves the lock to
    * go stale rather than guessing at ownership).
    */
  private def readBody(fs: FileSystem, lockPath: HPath): Option[String] = {
    def once(): Option[String] =
      try {
        val in = fs.open(lockPath)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
        finally in.close()
      } catch { case _: java.io.IOException => None }
    once().orElse { Thread.sleep(50); once() }
  }

  private def tryAcquire(fs: FileSystem, lockPath: HPath, token: String): Boolean =
    try {
      val parent = lockPath.getParent
      if (parent != null) fs.mkdirs(parent)
      val isLocal = {
        val u = fs.getUri
        u.getScheme == null || u.getScheme == "file"
      }
      if (isLocal) {
        // POSIX-atomic exclusive create: Hadoop's local FS implements
        // create(overwrite=false) as exists-then-open, which two
        // processes can interleave
        val f = new java.io.File(lockPath.toUri.getPath)
        if (!f.createNewFile()) return false
        val w = new java.io.FileOutputStream(f)
        try w.write(token.getBytes("UTF-8")) finally w.close()
        true
      } else {
        val out = fs.create(lockPath, /* overwrite = */ false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        true
      }
    } catch {
      case _: java.io.IOException => false // exists (held) or transient FS error
    }

  private def breakIfStale(fs: FileSystem, lockPath: HPath, staleMs: Long): Unit =
    try {
      val st = fs.getFileStatus(lockPath)
      if (System.currentTimeMillis() - st.getModificationTime > staleMs) {
        log.warn(s"breaking stale maintenance lock $lockPath " +
          s"(age ${System.currentTimeMillis() - st.getModificationTime}ms)")
        fs.delete(lockPath, false)
      }
    } catch { case _: java.io.IOException => () } // vanished between check and stat
}
