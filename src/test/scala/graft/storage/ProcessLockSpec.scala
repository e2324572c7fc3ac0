package graft.storage

import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The cross-process maintenance lock's failure paths: a crashed
  * owner's lock must not wedge maintenance forever (stale breaking),
  * a live owner's lock must exclude, and a long run must keep its
  * lock — the crash-recovery arms the happy-path specs never walk.
  */
class ProcessLockSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fs: FileSystem =
    new HPath("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a live lock excludes; release lets the next acquirer in") {
    val lock = new HPath(
      Files.createTempDirectory("graft-lock").toString, "t.lock")
    var order = List.empty[String]
    ProcessLock.withLock(fs, lock) {
      order ::= "first"
      // a second acquirer with a tiny wait budget must time out loudly
      val e = intercept[java.io.IOException] {
        ProcessLock.withLock(fs, lock, staleMs = 60000L, waitMs = 500L) {
          order ::= "never"
        }
      }
      assert(e.getMessage.contains("could not acquire"))
    }
    // released: acquiring again succeeds immediately
    ProcessLock.withLock(fs, lock) { order ::= "second" }
    assert(order.reverse == List("first", "second"))
    assert(!fs.exists(lock), "lock file must be deleted on release")
  }

  test("a stale lock (crashed owner) is broken, not waited on forever") {
    val dir = Files.createTempDirectory("graft-lock2").toString
    val lock = new HPath(dir, "t.lock")
    val out = fs.create(lock, false)
    out.write("pid=dead acquired_ms=0\n".getBytes("UTF-8")); out.close()
    // age the file past the staleness horizon
    fs.setTimes(lock, System.currentTimeMillis() - 60 * 60 * 1000L, -1)
    var ran = false
    ProcessLock.withLock(fs, lock, staleMs = 10 * 60 * 1000L,
      waitMs = 5000L) { ran = true }
    assert(ran, "stale lock must be broken and the body run")
    assert(!fs.exists(lock))
  }

  test("a long-running owner heartbeats its lock past the stale horizon") {
    val lock = new HPath(
      Files.createTempDirectory("graft-lock3").toString, "t.lock")
    // staleMs=4s → heartbeat every 1s: holding the lock for 2.5s must
    // leave an mtime refreshed well after acquisition, and a
    // competitor polling during that window must time out rather than
    // break a live (heartbeating) lock
    ProcessLock.withLock(fs, lock, staleMs = 4000L) {
      val acquiredAt = System.currentTimeMillis()
      Thread.sleep(2500)
      val mtime = fs.getFileStatus(lock).getModificationTime
      assert(mtime > acquiredAt + 500,
        s"heartbeat did not refresh mtime (acquired ~$acquiredAt, mtime $mtime)")
      val e = intercept[java.io.IOException] {
        ProcessLock.withLock(fs, lock, staleMs = 4000L, waitMs = 600L) { fail() }
      }
      assert(e.getMessage.contains("could not acquire"))
    }
    assert(!fs.exists(lock), "lock must still release cleanly after heartbeats")
  }
}
