package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.storage.FileIndex

/** Concurrency soak for the merge-on-read erase ↔ rewrite race
  * guards: the staged-interleaving spec (ScanPruningSpec) proves each
  * conflict fires at the exact window; this soak proves the
  * OPTIMISTIC RETRY LOOPS converge under genuine concurrent pressure
  * — erases landing mid-compaction and compactions retiring files
  * mid-erase, repeatedly, on one shared session (the two-JVM soak
  * covers cross-process absorb-vs-compact; this one targets the
  * round-17 preconditions specifically). The vacuum soak adds the
  * deletion-vector fold: each round's vacuum rewrites the dv log while
  * erases append to it.
  *
  * Invariant under ANY interleaving: an eraseDv that RETURNED TRUE is
  * never lost — the user's rows are absent from every subsequent
  * read, whatever maintenance ran concurrently. Conflicts are
  * expected traffic here (that is the design), so the erase thread
  * retries CommitConflict, and in the vacuum soak a read that lost a
  * file to vacuum, like a production caller would.
  */
class MorRaceSoakSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  /** A read planned before a vacuum can lose a file to it; the vacuum
    * contract is a visible failure the caller retries. */
  private def lostFileToVacuum(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException])

  /** Six users erased merge-on-read while a maintenance thread absorbs
    * a fresh small generation and runs `maintain(root)` each round (and
    * once more after the last erase). The eraser retries CommitConflict
    * and whatever else `retryable` accepts. */
  private def soak(retryable: Throwable => Boolean)(
      maintain: String => Unit): Unit = {
    import spark.implicits._
    val fis = FileIndex
    val synth = (0 until 1200).map { i =>
      (i.toLong, i.toLong * 1000000000L, (i % 40).toLong, "view",
        (i % 97 + 1) / 100.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = fis.buildRootFrom(spark, synth)
    assert(fis.absorb(spark, root,
      synth.withColumn("event_id", col("event_id") + 100000L), "inc-1"))

    val usersToErase = Seq(3L, 7L, 11L, 17L, 23L, 31L)
    val erased = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val eraserDone = new java.util.concurrent.atomic.AtomicBoolean(false)

    val eraser = new Thread(() => {
      try usersToErase.foreach { u =>
        // a production caller's loop: CommitConflict means a racing
        // rewrite invalidated the plan — replan and try again
        // (eraseDv itself already retries 5× internally)
        var attempts = 0
        var done = false
        while (!done) {
          try {
            fis.eraseDv(spark, root, u, s"dve-$u")
            // true = newly ledgered, false = an earlier attempt's
            // commit landed — either way the erasure is confirmed
            erased.add(u); done = true
          } catch {
            case e: Throwable
                if e.isInstanceOf[fis.CommitConflict] || retryable(e) =>
              attempts += 1
              if (attempts > 50)
                throw new IllegalStateException(
                  s"erase of $u never converged after $attempts retries")
          }
        }
      } catch {
        case e: Throwable => failures.add(s"eraser: $e")
      } finally eraserDone.set(true)
    })

    // sustained rewrite pressure: each round absorbs a fresh small
    // generation (erase-set users EXCLUDED, so re-added rows can't
    // masquerade as resurrections) and runs maintenance over it —
    // every fold retires exactly the files the racing erases target
    val pressure = synth
      .filter(!col("user_id").isin(usersToErase: _*))
      .limit(300)
    val maintainer = new Thread(() => {
      try {
        var rounds = 0
        while (!eraserDone.get() || rounds == 0) {
          rounds += 1
          fis.absorb(spark, root,
            pressure.withColumn("event_id",
              col("event_id") + lit(1000000L * rounds)),
            s"inc-r$rounds")
          maintain(root)
        }
        // one final round AFTER the last erase, so the end state also
        // exercises vector folding of the late erases
        maintain(root)
      } catch {
        case e: Throwable => failures.add(s"maintainer: $e")
      }
    })

    eraser.start(); maintainer.start()
    eraser.join(300000); maintainer.join(300000)
    assert(!eraser.isAlive && !maintainer.isAlive, "soak threads hung")
    assert(failures.isEmpty, s"soak thread failed: $failures")

    // every confirmed erasure holds in the final read
    import scala.jdk.CollectionConverters._
    val gone = erased.asScala.toSet
    assert(gone == usersToErase.toSet, s"not every erase confirmed: $gone")
    val remaining = fis.readPairs(spark, root, fis.livePairs(spark, root))
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    val resurrected = gone.intersect(remaining)
    assert(resurrected.isEmpty,
      s"confirmed erasures resurfaced after racing maintenance: $resurrected")
    // the survivors are intact (no over-deletion by a raced rewrite)
    assert(remaining == (0L until 40L).toSet -- gone)

    // and every maint commit that landed audits clean — folded-row
    // declarations stayed exact under the races
    val audit = fis.auditMaint(spark, root)
    assert(audit.forall(_._6), s"a raced maint commit audits dirty: $audit")
  }

  test("concurrent eraseDv and compaction never lose a confirmed erasure") {
    // compact returns None on conflict/no-op — by design; nothing
    // deletes files here, so only CommitConflict is retried
    soak(_ => false)(root => FileIndex.compact(spark, root))
  }

  test("concurrent eraseDv and vacuum never lose a confirmed erasure") {
    // every round's vacuum destroys what the compaction retired and
    // folds the dv log while erases append to it
    soak(lostFileToVacuum) { root =>
      FileIndex.compact(spark, root)
      FileIndex.vacuum(spark, root)
    }
  }
}
