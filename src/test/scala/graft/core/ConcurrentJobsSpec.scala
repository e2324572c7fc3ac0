package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

/** The concurrent-write helper the effects sink runs its table appends
  * through: it waits for every thunk, surfaces the first failure and
  * names every job with the caller's job description.
  */
class ConcurrentJobsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("waits for every thunk after a failure, rethrows the first, keeps the job description") {
    val sc = spark.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val finished = new java.util.concurrent.atomic.AtomicIntegerArray(3)
    val boom = new IllegalStateException("middle write failed")
    sc.addSparkListener(listener)
    sc.setJobDescription("graft effects batch 7")
    val thrown = try {
      intercept[IllegalStateException] {
        ConcurrentJobs.runAll(sc, Seq(
          () => { sc.parallelize(1 to 10, 2).count(); finished.set(0, 1) },
          () => { sc.parallelize(1 to 20, 2).count(); finished.set(1, 1); throw boom },
          // still running when the middle one fails
          () => { Thread.sleep(500); sc.parallelize(1 to 30, 2).count(); finished.set(2, 1) }))
      }
    } finally {
      sc.setJobDescription(null)
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(thrown eq boom)
    assert(thrown.getSuppressed.isEmpty)
    assert((0 until 3).forall(finished.get(_) == 1))
    assert(descriptions.size == 3)
    assert(descriptions.asScala.forall(_ == "graft effects batch 7"))
  }

  test("later failures ride along as suppressed, in thunk order") {
    val first = new RuntimeException("first")
    val second = new RuntimeException("second")
    val thrown = intercept[RuntimeException] {
      ConcurrentJobs.runAll(spark.sparkContext, Seq(
        () => { Thread.sleep(200); throw first },
        () => (),
        () => throw second))
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(second))
  }
}
