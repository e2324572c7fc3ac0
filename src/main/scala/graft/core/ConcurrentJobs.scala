package graft.core

import org.apache.spark.SparkContext

/** Independent Spark actions run as concurrent jobs, one thread each. */
object ConcurrentJobs {

  /** Run every thunk on its own thread and wait for all of them, also
    * after one has failed: callers release shared inputs (a persisted
    * batch) afterwards, which must not happen under a job still reading
    * them. Each thread carries the caller's job description, so its
    * jobs are named as if the caller had run them. The first failure in
    * `thunks` order is rethrown, the others attached as suppressed.
    */
  def runAll(sc: SparkContext, thunks: Seq[() => Unit]): Unit = {
    val description = sc.getLocalProperty("spark.job.description")
    val failures = new Array[Throwable](thunks.size)
    val threads = thunks.zipWithIndex.map { case (run, i) =>
      val t = new Thread(() =>
        try { sc.setJobDescription(description); run() }
        catch { case e: Throwable => failures(i) = e },
        s"graft-job-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => ()
    }
  }
}
