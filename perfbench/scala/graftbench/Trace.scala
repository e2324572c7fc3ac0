package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded span. Times are epoch nanoseconds measured by the
  * benchmark (wall clock anchored once at start, advanced by nanoTime),
  * so spans built from Spark's own progress timestamps and spans timed
  * around public calls share one time axis. `op` is the batch or
  * operation id that all children of one batch/read/query share.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are only kept when tracing is on;
  * `time` still returns the block's result either way, so the timed
  * code path is the same in both modes apart from the bookkeeping.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val anchorWall = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()

  def nowNs: Long = anchorWall + (System.nanoTime() - anchorNano)

  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, name: String, op: String, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = nextId()
      spans.add(Span(id, parent, name, op, startNs, endNs))
      id
    }

  /** Run `body` inside a span; returns (result, milliseconds). */
  def time[A](name: String, op: String, parent: Long = 0L)(body: => A): (A, Double) = {
    val t0 = nowNs
    val r = body
    val t1 = nowNs
    add(parent, name, op, t0, t1)
    (r, (t1 - t0) / 1e6)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"op":${Json.str(s.op)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      sb.append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Per-job census from Spark's listener bus: jobs, tasks, executor
  * CPU, shuffle and input volume, keyed by the job description of each
  * operation, plus each job's start and end times.
  */
final class Census extends SparkListener {
  final class Agg {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val bytesRead = new AtomicLong
    val recordsRead = new AtomicLong
  }
  private val byKey = new java.util.concurrent.ConcurrentHashMap[String, Agg]()
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** (key, start ms, end ms) of every finished job. */
  val jobTimes = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()

  def agg(key: String): Agg = byKey.computeIfAbsent(key, _ => new Agg)
  def keys: Seq[String] = byKey.keySet.asScala.toSeq

  /** The job description names the operation: the benchmark sets it
    * with each job group, the pipeline per micro-batch (the streaming
    * engine's own job group is the query run id, shared by all batches).
    */
  private def keyOf(p: java.util.Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("spark.job.description"))
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    agg(k).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageKey.put(s, k))
    jobInfo.put(e.jobId, (k, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val info = jobInfo.remove(e.jobId)
    if (info != null) jobTimes.add((info._1, info._2, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = Option(stageKey.get(e.stageId)).getOrElse("none")
    val a = agg(k)
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      a.recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Process- and disk-level probes shared by the workloads. */
object Probe {
  def rssHighWaterMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** (data files, bytes) under `dir`: parquet files only, so Spark's
    * checksum and marker files do not count as stored data.
    */
  def parquetFiles(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val st = java.nio.file.Files.walk(root)
    try {
      val files = st.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
    } finally st.close()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

}

/** Session-level helpers: job grouping for the census. */
object Groups {
  def run[A](spark: SparkSession, group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
