package graft.storage

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite
import graft.{ChildJvm, GraftSession}
import graft.core._
import graft.core.AstarteValueType._
import graft.events.EventSink
import graft.streaming.{DeviceStateMachine, Envelope, Pipeline, Registry}
import graft.triggers._

/** A warm micro-batch starts no OS process: the fork-free local
  * filesystem covers the store's writes and commits, the state store's
  * deltas and the offset and commit logs. Each case runs in a child JVM
  * ([[ZeroProcessChild]]), because Hadoop's `FileSystem` cache is
  * process-wide and this JVM's is shared by every spec.
  */
class ZeroProcessSpec extends AnyFunSuite {

  private def run(mode: String): (Int, String) = {
    val base = Files.createTempDirectory("graft-zero-proc").toString
    val log = new File(s"$base/child.out")
    val p = ChildJvm.launch("graft.storage.ZeroProcessChild", Seq(mode, base), log,
      env = Map("SPARK_GRAFT_CPUS" -> "2"))
    val exited = p.waitFor(300, TimeUnit.SECONDS)
    if (!exited) p.destroyForcibly().waitFor()
    (if (exited) p.exitValue() else -1, Files.readString(log.toPath).takeRight(6000))
  }

  test("micro-batches 2 and 3 of a GraftSession pipeline start no OS process") {
    val (code, out) = run("drain")
    assert(code == 0, s"child exited $code:\n$out")
    assert(out.contains("[zero-process] 0 process starts in batches 2-3"), out)
  }

  test("GraftSession.build() fails when the cached file: filesystem is the stock one") {
    val (code, out) = run("stock-first")
    assert(code == 0, s"child exited $code:\n$out")
    assert(out.contains("[zero-process] build refused the stock"), out)
  }
}

/** Child half of [[ZeroProcessSpec]]. args: mode, base dir.
  *
  *  - `drain`: builds the session with `GraftSession.build()` and drains
  *    three small shards through `Pipeline.start` into a store and a
  *    topic, one micro-batch each, with a JFR recording of
  *    `jdk.ProcessStart` alone around batches 2 and 3. Prints the count
  *    and the stack of every process start; exits 1 if there was one.
  *  - `stock-first`: caches Hadoop's stock `file:` filesystem first,
  *    then exits 0 only if `GraftSession.build()` refuses it.
  */
object ZeroProcessChild {

  private val iface = InterfaceDescriptor("com.test.LCDMonitor", 1, 3,
    InterfaceType.Properties, Ownership.Device, Aggregation.Individual)
  private val registry = Registry(
    Map(iface.name -> iface),
    Map(iface.name -> Seq(
      Mapping(iface.name, 1, "/weekSchedule/%{day}/start", ALongInteger))),
    Seq(Trigger("t1", TriggerEventType.IncomingData,
      TriggerScope.OnInterface(iface.name, 1), Some("/weekSchedule//start"),
      MatchOperator.GreaterThan, 9L, List("test_events"))))

  def main(args: Array[String]): Unit = {
    val Array(mode, base) = args
    val code = mode match {
      case "drain" => drain(base)
      case "stock-first" => stockFirst()
    }
    sys.exit(code)
  }

  private def stockFirst(): Int = {
    val stock = FileSystem.get(URI.create("file:///"), new Configuration()).getClass.getName
    try { GraftSession.build(); println(s"[zero-process] build accepted $stock"); 1 }
    catch {
      case e: IllegalStateException if e.getMessage.contains(stock) =>
        println(s"[zero-process] build refused the stock $stock: ${e.getMessage}"); 0
    }
  }

  private def drain(base: String): Int = {
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // stage the three shards first; each is moved into the source dir
    // whole, by a plain rename, right before its batch
    val staging = s"$base/staging"
    val src = s"$base/src"
    Files.createDirectories(Paths.get(src))
    (1 to 3).foreach { b =>
      (0 until 3).map { i =>
        Envelope("r", s"dev$i", "data", iface.name, s"/weekSchedule/$b/start",
          Bson.encode(Seq("v" -> (b * 10L + i))), b * 1000000000L + i, "ip", b * 10L + i)
      }.toDS().write.parquet(s"$staging/shard-$b")
    }
    def publish(b: Int): Unit = Files.move(Paths.get(s"$staging/shard-$b"),
      Paths.get(s"$src/shard-$b"), StandardCopyOption.ATOMIC_MOVE)

    val q = Pipeline.start(Pipeline.fileSource(spark, s"$src/*"),
      DeviceStateMachine.StaticRegistryProvider(registry),
      new AstarteStore(s"$base/store"), new EventSink(s"$base/events"), s"$base/ckpt")
    val recording = new jdk.jfr.Recording()
    try {
      publish(1)
      q.processAllAvailable()
      // Spark's executor heartbeater starts one `getconf PAGESIZE` per
      // JVM, at its first beat 10-20 s after start, when it sets up its
      // process-tree metrics. Do that set-up here, so that the recording
      // holds the batches' own work whenever the first beat falls.
      Class.forName("org.apache.spark.executor.ProcfsMetricsGetter")
        .getMethod("pTreeInfo").invoke(null)
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      publish(2)
      q.processAllAvailable()
      publish(3)
      q.processAllAvailable()
      recording.stop()
    } finally q.stop()
    val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    if (batches.size != 3) {
      println(s"[zero-process] expected three non-empty batches, got $batches")
      return 2
    }
    val dump = Paths.get(s"$base/process-start.jfr")
    recording.dump(dump)
    recording.close()
    val events = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
    events.foreach(e => println(e))
    println(s"[zero-process] ${events.size} process starts in batches 2-3")
    spark.stop()
    if (events.isEmpty) 0 else 1
  }
}
