package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.AstarteValueType._
import graft.events.EventSink
import graft.storage.AstarteStore
import graft.triggers._

/** Full pipeline: file source → state machine → store + event sink,
  * driven through a real streaming query with checkpointing.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("file source to store and events, with checkpoint") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pipe").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()

    val iface = InterfaceDescriptor("com.test.LCDMonitor", 1, 3,
      InterfaceType.Properties, Ownership.Device, Aggregation.Individual)
    val registry = Registry(
      Map(iface.name -> iface),
      Map(iface.name -> Seq(
        Mapping(iface.name, 1, "/weekSchedule/%{day}/start", ALongInteger))),
      Seq(Trigger("t1", TriggerEventType.IncomingData,
        TriggerScope.OnInterface(iface.name, 1), Some("/weekSchedule//start"),
        MatchOperator.GreaterThan, 9L, List("test_events"))))

    // drop one shard file with 3 messages (2 devices)
    Seq(
      Envelope("r", "devA", "data", iface.name, "/weekSchedule/2/start",
        Bson.encode(Seq("v" -> 12L)), 1000010000L, "ip", 1),
      Envelope("r", "devA", "data", iface.name, "/weekSchedule/2/start",
        Bson.encode(Seq("v" -> 5L)), 1000020000L, "ip", 2),
      Envelope("r", "devB", "data", iface.name, "/weekSchedule/3/start",
        Bson.encode(Seq("v" -> 42L)), 1000030000L, "ip", 3)
    ).toDS().write.parquet(s"$srcDir/shard-0")

    val store = new AstarteStore(s"$base/store")
    val sink = new EventSink(s"$base/events")
    val q = Pipeline.start(
      Pipeline.fileSource(spark, s"$srcDir/*"),
      DeviceStateMachine.StaticRegistryProvider(registry),
      store, sink, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()

    // properties: LWW per device
    val props = store.propertyValues(spark, ALongInteger).collect()
      .map(r => r.getAs[String]("device_id") -> r.getAs[Long]("value")).toMap
    assert(props == Map("devA" -> 5L, "devB" -> 42L))

    // events: trigger fired for 12 and 42 (GT 9), not 5
    val fired = sink.read(spark)
      .filter("event_type = 'incoming_data'")
      .select("device_id", "wire", "headers", "routing_key")
      .collect()
    assert(fired.map(_.getAs[String]("device_id")).sorted.toSeq == Seq("devA", "devB"))

    // S7 wire parity: each sink row carries decodable SimpleEvent
    // protobuf bytes + the five x_astarte_* headers
    fired.foreach { r =>
      val (_, _, ev) = graft.events.SimpleEventCodec.decode(
        r.getAs[Array[Byte]]("wire"), r.getAs[String]("routing_key"))
      val in = ev.asInstanceOf[graft.events.IncomingData]
      assert(in.deviceId == r.getAs[String]("device_id"))
      assert(in.interface == iface.name)
      val hs = r.getAs[Map[String, String]]("headers")
      assert(hs("x_astarte_event_type") == "incoming_data_event")
      assert(hs("x_astarte_device_id") == in.deviceId)
    }
  }

  test("S5 effectively-once: same-checkpoint restart does not re-apply effects") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-resume").toString
    val srcDir = s"$base/src"; new java.io.File(srcDir).mkdirs()
    val iface = InterfaceDescriptor("e.iface", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Individual)
    val registry = Registry(
      Map(iface.name -> iface),
      Map(iface.name -> Seq(Mapping(iface.name, 1, "/v", AInteger))), Nil)
    val store = new AstarteStore(s"$base/store")
    val sink = new EventSink(s"$base/events")
    def startQuery() = Pipeline.start(
      Pipeline.fileSource(spark, s"$srcDir/*"),
      DeviceStateMachine.StaticRegistryProvider(registry),
      store, sink, s"$base/ckpt")

    Seq(Envelope("r", "dev", "data", iface.name, "/v",
      Bson.encode(Seq("v" -> 1)), 3000010000L, "ip", 1)).toDS()
      .write.parquet(s"$srcDir/shard-0")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(store.datastreams(spark).count() == 1)

    // restart from the SAME checkpoint with a new shard: only the new
    // shard's offsets are processed — the first value is not re-applied
    Seq(Envelope("r", "dev", "data", iface.name, "/v",
      Bson.encode(Seq("v" -> 2)), 3000020000L, "ip", 2)).toDS()
      .write.parquet(s"$srcDir/shard-1")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val rows = store.datastreams(spark).collect()
    assert(rows.length == 2) // one row per distinct value, no replays
  }

  test("S2 fan-in: two shard sources union into one ordered device stream") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-fanin").toString
    val iface = InterfaceDescriptor("f.iface", 1, 0,
      InterfaceType.Properties, Ownership.Device, Aggregation.Individual)
    val registry = Registry(
      Map(iface.name -> iface),
      Map(iface.name -> Seq(Mapping(iface.name, 1, "/p", ALongInteger))), Nil)

    // the same device's messages split across two shards, with the
    // LATEST write living on shard B — fan-in + per-device re-sort
    // must still apply them in reception order
    new java.io.File(s"$base/sA").mkdirs(); new java.io.File(s"$base/sB").mkdirs()
    Seq(Envelope("r", "dev", "data", iface.name, "/p",
      Bson.encode(Seq("v" -> 1L)), 2000010000L, "ip", 1)).toDS()
      .write.parquet(s"$base/sA/f0")
    Seq(Envelope("r", "dev", "data", iface.name, "/p",
      Bson.encode(Seq("v" -> 2L)), 2000020000L, "ip", 2)).toDS()
      .write.parquet(s"$base/sB/f0")

    val store = new AstarteStore(s"$base/store")
    val q = Pipeline.start(
      Pipeline.fanIn(Seq(
        Pipeline.fileSource(spark, s"$base/sA/*"),
        Pipeline.fileSource(spark, s"$base/sB/*"))),
      DeviceStateMachine.StaticRegistryProvider(registry),
      store, new EventSink(s"$base/events"), s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()

    val props = store.propertyValues(spark, ALongInteger).collect()
    assert(props.length == 1)
    assert(props.head.getAs[Long]("value") == 2L) // shard B's later write wins
  }

  test("one Spark job per micro-batch, fold runs once") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pipe-jobs").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val (registry, envelopes) = twoTableTraffic("devA", "devB", 4000000000L)
    envelopes.toDS().write.parquet(s"$srcDir/shard-0")

    // (job group, job description) of every job; the streaming query
    // runs its jobs under its run id as the job group
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val store = new AstarteStore(s"$base/store")
    val sink = new EventSink(s"$base/events")
    val q = Pipeline.start(
      Pipeline.fileSource(spark, s"$srcDir/*"),
      DeviceStateMachine.StaticRegistryProvider(registry),
      store, sink, s"$base/ckpt")
    try q.processAllAvailable() finally {
      q.stop()
      org.apache.spark.sql.graft.ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }

    val batch = q.recentProgress.filter(_.numInputRows > 0)
    assert(batch.map(_.batchId).toSeq == Seq(0L))
    // the four tables this traffic touches, and no staging directory left
    val tables = new java.io.File(s"$base/store").listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(tables == Set("individual_properties", "individual_datastreams", "devices.log", "paths"))
    assert(new java.io.File(s"$base/events").isDirectory)
    import scala.jdk.CollectionConverters._
    val batchJobs = jobs.asScala.count(_ == ((q.runId.toString, "graft effects batch 0")))
    assert(batchJobs == 1, s"$batchJobs jobs for ${tables.size} tables and the event topic")
    // the fold (and its state-store commit) ran once: one updated
    // state row per device, not one per re-computation
    assert(batch.last.stateOperators(0).numRowsUpdated == 2)
  }

  test("three micro-batches ship one plan broadcast, and write every batch's rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pipe-shipped").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val store = new AstarteStore(s"$base/store")
    val sink = new EventSink(s"$base/events")
    val traffic = (0 until 3).map(i => twoTableTraffic(s"dev${i}A", s"dev${i}B", 8000000000L + i * 1000000L))
    val before = graft.storage.EffectWriter.plansShipped.get
    val q = Pipeline.start(Pipeline.fileSource(spark, s"$srcDir/*"),
      DeviceStateMachine.StaticRegistryProvider(traffic.head._1), store, sink, s"$base/ckpt")
    try traffic.zipWithIndex.foreach { case ((_, envs), i) =>
      envs.toDS().write.parquet(s"$srcDir/shard-$i")
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq == Seq(0L, 1L, 2L))
    assert(graft.storage.EffectWriter.plansShipped.get - before == 1)

    val devices = (0 until 3).flatMap(i => Seq(s"dev${i}A", s"dev${i}B"))
    val props = store.propertyValues(spark, ALongInteger).collect()
      .map(r => r.getAs[String]("device_id") -> r.getAs[Long]("value")).toMap
    assert(props == devices.map(d => d -> (if (d.endsWith("A")) 12L else 42L)).toMap)
    assert(store.datastreams(spark).select("device_id", "integer_value").as[(String, Int)].collect().sorted.toSeq ==
      devices.map(d => d -> (if (d.endsWith("A")) 1 else 2)))
    val fired = sink.read(spark).select("device_id", "event_type", "routing_key").as[(String, String, String)]
      .collect().sorted.toSeq
    assert(fired == devices.map(d => (d, "incoming_data", "job_events")))
  }

  test("a flipped byte in a stopped query's checkpoint fails the restart") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pipe-crc").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val (registry, envelopes) = twoTableTraffic("devA", "devB", 9000000000L)
    envelopes.toDS().write.parquet(s"$srcDir/shard-0")
    val store = new AstarteStore(s"$base/store")
    val sink = new EventSink(s"$base/events")
    def start() = Pipeline.start(Pipeline.fileSource(spark, s"$srcDir/*"),
      DeviceStateMachine.StaticRegistryProvider(registry), store, sink, s"$base/ckpt")
    val q = start()
    try q.processAllAvailable() finally q.stop()

    // the commit log entry of batch 0, "v1\n{"nextBatchWatermarkMs":0}":
    // its last digit becomes another valid one
    val commit = java.nio.file.Paths.get(s"$base/ckpt/commits/0")
    assert(Files.exists(java.nio.file.Paths.get(s"$base/ckpt/commits/.0.crc")))
    val bytes = Files.readAllBytes(commit)
    val at = bytes.lastIndexWhere(_ == '0'.toByte)
    bytes(at) = '1'.toByte
    Files.write(commit, bytes)

    val again = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try again.processAllAvailable() finally again.stop()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
      causes.map(_.toString).mkString("\n"))
  }

  /** Two devices' property sets (each fires the trigger) and datastream
    * values, received from `t0` (decimicroseconds) on.
    */
  private def twoTableTraffic(devA: String, devB: String, t0: Long): (Registry, Seq[Envelope]) = {
    val props = InterfaceDescriptor("j.props", 1, 0,
      InterfaceType.Properties, Ownership.Device, Aggregation.Individual)
    val stream = InterfaceDescriptor("j.stream", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Individual)
    val registry = Registry(
      Map(props.name -> props, stream.name -> stream),
      Map(props.name -> Seq(Mapping(props.name, 1, "/p", ALongInteger)),
        stream.name -> Seq(Mapping(stream.name, 1, "/v", AInteger))),
      Seq(Trigger("t1", TriggerEventType.IncomingData,
        TriggerScope.OnInterface(props.name, 1), Some("/p"),
        MatchOperator.GreaterThan, 9L, List("job_events"))))
    (registry, Seq(
      Envelope("r", devA, "data", props.name, "/p",
        Bson.encode(Seq("v" -> 12L)), t0 + 10000L, "ip", 1),
      Envelope("r", devA, "data", stream.name, "/v",
        Bson.encode(Seq("v" -> 1)), t0 + 20000L, "ip", 2),
      Envelope("r", devB, "data", props.name, "/p",
        Bson.encode(Seq("v" -> 42L)), t0 + 30000L, "ip", 3),
      Envelope("r", devB, "data", stream.name, "/v",
        Bson.encode(Seq("v" -> 2)), t0 + 40000L, "ip", 4)))
  }

  /** Every file under `dir` by relative path, with its bytes. */
  private def filesUnder(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("replaying a micro-batch leaves the store and topic byte-identical") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pipe-replay").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val (registry, envelopes) = twoTableTraffic("devA", "devB", 5000000000L)
    envelopes.toDS().write.parquet(s"$srcDir/shard-0")
    val store = new AstarteStore(s"$base/store")
    val sink = new EventSink(s"$base/events")
    def run(): Unit = {
      val q = Pipeline.start(Pipeline.fileSource(spark, s"$srcDir/*"),
        DeviceStateMachine.StaticRegistryProvider(registry), store, sink, s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    def reads() = (
      store.propertyValues(spark, ALongInteger).collect().map(_.toString).sorted.toSeq,
      store.datastreams(spark).collect().map(_.toString).sorted.toSeq,
      sink.read(spark).select("device_id", "routing_key", "wire").collect()
        .map(r => (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq)).sortBy(_._1).toSeq)

    run()
    val files = (filesUnder(s"$base/store"), filesUnder(s"$base/events"))
    val before = reads()
    assert(before._1.size == 2 && before._2.size == 2 && before._3.size == 2)
    // the batch ran, but its commit was never recorded: the restart
    // on the same checkpoint runs batch 0 again
    assert(new java.io.File(s"$base/ckpt/commits/0").delete())
    new java.io.File(s"$base/ckpt/commits/.0.crc").delete()
    run()
    val again = (filesUnder(s"$base/store"), filesUnder(s"$base/events"))
    assert(again._1.keySet == files._1.keySet && again._2.keySet == files._2.keySet)
    assert(again == files, "a replayed batch changed the bytes of a committed file")
    assert(reads() == before)
  }

  test("two queries with their own checkpoints share one store and topic") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pipe-two").toString
    val store = new AstarteStore(s"$base/store")
    val sink = new EventSink(s"$base/events")
    // both queries number their batches 0..n: file names must tell
    // them apart by more than the batch id
    val (registry, first) = twoTableTraffic("devA", "devB", 6000000000L)
    val (_, second) = twoTableTraffic("devC", "devD", 7000000000L)
    Seq("one" -> first, "two" -> second).foreach { case (name, envs) =>
      new java.io.File(s"$base/$name").mkdirs()
      envs.toDS().write.parquet(s"$base/$name/shard-0")
      val q = Pipeline.start(Pipeline.fileSource(spark, s"$base/$name/*"),
        DeviceStateMachine.StaticRegistryProvider(registry), store, sink, s"$base/ckpt-$name")
      try q.processAllAvailable() finally q.stop()
    }
    val props = store.propertyValues(spark, ALongInteger).collect()
      .map(r => r.getAs[String]("device_id") -> r.getAs[Long]("value")).toMap
    assert(props == Map("devA" -> 12L, "devB" -> 42L, "devC" -> 12L, "devD" -> 42L))
    assert(store.datastreams(spark).select("device_id").as[String].collect().sorted.toSeq ==
      Seq("devA", "devB", "devC", "devD"))
    assert(sink.read(spark).select("device_id").as[String].collect().sorted.toSeq ==
      Seq("devA", "devB", "devC", "devD"))
  }
}
