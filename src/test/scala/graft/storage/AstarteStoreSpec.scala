package graft.storage

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.AstarteValueType._
import graft.streaming._
import graft.triggers._

/** End-to-end write/read: messages → state machine → applyEffects →
  * table snapshots, asserting the stored-row contract the reference's
  * tests check (FIXTURES.md §4 seed values).
  */
class AstarteStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val lcd = InterfaceDescriptor("com.test.LCDMonitor", 1, 3,
    InterfaceType.Properties, Ownership.Device, Aggregation.Individual)
  private val stream = InterfaceDescriptor("com.test.SimpleStreamTest", 1, 0,
    InterfaceType.Datastream, Ownership.Device, Aggregation.Individual)
  private val registry = Registry(
    Map(lcd.name -> lcd, stream.name -> stream),
    Map(
      lcd.name -> Seq(
        Mapping(lcd.name, 1, "/time/from", ALongInteger, allowUnset = true),
        Mapping(lcd.name, 1, "/time/to", ALongInteger, allowUnset = true),
        Mapping(lcd.name, 1, "/lcdCommand", AString, allowUnset = true)),
      stream.name -> Seq(
        Mapping(stream.name, 1, "/%{itemIndex}/value", AInteger))),
    Nil)

  test("golden write/read: upsert, LWW overwrite, unset, datastream order") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new AstarteStore(root)
    val dev = "f0VMRgIBAQAAAAAAAAAAAA"
    val t0 = 15216455705950000L

    def d(path: String, v: Any, off: Long): Envelope =
      Envelope("realm", dev, "data", lcd.name, path,
        Bson.encode(Seq("v" -> v)), t0 + off * 10000, "ip", off)

    val msgs = Seq(
      d("/time/from", 8L, 1),
      d("/time/to", 20L, 2),
      d("/lcdCommand", "SWITCH_ON", 3),
      d("/time/from", 9L, 4), // LWW overwrite
      Envelope("realm", dev, "data", lcd.name, "/time/to",
        Array.emptyByteArray, t0 + 50000, "ip", 5), // unset
      Envelope("realm", dev, "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 4)), t0 + 60000, "ip", 6),
      Envelope("realm", dev, "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 5)), t0 + 70000, "ip", 7)
    ).toDS()

    store.applyEffects(DeviceStateMachine.processBatch(msgs, registry))

    // W1/W2 + R5: properties snapshot is LWW and unset-aware
    val longs = store.propertyValues(spark, ALongInteger)
      .collect().map(r => r.getAs[String]("path") -> r.getAs[Long]("value")).toMap
    assert(longs == Map("/time/from" -> 9L)) // /time/to unset, /time/from overwritten
    val strings = store.propertyValues(spark, AString)
      .collect().map(r => r.getAs[String]("path") -> r.getAs[String]("value")).toMap
    assert(strings == Map("/lcdCommand" -> "SWITCH_ON"))

    // W3: datastream rows appended in order with integer column landing
    val ds = store.datastreams(spark)
      .orderBy("value_timestamp").collect()
    assert(ds.map(_.getAs[Int]("integer_value")).toSeq == Seq(4, 5))
    assert(ds.forall(_.getAs[String]("iface") == stream.name))

    // compaction preserves the snapshot
    store.properties.compact(spark)
    val afterCompact = store.propertyValues(spark, ALongInteger)
      .collect().map(r => r.getAs[String]("path") -> r.getAs[Long]("value")).toMap
    assert(afterCompact == Map("/time/from" -> 9L))
  }

  test("object table: registry-projected columns, partial rows stay NULL") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-obj").toString
    val store = new AstarteStore(root)
    val obj = InterfaceDescriptor("com.example.TestObject", 1, 5,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Object)
    val objMappings = Seq(
      Mapping(obj.name, 1, "/string", AString),
      Mapping(obj.name, 1, "/value", ADouble))
    val reg = Registry(Map(obj.name -> obj), Map(obj.name -> objMappings), Nil)
    val t0 = 15216455705950000L
    def objMsg(v: Map[String, Any], off: Long) =
      Envelope("r", "dev", "data", obj.name, "/",
        Bson.encode(Seq("v" -> scala.collection.immutable.ListMap(v.toSeq.sortBy(_._1): _*))),
        t0 + off * 10000, "ip", off)
    // full row, then a partial row (only /value) — the fixture shape
    val msgs = Seq(
      objMsg(Map("string" -> "aaa", "value" -> 1.1), 1),
      objMsg(Map("value" -> 2.2), 2)).toDS()
    store.applyEffects(DeviceStateMachine.processBatch(msgs, reg), reg)

    val rows = store.objectTable(spark, obj, objMappings)
      .orderBy("reception_timestamp").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("v_string") == "aaa")
    assert(rows(0).getAs[Double]("v_value") == 1.1)
    assert(rows(1).isNullAt(rows(1).fieldIndex("v_string"))) // absent key → NULL
    assert(rows(1).getAs[Double]("v_value") == 2.2)
    // schema evolution: a minor bump adding a leaf is projection-only
    val evolved = objMappings :+ Mapping(obj.name, 1, "/extra", ALongInteger)
    val withNew = store.objectTable(spark, obj, evolved).collect()
    assert(withNew.forall(_.isNullAt(withNew.head.fieldIndex("v_extra"))))
  }

  test("object rows land in the table of THEIR major across a live bump") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-obj-major").toString
    val store = new AstarteStore(root)
    val v1 = InterfaceDescriptor("com.example.TestObject", 1, 5,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Object)
    val v2 = v1.copy(major = 2)
    val m1 = Seq(Mapping(v1.name, 1, "/value", ADouble))
    val m2 = Seq(Mapping(v1.name, 2, "/value", ADouble),
      Mapping(v1.name, 2, "/extra", AString))
    val regV1 = Registry(Map(v1.name -> v1), Map(v1.name -> m1), Nil)
    // sink-time registry: major bumped to 2, but it still KNOWS the
    // v1 mapping set (both majors in the mapping list)
    val regV2 = Registry(Map(v2.name -> v2), Map(v2.name -> (m1 ++ m2)), Nil)
    val t0 = 15216455705950000L
    val msgs = Seq(Envelope("r", "dev", "data", v1.name, "/",
      Bson.encode(Seq("v" -> Map("value" -> 1.5))), t0, "ip", 1)).toDS()
    // fold under v1, sink under v2 — the live-bump race
    val fx = DeviceStateMachine.processBatch(msgs, regV1)
    store.applyEffects(fx, regV2)
    // the row was validated under v1, so it must be in the v1 table
    val v1rows = store.objectTable(spark, v1, m1).collect()
    assert(v1rows.length == 1)
    assert(v1rows(0).getAs[Double]("v_value") == 1.5)
    // and the v2 table is EMPTY (registered, no data yet) — readable
    // as an empty frame, not a PATH_NOT_FOUND crash
    assert(store.objectTable(spark, v2, m2).count() == 0)
  }

  test("an object append the registry cannot type fails the batch before any write") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-obj-unregistered").toString
    val store = new AstarteStore(root)
    val obj = InterfaceDescriptor("com.example.TestObject", 1, 5,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Object)
    val reg = Registry(Map(obj.name -> obj, lcd.name -> lcd),
      Map(obj.name -> Seq(Mapping(obj.name, 1, "/value", ADouble))) ++ registry.mappings, Nil)
    val t0 = 15216455705950000L
    val msgs = Seq(
      Envelope("r", "dev", "data", lcd.name, "/time/from",
        Bson.encode(Seq("v" -> 8L)), t0, "ip", 1),
      Envelope("r", "dev", "data", obj.name, "/",
        Bson.encode(Seq("v" -> Map("value" -> 1.5))), t0 + 10000, "ip", 2)).toDS()
    // folded with the object interface known, sunk without it
    val fx = DeviceStateMachine.processBatch(msgs, reg)
    assert(fx.filter($"kind" === "object_append").count() == 1)
    assert(fx.filter($"kind" === "property_upsert").count() == 1)
    val e = intercept[IllegalStateException](store.applyEffects(fx))
    assert(e.getMessage.contains("no registry entry"))
    // the property table, the devices log and every other table are untouched
    assert(new java.io.File(root).list().isEmpty)
  }

  test("a write task that fails leaves every table untouched") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-failed-task").toString
    val store = new AstarteStore(root)
    val t0 = 15216455705950000L
    // one device: its property row is written before its datastream
    // row fails the task
    val fx = DeviceStateMachine.processBatch(Seq(
      Envelope("r", "dev", "data", lcd.name, "/time/from",
        Bson.encode(Seq("v" -> 8L)), t0, "ip", 1),
      Envelope("r", "dev", "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 4)), t0 + 10000, "ip", 2)).toDS(), registry)
      .map(e => if (e.kind == "datastream_append") throw new IllegalStateException("injected") else e)
    val e = intercept[org.apache.spark.SparkException](store.applyEffects(fx, registry))
    assert(e.getMessage.contains("injected"))
    assert(new java.io.File(root).list().isEmpty)
  }

  test("a task whose rows span more partition dirs than it keeps writers open writes one file per dir") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-wide").toString
    val store = new AstarteStore(root)
    val dayMs = 86400000L
    // one device, so one fold task sees all 80 days of history
    val days = 0 until 80
    val msgs = days.map { day =>
      Envelope("realm", "dev", "data", stream.name, s"/$day/value",
        Bson.encode(Seq("v" -> day)), (day * dayMs + 1000L) * 10000, "ip", day.toLong)
    }.toDS()
    store.applyEffects(DeviceStateMachine.processBatch(msgs, registry))
    val rows = store.datastreams(spark).select($"day".cast("long"), $"integer_value")
      .as[(Long, Int)].collect().sorted.toSeq
    assert(rows == days.map(d => (d.toLong, d)))
    days.foreach { day =>
      val dir = new java.io.File(s"${store.datastreamPath}/iface=${stream.name}/day=$day")
      assert(dir.list().count(_.endsWith(".parquet")) == 1, s"day $day")
    }
    assert(store.pathsFor(spark, stream.name).count() == days.size)
  }

  test("a batch plans only the tables no earlier batch planned, whatever the registry's size") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-planned").toString
    val store = new AstarteStore(root)
    val objects = (0 until 40).map(i => InterfaceDescriptor(s"com.example.Object$i", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Object))
    def reg(n: Int) = Registry(registry.interfaces ++ objects.take(n).map(o => o.name -> o),
      registry.mappings ++ objects.take(n).map(o => o.name -> Seq(Mapping(o.name, 1, "/value", ADouble))), Nil)
    val t0 = 15216455705950000L
    def batch(n: Long) = DeviceStateMachine.processBatch(Seq(
      Envelope("r", "dev", "data", lcd.name, "/time/from",
        Bson.encode(Seq("v" -> n)), t0 + n * 10000, "ip", 2 * n),
      Envelope("r", "dev", "data", objects(0).name, "/",
        Bson.encode(Seq("v" -> Map("value" -> n.toDouble))), t0 + n * 10000 + 1, "ip", 2 * n + 1)).toDS(),
      reg(objects.size))
    def planned(sink: => Unit): Long = {
      val before = EffectWriter.tablesPlanned.get
      sink
      EffectWriter.tablesPlanned.get - before
    }
    // five kind tables (both property kinds share one) and every object table
    assert(planned(store.applyEffects(batch(1), reg(39))) == 5 + 39)
    assert(planned(store.applyEffects(batch(2), reg(39))) == 0)
    assert(planned(store.applyEffects(batch(3), reg(40))) == 1)
    assert(store.objectTable(spark, objects(0), reg(1).mappingsOf(objects(0).name)).count() == 3)
  }

  /** `n` object interfaces with one `/value` leaf each; `reg` can bump
    * the first one's minor, which adds an `/extra` leaf. A batch holds a
    * property value and a value of the first object interface.
    */
  private final class ObjectTraffic(prefix: String, n: Int) {
    val objects = (0 until n).map(i => InterfaceDescriptor(s"$prefix$i", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Object))
    def reg(take: Int = n, minor: Int = 0): Registry = {
      val os = objects.take(take).updated(0, objects(0).copy(minor = minor))
      Registry(registry.interfaces ++ os.map(o => o.name -> o),
        registry.mappings ++ os.map(o => o.name -> (Mapping(o.name, 1, "/value", ADouble) +:
          (if (o.minor > 0) Seq(Mapping(o.name, 1, "/extra", ADouble)) else Nil))), Nil)
    }
    private val t0 = 15216455705950000L
    def batch(k: Long): org.apache.spark.sql.Dataset[EffectRow] = {
      import spark.implicits._
      DeviceStateMachine.processBatch(Seq(
        Envelope("r", "dev", "data", lcd.name, "/time/from",
          Bson.encode(Seq("v" -> k)), t0 + k * 10000, "ip", 2 * k),
        Envelope("r", "dev", "data", objects(0).name, "/",
          Bson.encode(Seq("v" -> Map("value" -> k.toDouble))), t0 + k * 10000 + 1, "ip", 2 * k + 1)).toDS(),
        reg())
    }
    def rows(store: AstarteStore): Long =
      store.objectTable(spark, objects(0), reg(1).mappingsOf(objects(0).name)).count()
  }

  /** (plans shipped, tables planned) while `sink` runs. */
  private def shipped(sink: => Unit): (Long, Long) = {
    val (plans, tables) = (EffectWriter.plansShipped.get, EffectWriter.tablesPlanned.get)
    sink
    (EffectWriter.plansShipped.get - plans, EffectWriter.tablesPlanned.get - tables)
  }

  test("a batch's plan ships once: one broadcast per table set, a closure that does not grow") {
    val store = new AstarteStore(Files.createTempDirectory("graft-shipped").toString)
    val fx = new ObjectTraffic("com.example.Shipped", 40)
    assert(shipped(store.applyEffects(fx.batch(1), fx.reg()))._1 == 1)
    assert(shipped(store.applyEffects(fx.batch(2), fx.reg()))._1 == 0)
    // a minor bump adds a leaf column to one object table: one new plan
    assert(shipped(store.applyEffects(fx.batch(3), fx.reg(minor = 1)))._1 == 1)
    assert(shipped(store.applyEffects(fx.batch(4), fx.reg(minor = 1)))._1 == 0)
    assert(fx.rows(store) == 4)

    // what every task of the batch's job is sent: the same few hundred
    // bytes for one object interface as for forty
    def closureBytes(n: Int): Int = {
      val df = fx.batch(5).toDF()
      val (task, _) = EffectWriter.task(df, Some(store.root -> store.tables(df, fx.reg(take = n))), None, None)
      org.apache.spark.SparkEnv.get.closureSerializer.newInstance().serialize(task).limit()
    }
    assert(closureBytes(1) == closureBytes(40))
    assert(closureBytes(40) < 2048, s"${closureBytes(40)} bytes")
  }

  test("plans past the kept-table bound are evicted and ship again when next used") {
    val store = new AstarteStore(Files.createTempDirectory("graft-evicted").toString)
    // two plans of 5 kind tables and 520 object tables each, sharing
    // all but one: together past the 1024 tables kept
    val fx = new ObjectTraffic("com.example.Evicted", 520)
    assert(shipped(store.applyEffects(fx.batch(1), fx.reg())) == ((1, 525)))
    assert(shipped(store.applyEffects(fx.batch(2), fx.reg(minor = 1))) == ((1, 1)))
    // the first plan was evicted (its broadcast left to Spark's context
    // cleaner); its tables are still planned, so it ships again without
    // planning any
    assert(shipped(store.applyEffects(fx.batch(3), fx.reg())) == ((1, 0)))
    assert(shipped(store.applyEffects(fx.batch(4), fx.reg())) == ((0, 0)))
    assert(fx.rows(store) == 4)
  }

  test("a batch whose plan is kept does not wait while another plan is planned") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val store = new AstarteStore(Files.createTempDirectory("graft-unblocked").toString)
    val fx = new ObjectTraffic("com.example.Unblocked", 1)
    store.applyEffects(fx.batch(1), fx.reg())
    // a topic table whose planning lasts until the warm batch is done
    val topic = Files.createTempDirectory("graft-unblocked-topic").toString
    val (planning, warmDone) = (new CountDownLatch(1), new CountDownLatch(1))
    val slow = new TableOut(topic, Seq("event_type"))({
      planning.countDown()
      warmDone.await(60, TimeUnit.SECONDS)
      new graft.events.EventSink(topic).table(spark).rows
    })
    val df = fx.batch(2).toDF()
    val cold = Future(EffectWriter.task(df, None, Some(topic -> slow), None))
    try {
      assert(planning.await(60, TimeUnit.SECONDS))
      val shipping = shipped(Await.result(Future(store.applyEffects(fx.batch(3), fx.reg())), 30.seconds))
      assert(shipping == ((0, 0)))
      assert(!cold.isCompleted)
    } finally warmDone.countDown()
    Await.result(cold, 60.seconds)
    assert(fx.rows(store) == 2)
  }

  test("replaying a batch of effects is harmless (effectively-once)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-replay").toString
    val store = new AstarteStore(root)
    val t0 = 15216455705950000L
    val msgs = Seq(
      Envelope("r", "dev", "data", lcd.name, "/time/from",
        Bson.encode(Seq("v" -> 8L)), t0, "ip", 1),
      Envelope("r", "dev", "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 4)), t0 + 10000, "ip", 2)).toDS()
    val fx = DeviceStateMachine.processBatch(msgs, registry)
    store.applyEffects(fx)
    store.applyEffects(fx) // crash-redelivery replay of the same batch
    assert(store.propertyValues(spark, ALongInteger).count() == 1)
    assert(store.datastreams(spark).count() == 1)
  }

  test("the batch writer's files carry DataFrameWriter's schema, codec and Spark metadata") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-footers").toString
    val store = new AstarteStore(s"$root/store")
    val t0 = 15216455705950000L
    val fx = DeviceStateMachine.processBatch(Seq(
      Envelope("r", "dev", "data", lcd.name, "/time/from",
        Bson.encode(Seq("v" -> 8L)), t0, "ip", 1),
      Envelope("r", "dev", "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 4)), t0 + 10000, "ip", 2)).toDS(), registry).cache()
    store.applyEffects(fx, registry)
    val conf = spark.sparkContext.hadoopConfiguration
    def footer(dir: String) = {
      import scala.jdk.CollectionConverters._
      val file = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toString), conf))
      try (file.getFileName.toString.split('.').takeRight(2).mkString("."), reader.getFooter)
      finally reader.close()
    }
    Seq("property_upsert", "datastream_append").foreach { kind =>
      val t = store.tables(fx.toDF().filter($"kind" === kind), registry)._1(kind)
      t.rows.write.partitionBy(t.partitionCols: _*).parquet(s"$root/ref-$kind")
      val (ext, got) = footer(t.path)
      val (refExt, want) = footer(s"$root/ref-$kind")
      assert(ext == refExt, kind)
      assert(got.getFileMetaData.getSchema == want.getFileMetaData.getSchema, kind)
      assert(got.getFileMetaData.getKeyValueMetaData == want.getFileMetaData.getKeyValueMetaData, kind)
      assert(got.getFileMetaData.getCreatedBy == want.getFileMetaData.getCreatedBy, kind)
      assert(got.getBlocks.get(0).getColumns.get(0).getCodec ==
        want.getBlocks.get(0).getColumns.get(0).getCodec, kind)
    }
    fx.unpersist()
  }

  test("publishing a batch's events is one Spark job") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-publish").toString
    val reg = registry.copy(triggers = Seq(Trigger("t1", TriggerEventType.IncomingData,
      TriggerScope.OnInterface(lcd.name, 1), Some("/time/from"),
      MatchOperator.GreaterThan, 5L, List("store_events"))))
    val t0 = 15216455705950000L
    val fx = DeviceStateMachine.processBatch(Seq(
      Envelope("r", "devA", "data", lcd.name, "/time/from",
        Bson.encode(Seq("v" -> 8L)), t0, "ip", 1),
      Envelope("r", "devB", "data", lcd.name, "/time/from",
        Bson.encode(Seq("v" -> 3L)), t0 + 10000, "ip", 2)).toDS(), reg).cache()
    fx.count()
    val sink = new graft.events.EventSink(s"$root/events")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "publish probe") jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobDescription("publish probe")
    try sink.publish(fx) finally {
      sc.setJobDescription(null)
      org.apache.spark.sql.graft.ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 1)
    assert(sink.read(spark).select("device_id").as[String].collect().toSeq == Seq("devA"))
    fx.unpersist()
  }

  test("path index TTL: upsert, read-back, sweep") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store2").toString
    val store = new AstarteStore(root)
    val reg2 = Registry(registry.interfaces,
      Map(stream.name -> Seq(
        Mapping(stream.name, 1, "/%{i}/value", AInteger, expirySeconds = 10))),
      Nil)
    val t0 = 15216455705950000L
    val msgs = Seq(
      Envelope("realm", "dev", "data", stream.name, "/3/value",
        Bson.encode(Seq("v" -> 1)), t0, "ip", 1)).toDS()
    store.applyEffects(DeviceStateMachine.processBatch(msgs, reg2))

    val nowMs = t0 / 10000
    val ttl = store.pathTtlRemaining(spark, nowMs).collect()
    assert(ttl.length == 1)
    // expiry = reception + 2.5 * 10s
    assert(ttl.head.getAs[Long]("ttl_remaining_ms") == 25000L)

    // clock tolerance: only 25s of TTL remain at nowMs → flagged for
    // refresh; checked 1h earlier (1h+25s of headroom) → not flagged
    assert(store.pathsNeedingRefresh(spark, nowMs).count() == 1)
    val earlier = nowMs - store.ClockToleranceMs
    assert(store.pathsNeedingRefresh(spark, earlier).collect().isEmpty)

    // sweep at a time past expiry removes the row
    store.sweepExpiredPaths(spark, nowMs + 30000)
    assert(store.pathsFor(spark, stream.name).collect().isEmpty)
  }

  test("(iface, day) layout prunes datastream scans at the partition level") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-prune").toString
    val store = new AstarteStore(root)
    val dayMs = 86400000L
    // values on three distinct UTC days
    val msgs = (0 until 3).map { day =>
      Envelope("realm", "dev", "data", stream.name, s"/$day/value",
        Bson.encode(Seq("v" -> day)), (day * dayMs + 1000L) * 10000, "ip", day.toLong)
    }.toDS()
    store.applyEffects(DeviceStateMachine.processBatch(msgs, registry))

    val pruned = store.datastreams(spark)
      .filter(org.apache.spark.sql.functions.col("day") === 1)
    assert(pruned.count() == 1)
    // the day predicate must resolve as a partition filter on the
    // scan (directory pruning), not a post-scan row filter
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"))
    assert(!scan.contains("PushedFilters: [IsNotNull(day)"))
  }

  test("path index covers no-retention mappings (null expiry, never swept)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store3").toString
    val store = new AstarteStore(root)
    val t0 = 15216455705950000L
    // `stream`'s mapping has NO retention — the path row must still land
    val msgs = Seq(
      Envelope("realm", "dev", "data", stream.name, "/7/value",
        Bson.encode(Seq("v" -> 1)), t0, "ip", 1)).toDS()
    store.applyEffects(DeviceStateMachine.processBatch(msgs, registry))

    val paths = store.pathsFor(spark, stream.name).collect()
    assert(paths.map(_.getAs[String]("path")).toSeq == Seq("/7/value"))
    // null expiry → never flagged for refresh, never swept
    assert(store.pathsNeedingRefresh(spark, t0 / 10000).isEmpty)
    store.sweepExpiredPaths(spark, Long.MaxValue - 1)
    assert(store.pathsFor(spark, stream.name).count() == 1)
  }

  test("datastream retention: expired value rows swept, no-retention kept") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store4").toString
    val store = new AstarteStore(root)
    val retained = InterfaceDescriptor("com.test.Retained", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Individual)
    val reg2 = Registry(
      Map(stream.name -> stream, retained.name -> retained),
      Map(
        stream.name -> Seq(Mapping(stream.name, 1, "/%{i}/value", AInteger)),
        retained.name -> Seq(
          Mapping(retained.name, 1, "/v", AInteger, expirySeconds = 10))),
      Nil)
    val t0 = 15216455705950000L
    val nowMs = t0 / 10000
    val msgs = Seq(
      Envelope("realm", "dev", "data", retained.name, "/v",
        Bson.encode(Seq("v" -> 1)), t0, "ip", 1),
      Envelope("realm", "dev", "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 2)), t0, "ip", 2)).toDS()
    store.applyEffects(DeviceStateMachine.processBatch(msgs, reg2))

    // before expiry both rows are visible; as-of read hides the
    // retained row once its 10s pass, even before any sweep
    assert(store.datastreams(spark, nowMs).count() == 2)
    assert(store.datastreams(spark, nowMs + 11000).count() == 1)

    // physical sweep past expiry: retained row gone, other intact
    store.sweepRetention(spark, nowMs + 11000)
    val left = store.datastreams(spark).collect()
    assert(left.length == 1)
    assert(left.head.getAs[String]("iface") == stream.name)
  }

  test("sweep is partition-pruned: untouched partitions stay byte-identical") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store5").toString
    val store = new AstarteStore(root)
    val retained = InterfaceDescriptor("com.test.Retained", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Individual)
    val reg2 = Registry(
      Map(stream.name -> stream, retained.name -> retained),
      Map(
        stream.name -> Seq(Mapping(stream.name, 1, "/%{i}/value", AInteger)),
        retained.name -> Seq(
          Mapping(retained.name, 1, "/v", AInteger, expirySeconds = 10))),
      Nil)
    val t0 = 15216455705950000L // decimicros
    val nowMs = t0 / 10000
    val dayTicks = 86400000L * 10000L
    val msgs = Seq(
      // (retained, dayA): one row expiring at +10s, one at +70s
      Envelope("realm", "dev", "data", retained.name, "/v",
        Bson.encode(Seq("v" -> 1)), t0, "ip", 1),
      Envelope("realm", "dev", "data", retained.name, "/v",
        Bson.encode(Seq("v" -> 2)), t0 + 60L * 10000000L, "ip", 2),
      // (retained, dayB): expires a day later
      Envelope("realm", "dev", "data", retained.name, "/v",
        Bson.encode(Seq("v" -> 3)), t0 + dayTicks, "ip", 3),
      // (stream, dayA) + (stream, dayB): no retention, never swept
      Envelope("realm", "dev", "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 4)), t0, "ip", 4),
      Envelope("realm", "dev", "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 5)), t0 + dayTicks, "ip", 5)).toDS()
    store.applyEffects(DeviceStateMachine.processBatch(msgs, reg2))

    def partitionFiles(): Map[String, Seq[(String, Long, String)]] = {
      import scala.jdk.CollectionConverters._
      val rootPath = java.nio.file.Paths.get(store.datastreamPath)
      java.nio.file.Files.walk(rootPath).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map { p =>
          val rel = rootPath.relativize(p).toString
          val part = rel.split('/').init.mkString("/")
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
          part -> ((rel, java.nio.file.Files.size(p), md5))
        }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    }

    val before = partitionFiles()
    val dayA = (nowMs / 86400000L).toString
    val dayB = ((nowMs + 86400000L) / 86400000L).toString
    val retA = s"iface=${retained.name}/day=$dayA"
    assert(before.keySet == Set(
      retA, s"iface=${retained.name}/day=$dayB",
      s"iface=${stream.name}/day=$dayA", s"iface=${stream.name}/day=$dayB"))

    // first sweep: only (retained, dayA) has an expired row
    store.sweepRetention(spark, nowMs + 11000)
    val after1 = partitionFiles()
    // the three untouched partitions kept the exact same files
    for (k <- before.keySet - retA)
      assert(after1(k) == before(k), s"partition $k was rewritten")
    // the hit partition was rewritten: same dir, different files, 1 live row
    assert(after1(retA) != before(retA))
    assert(spark.read.parquet(s"${store.datastreamPath}/$retA")
      .count() == 1)
    assert(store.datastreams(spark).count() == 4)

    // second sweep a day later: both retained partitions fully expire →
    // whole-directory drops; stream files still byte-identical
    store.sweepRetention(spark, nowMs + 86400000L + 81000)
    val after2 = partitionFiles()
    assert(after2.keySet == Set(
      s"iface=${stream.name}/day=$dayA", s"iface=${stream.name}/day=$dayB"))
    for (k <- after2.keySet) assert(after2(k) == before(k), s"partition $k changed")
    assert(!new java.io.File(
      s"${store.datastreamPath}/iface=${retained.name}").exists())
    assert(store.datastreams(spark).count() == 2)
  }

  test("compaction merges many-file partitions, leaves small ones byte-identical") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store6").toString
    val store = new AstarteStore(root)
    val reg2 = Registry(
      Map(stream.name -> stream),
      Map(stream.name -> Seq(Mapping(stream.name, 1, "/%{i}/value", AInteger))),
      Nil)
    val t0 = 15216455705950000L // decimicros
    val dayTicks = 86400000L * 10000L
    // dayA: 6 separate micro-batches -> >= 6 files; dayB: one batch
    (1 to 6).foreach { i =>
      store.applyEffects(DeviceStateMachine.processBatch(Seq(
        Envelope("realm", "dev", "data", stream.name, "/0/value",
          Bson.encode(Seq("v" -> i)), t0 + i * 10000000L, "ip", i)).toDS(), reg2))
    }
    store.applyEffects(DeviceStateMachine.processBatch(Seq(
      Envelope("realm", "dev", "data", stream.name, "/0/value",
        Bson.encode(Seq("v" -> 7)), t0 + dayTicks, "ip", 7)).toDS(), reg2))

    def leafFiles(day: String): Seq[(String, Long)] = {
      val dir = new java.io.File(
        s"${store.datastreamPath}/iface=${stream.name}/day=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).toSeq.sortBy(_._1)
    }
    val dayA = (t0 / 10000 / 86400000L).toString
    val dayB = ((t0 + dayTicks) / 10000 / 86400000L).toString
    assert(leafFiles(dayA).size >= 6)
    val dayBBefore = leafFiles(dayB)
    val rowsBefore = store.datastreams(spark)
      .select("integer_value", "reception_timestamp").collect()
      .map(_.toString).sorted.toSeq

    store.compactAppendTable(spark, store.datastreamPath, maxFiles = 4)

    assert(leafFiles(dayA).size == 1, "hot partition not compacted to one file")
    assert(leafFiles(dayB) == dayBBefore, "small partition was rewritten")
    val rowsAfter = store.datastreams(spark)
      .select("integer_value", "reception_timestamp").collect()
      .map(_.toString).sorted.toSeq
    assert(rowsAfter == rowsBefore, "compaction changed table contents")
  }

  test("compaction crashed mid move-in: reads unchanged, next run converges") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store7").toString
    val store = new AstarteStore(root)
    val reg2 = Registry(
      Map(stream.name -> stream),
      Map(stream.name -> Seq(Mapping(stream.name, 1, "/%{i}/value", AInteger))),
      Nil)
    val t0 = 15216455705950000L
    (1 to 3).foreach { i =>
      store.applyEffects(DeviceStateMachine.processBatch(Seq(
        Envelope("realm", "dev", "data", stream.name, "/0/value",
          Bson.encode(Seq("v" -> i)), t0 + i * 10000L, "ip", i)).toDS(), reg2))
    }
    def rows() = store.datastreams(spark).collect().map(_.toString).sorted.toSeq
    val rowsBefore = rows()
    val day = (t0 / 10000 / 86400000L).toString
    val leaf = new org.apache.hadoop.fs.Path(
      s"${store.datastreamPath}/iface=${stream.name}/day=$day")
    val fs = leaf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafFiles() = fs.listStatus(leaf).map(_.getPath.getName).filter(_.endsWith(".parquet"))
    val originals = leafFiles()
    assert(originals.length == 3)

    // the state a rewrite leaves when it crashes after moving one of its
    // two staged replacements in: originals still in place, the
    // replacement's rows in the leaf twice
    val staged = s"$root/_graft_batch-crashed"
    spark.read.parquet(leaf.toString).repartition(2).write.parquet(staged)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(staged))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 2)
    assert(fs.rename(parts.head, new org.apache.hadoop.fs.Path(leaf, parts.head.getName)))
    assert(spark.read.parquet(leaf.toString).count() > rowsBefore.size)
    assert(rows() == rowsBefore, "reads must fold the moved-in duplicates")

    store.compactAppendTable(spark, store.datastreamPath, maxFiles = 1)
    assert(leafFiles().length == 1, "the next compaction did not converge the leaf")
    assert(!leafFiles().exists(n => originals.contains(n) || n == parts.head.getName))
    assert(spark.read.parquet(leaf.toString).count() == rowsBefore.size)
    assert(rows() == rowsBefore)
  }

  test("minor bump under live traffic: object table grows the column, old rows read NULL") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-evolve").toString
    val store = new AstarteStore(root)
    val objV5 = InterfaceDescriptor("com.example.TestObject", 1, 5,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Object)
    val mapsV5 = Seq(
      Mapping(objV5.name, 1, "/string", AString),
      Mapping(objV5.name, 1, "/value", ADouble))
    val objV6 = objV5.copy(minor = 6)
    val mapsV6 = mapsV5 :+ Mapping(objV6.name, 1, "/extra", ALongInteger)
    val minTrig = Trigger("tmin", TriggerEventType.InterfaceMinorUpdated,
      TriggerScope.AnyInterface, None, MatchOperator.Any, null,
      List("test_events"))
    val regV5 = Registry(Map(objV5.name -> objV5),
      Map(objV5.name -> mapsV5), Seq(minTrig))
    val regV6 = Registry(Map(objV6.name -> objV6),
      Map(objV6.name -> mapsV6), Seq(minTrig))
    val provider = new DeviceStateMachine.MutableRegistryProvider(regV5)

    implicit val sqlCtx = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Envelope]
    val effects = DeviceStateMachine.processStream(input.toDS(), provider)
    val seen = scala.collection.mutable.ArrayBuffer.empty[EffectRow]
    val q = effects.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EffectRow], _: Long) =>
        // per-batch registry read, as Pipeline does — the post-bump
        // batch must land with the v1.6 leaf schema
        store.applyEffects(batch, provider.current())
        seen.synchronized { seen ++= batch.collect() }
        ()
      }.start()
    try {
      val t0 = 15216455705950000L
      def objMsg(v: Map[String, Any], off: Long) =
        Envelope("r", "dev", "data", objV5.name, "/",
          Bson.encode(Seq("v" -> scala.collection.immutable.ListMap(
            v.toSeq.sortBy(_._1): _*))),
          t0 + off * 10000, "ip", off)
      // micro-batch 1 under v1.5: announce + one full object row
      input.addData(
        Envelope("r", "dev", "introspection", null, null,
          s"${objV5.name}:1:5".getBytes, t0, "ip", 1),
        objMsg(Map("string" -> "aaa", "value" -> 1.1), 2))
      q.processAllAvailable()
      // live upgrade: the provider now serves v1.6 with /extra; the
      // RUNNING query re-reads it on the next micro-batch
      provider.update(regV6)
      input.addData(
        Envelope("r", "dev", "introspection", null, null,
          s"${objV6.name}:1:6".getBytes, t0 + 100000, "ip", 3),
        objMsg(Map("extra" -> 7L, "string" -> "bbb", "value" -> 2.2), 4))
      q.processAllAvailable()
    } finally q.stop()

    // the bump was observed across micro-batch state and announced
    val bump = seen.filter(_.eventType == "interface_minor_updated")
    assert(bump.map(_.detail).toSeq == Seq("5->6"))
    // reading with the v1.6 registry: the new column exists, the
    // pre-bump row reads NULL for it, the post-bump row populates it
    // — pure projection change, no data rewrite
    val rows = store.objectTable(spark, objV6, mapsV6)
      .orderBy("reception_timestamp").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("v_string") == "aaa")
    assert(rows(0).isNullAt(rows(0).fieldIndex("v_extra")))
    assert(rows(1).getAs[String]("v_string") == "bbb")
    assert(rows(1).getAs[Long]("v_extra") == 7L)
    // and the folded device row carries the new minor
    val dev = store.devicesSnapshot(spark).collect().head
    assert(dev.introspection_minor == Map(objV5.name -> 6))
  }

  test("LwwTable: concurrent append + compact loses no row (adopt-and-retire)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lww").toString
    val table = new LwwTable(s"$root/props",
      keyCols = Seq("k"), orderCols = Seq("ts"))
    // seed so the first compact has work
    table.append(Seq(("seed", 0L)).toDF("k", "ts"))

    val appended = (0 until 12).map(i => s"key-$i")
    val appenderError = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val appender = new Thread(() => {
      try appended.zipWithIndex.foreach { case (k, i) =>
        table.append(Seq((k, 100L + i)).toDF("k", "ts"))
      } catch { case t: Throwable => appenderError.set(t) }
    })
    appender.start()
    // compaction loop racing the appender: the old whole-directory
    // delete+rename would vanish any file landed between the listing
    // and the swap
    (1 to 6).foreach(_ => table.compact(spark))
    appender.join()
    assert(appenderError.get() == null,
      s"appender thread failed: ${appenderError.get()}")
    table.compact(spark)

    val keys = table.snapshot(spark).select("k")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys == ("seed" +: appended).sorted, s"rows lost: $keys")
    // converged: the final compact folded the log to few files
    val files = new java.io.File(s"$root/props")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= 2, s"compaction did not converge: $files files")
  }

  test("LwwTable crash before move-in: staging unread, deletes stay deleted") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lww2").toString
    val table = new LwwTable(s"$root/props",
      keyCols = Seq("k"), orderCols = Seq("ts"))
    table.append(Seq(("a", 1L), ("b", 1L)).toDF("k", "ts"))
    table.append(Seq(("b", 2L)).toDF("k", "ts"), op = LwwTable.OpDelete)
    def keys() = table.snapshot(spark).select("k")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys() == Seq("a"))

    // a rewrite that crashed before its move-in left staged files beside
    // the table; whatever they hold (here an upsert that would bring the
    // deleted key back) is never table data
    val staged = s"$root/_graft_batch-crashed"
    Seq(("a", 1L), ("b", 3L)).toDF("k", "ts")
      .withColumn(LwwTable.OpCol, org.apache.spark.sql.functions.lit(LwwTable.OpUpsert))
      .write.parquet(staged)
    assert(keys() == Seq("a"), "staged files leaked into the snapshot")
    table.compact(spark)
    assert(keys() == Seq("a"), "b stays deleted, a survives the compaction")
    val files = new java.io.File(s"$root/props").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(files.length == 1, s"compaction did not fold the log: ${files.toSeq}")
    val stagedNames = new java.io.File(staged).listFiles().map(_.getName).toSet
    assert(!files.exists(stagedNames), "a staged file was adopted into the table")
  }

  test("object table retention + compaction work on the day-partitioned layout") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-objsweep").toString
    val store = new AstarteStore(root)
    val obj = InterfaceDescriptor("com.test.RetainedObject", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Object)
    val maps = Seq(
      Mapping(obj.name, 1, "/a", ADouble, expirySeconds = 10),
      Mapping(obj.name, 1, "/b", AString, expirySeconds = 10))
    val reg = Registry(Map(obj.name -> obj), Map(obj.name -> maps), Nil)
    val t0 = 15216455705950000L // decimicros
    val nowMs = t0 / 10000
    def objMsg(a: Double, b: String, offTicks: Long, off: Long) =
      Envelope("r", "dev", "data", obj.name, "/",
        Bson.encode(Seq("v" -> scala.collection.immutable.ListMap(
          "a" -> a, "b" -> b))), t0 + offTicks, "ip", off)
    // two separate batches in one day (file spray for compaction) +
    // one a day later; the first expires at +10s, the rest at +60s/+1d
    store.applyEffects(DeviceStateMachine.processBatch(Seq(
      objMsg(1.0, "x", 0, 1)).toDS(), reg), reg)
    store.applyEffects(DeviceStateMachine.processBatch(Seq(
      objMsg(2.0, "y", 50L * 10000000L, 2)).toDS(), reg), reg)
    store.applyEffects(DeviceStateMachine.processBatch(Seq(
      objMsg(3.0, "z", 86400000L * 10000L, 3)).toDS(), reg), reg)

    // the path the writers lock, so maintenance and commits exclude each other
    assert(store.objectTablePaths(spark) == Seq(store.objectPath(obj)))
    assert(store.objectTable(spark, obj, maps).count() == 3)

    // sweep at +11s: only the first row expired; typed columns survive
    store.sweepRetention(spark, nowMs + 11000)
    val rows = store.objectTable(spark, obj, maps)
      .orderBy("reception_timestamp").collect()
    assert(rows.map(_.getAs[Double]("v_a")).toSeq == Seq(2.0, 3.0))
    assert(rows.map(_.getAs[String]("v_b")).toSeq == Seq("y", "z"))

    // compaction on the (day)-partitioned layout converges file counts
    store.compactAppendTable(spark, s"$root/${obj.objectTableName}", maxFiles = 0)
    val dayDirs = new java.io.File(s"$root/${obj.objectTableName}")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("day="))
    assert(dayDirs.nonEmpty)
    for (d <- dayDirs)
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(store.objectTable(spark, obj, maps).count() == 2)
  }

  test("concurrent append + sweep/compact: no appended row is ever lost") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store8").toString
    val store = new AstarteStore(root)
    val retained = InterfaceDescriptor("com.test.Retained", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Individual)
    val reg2 = Registry(
      Map(retained.name -> retained),
      Map(retained.name -> Seq(
        Mapping(retained.name, 1, "/v", AInteger, expirySeconds = 10))),
      Nil)
    val t0 = 15216455705950000L // decimicros
    val nowMs = t0 / 10000
    // seed an expired row so every sweep round has rewrite work in
    // the SAME (iface, day) leaf the appender is landing new files in
    store.applyEffects(DeviceStateMachine.processBatch(Seq(
      Envelope("realm", "dev", "data", retained.name, "/v",
        Bson.encode(Seq("v" -> 1)), t0, "ip", 1)).toDS(), reg2))

    // appender thread: 12 single-row batches, offsets +20s..+31s so
    // their expiry (+10s each) is beyond the sweep's `now` (= +11s)
    // and the day partition stays the same
    val appended = (0 until 12).map(i => 100 + i)
    val appenderError = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val appender = new Thread(() => {
      try appended.zipWithIndex.foreach { case (v, i) =>
        store.applyEffects(DeviceStateMachine.processBatch(Seq(
          Envelope("realm", "dev", "data", retained.name, "/v",
            Bson.encode(Seq("v" -> v)), t0 + (20 + i) * 10000000L, "ip",
            10 + i)).toDS(), reg2))
      } catch { case t: Throwable => appenderError.set(t) }
    })
    appender.start()
    // maintenance loop racing the appender: each round rewrites the
    // hot leaf (sweep always finds the expired seed's partition dirty
    // until the seed file is retired; compaction keeps merging the
    // appender's file spray)
    (1 to 6).foreach { _ =>
      store.sweepRetention(spark, nowMs + 11000)
      store.compactAppendTable(spark, store.datastreamPath, maxFiles = 2)
    }
    appender.join()
    assert(appenderError.get() == null,
      s"appender thread failed: ${appenderError.get()}")
    // one final quiesced round so every appended file has seen at
    // least one sweep (the seed must be gone, appended rows intact)
    store.sweepRetention(spark, nowMs + 11000)
    store.compactAppendTable(spark, store.datastreamPath, maxFiles = 2)

    val vals = store.datastreams(spark)
      .select("integer_value").collect().map(_.getInt(0)).sorted.toSeq
    assert(vals == appended, s"rows lost or duplicated: $vals")
  }

  test("two sessions appending concurrently lose no rows (cross-process protocol)") {
    // Two SparkSessions in separate threads stand in for two DRIVER
    // PROCESSES sharing a store path: appendAtomic is called directly,
    // outside any caller's table lock, so the writes run concurrently
    // and only the on-disk protocol keeps them apart (a staging dir
    // per write + rename-in). Under plain mode("append") both writers
    // would share the committer's `_temporary/0` tree and could
    // corrupt each other's commit.
    val root = Files.createTempDirectory("graft-store9").toString
    val path = s"$root/individual_datastreams"
    val sessions = Seq(spark.newSession(), spark.newSession())
    def batch(s: SparkSession, base: Int) = {
      import s.implicits._
      (0 until 50).map(i => (s"dev$i", "com.test.If", base + i, (base + i) % 3L))
        .toDF("device_id", "iface", "v", "day")
    }
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = sessions.zip(Seq(0, 1000)).map { case (sess, base) =>
      new Thread(() => {
        try (0 until 5).foreach { b =>
          AstarteStore.appendAtomic(batch(sess, base + b * 100), path,
            Seq("iface", "day"))
        } catch { case t: Throwable => err.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(err.get() == null, s"concurrent appender failed: ${err.get()}")
    val got = spark.read.parquet(path)
      .select("v").collect().map(_.getInt(0)).sorted.toSeq
    val want = (for (base <- Seq(0, 1000); b <- 0 until 5; i <- 0 until 50)
      yield base + b * 100 + i).sorted
    assert(got == want, s"rows lost or duplicated across sessions")
    // no staging left behind on the happy path
    val left = new java.io.File(root).listFiles().map(_.getName)
    assert(!left.exists(_.startsWith(StagedCommit.Prefix)), s"staging left: ${left.toSeq}")
  }

  test("crashed staged append unread; stale cleared, fresh kept, lock freed") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store10").toString
    val lww = new LwwTable(s"$root/kv", Seq("k"), Seq("ts"))
    lww.append(Seq(("a", 1L, "v1")).toDF("k", "ts", "v"))
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stage(name: String, k: String): org.apache.hadoop.fs.Path = {
      val dir = s"$root/_graft_batch-$name"
      Seq((k, 2L, "v2")).toDF("k", "ts", "v")
        .withColumn(LwwTable.OpCol, org.apache.spark.sql.functions.lit(LwwTable.OpUpsert))
        .write.parquet(dir)
      new org.apache.hadoop.fs.Path(dir)
    }
    def age(p: org.apache.hadoop.fs.Path): Unit = {
      if (hfs.getFileStatus(p).isDirectory) hfs.listStatus(p).foreach(c => age(c.getPath))
      hfs.setTimes(p, System.currentTimeMillis() - 2 * 60 * 60 * 1000L, -1)
    }
    // an append that staged its files two hours ago and crashed before
    // the renames, and one still staging now
    val crashed = stage("crashed", "b")
    age(crashed)
    val live = stage("live", "c")

    lww.compact(spark)

    val snap = lww.snapshot(spark).select("k", "v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(snap == Map("a" -> "v1"), s"staged rows must never be table data: $snap")
    assert(!hfs.exists(crashed), "stale staging must be removed")
    assert(hfs.exists(live), "fresh staging belongs to a live writer and must be kept")
    assert(!new java.io.File(
      AstarteStore.maintenanceLock(lww.path).toString).exists(),
      "the maintenance lock is released after the run")
  }

  test("staging cleanup: stale dirs removed, fresh and busy ones kept") {
    val root = Files.createTempDirectory("graft-rec").toString
    val parent = new org.apache.hadoop.fs.Path(root)
    val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 2 * 60 * 60 * 1000L
    // stale: the WHOLE tree's mtimes two hours old (staleness is judged
    // by the newest mtime anywhere inside — write activity happens in
    // nested dirs, so a single old top-dir mtime must not condemn a
    // staging dir whose children are still being written)
    val stale = new org.apache.hadoop.fs.Path(s"$root/_graft_batch-stale/day=1")
    fs.mkdirs(stale)
    fs.setTimes(stale, old, -1)
    fs.setTimes(stale.getParent, old, -1)
    val fresh = new org.apache.hadoop.fs.Path(s"$root/_graft_batch-fresh/day=1")
    fs.mkdirs(fresh)
    // old top dir but FRESH nested activity: must survive
    val busy = new org.apache.hadoop.fs.Path(s"$root/_graft_batch-busy/day=1")
    fs.mkdirs(busy)
    fs.setTimes(busy.getParent, old, -1)
    // an old table beside them is not staging
    val table = new org.apache.hadoop.fs.Path(s"$root/t")
    fs.mkdirs(table)
    fs.setTimes(table, old, -1)
    StagedCommit.clearStale(fs, parent)
    assert(!fs.exists(stale.getParent), "stale staging must be removed")
    assert(fs.exists(fresh.getParent), "fresh staging must survive")
    assert(fs.exists(busy.getParent), "old top dir with fresh nested writes must survive")
    assert(fs.exists(table), "only staging dirs are cleared")
  }
}
