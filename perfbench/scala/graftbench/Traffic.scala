package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.core._
import graft.core.AstarteValueType._
import graft.streaming.Registry
import graft.triggers._

/** The seeded device fleet and its traffic, plus the ground truth the
  * generator keeps while it emits each message. The truth is computed
  * here from the message contents alone, following the reference's
  * accounting rules, and never by calling the program.
  *
  * The device count, skew and message shares are chosen so that each
  * ingest path gets a visible share of the work, not measured from real
  * traffic; perfbench/README.md lists what each share exercises.
  */
object Fleet {
  val Realm = "bench"
  val Props = "org.graft.bench.Props"
  val Telemetry = "org.graft.bench.Telemetry"
  val Sample = "org.graft.bench.Sample"
  val Unknown = "org.graft.bench.Unknown"

  val Devices = 400
  val Sensors = 4
  val SampleGroups = 2
  /** Zipf exponent of device popularity. */
  val Skew = 0.9
  /** Value timestamps start here and advance 1-5 s per message. */
  val ClockStartMs: Long = 1767225600000L // 2026-01-01T00:00:00Z

  val ifaces: Map[String, InterfaceDescriptor] = Map(
    Props -> InterfaceDescriptor(Props, 1, 0, InterfaceType.Properties, Ownership.Device, Aggregation.Individual),
    Telemetry -> InterfaceDescriptor(Telemetry, 1, 0, InterfaceType.Datastream, Ownership.Device, Aggregation.Individual),
    Sample -> InterfaceDescriptor(Sample, 1, 0, InterfaceType.Datastream, Ownership.Device, Aggregation.Object))

  val mappings: Map[String, Seq[Mapping]] = Map(
    Props -> Seq(
      Mapping(Props, 1, "/%{sensor}/enabled", ABoolean, allowUnset = true),
      Mapping(Props, 1, "/%{sensor}/threshold", ADouble, allowUnset = true),
      Mapping(Props, 1, "/%{sensor}/label", AString, allowUnset = true)),
    Telemetry -> Seq(
      Mapping(Telemetry, 1, "/%{sensor}/temp", ADouble, explicitTimestamp = true),
      Mapping(Telemetry, 1, "/%{sensor}/count", AInteger, explicitTimestamp = true),
      Mapping(Telemetry, 1, "/%{sensor}/total", ALongInteger, explicitTimestamp = true),
      Mapping(Telemetry, 1, "/%{sensor}/state", AString, explicitTimestamp = true),
      Mapping(Telemetry, 1, "/%{sensor}/ok", ABoolean, explicitTimestamp = true)),
    Sample -> Seq(
      Mapping(Sample, 1, "/%{group}/x", ADouble, explicitTimestamp = true),
      Mapping(Sample, 1, "/%{group}/n", AInteger, explicitTimestamp = true),
      Mapping(Sample, 1, "/%{group}/tag", AString, explicitTimestamp = true)))

  /** Telemetry temperatures are uniform on [0, 100); the hot trigger
    * fires above this, on a fifth of them.
    */
  val HotAbove = 80.0

  val triggers: Seq[Trigger] = Seq(
    Trigger("t-hot", TriggerEventType.IncomingData,
      TriggerScope.OnInterface(Telemetry, 1), Some("/%{sensor}/temp"),
      MatchOperator.GreaterThan, HotAbove, List("amqp://hot")),
    Trigger("t-change", TriggerEventType.ValueChange,
      TriggerScope.OnInterface(Props, 1), None, MatchOperator.Any, null,
      List("amqp://props")),
    Trigger("t-removed", TriggerEventType.PathRemoved,
      TriggerScope.OnInterface(Props, 1), None, MatchOperator.Any, null,
      List("amqp://props")),
    Trigger("t-conn", TriggerEventType.DeviceConnected,
      TriggerScope.AnyDevice, None, MatchOperator.Any, null, List("amqp://lifecycle")),
    Trigger("t-disc", TriggerEventType.DeviceDisconnected,
      TriggerScope.AnyDevice, None, MatchOperator.Any, null, List("amqp://lifecycle")))

  val registry: Registry = Registry(ifaces, mappings, triggers)

  val introspection: String =
    Seq(Props, Telemetry, Sample).map(n => s"$n:1:0").mkString(";")

  def deviceId(i: Int): String = f"dev-$i%04d"

  /** Devices by popularity rank: index 0 is the hottest. */
  val cumulative: Array[Double] = {
    val w = (0 until Devices).map(i => 1.0 / math.pow(i + 1, Skew))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** The discard reasons of the malformed share, with the store-side
    * reason string the state machine reports ("missing_header" never
    * reaches it: the wire decode drops the record).
    */
  val MalformedKinds: Seq[String] = Seq("missing_header", "undecodable_bson_payload",
    "interface_loading_failed", "mapping_not_found", "unexpected_value_type",
    "unset_on_datastream")
}

/** One generated broker record. `tsMicros` is the logical reception
  * clock that the file spool stamps on the record.
  */
final case class Msg(device: String, headers: Seq[(String, Array[Byte])],
    payload: Array[Byte], tsMicros: Long)

/** Expected store and topic contents, accumulated message by message. */
final class Truth {
  final class Dev {
    var msgs = 0L
    var bytes = 0L
    val ifaceMsgs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val ifaceBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var connected = false
    var announced = false
    val props = mutable.Map.empty[String, Any]
    /** Telemetry rows: (path, value ts ms, typed value). */
    val telemetry = mutable.ArrayBuffer.empty[(String, Long, Any)]
    /** Sample rows: (path, value ts ms, x, n, tag). */
    val samples = mutable.ArrayBuffer.empty[(String, Long, Double, Int, String)]
    val paths = mutable.Set.empty[(String, String)]
  }
  val devs = mutable.Map.empty[String, Dev]
  def dev(d: String): Dev = devs.getOrElseUpdate(d, new Dev)
  /** (iface, day) -> (rows, sum of integer values, sum of long values). */
  val partitions = mutable.Map.empty[(String, Long), (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
  val events = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
  val discards = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var records = 0L

  def addPartition(iface: String, tsMs: Long, ints: Long, longs: Long): Unit = {
    val k = (iface, Math.floorDiv(tsMs, 86400000L))
    val (n, a, b) = partitions(k)
    partitions(k) = (n + 1, a + ints, b + longs)
  }
}

/** Seeded traffic generator. One instance owns the fleet's session
  * state (who is connected, which properties are set), so successive
  * rounds continue the same fleet's traffic.
  */
final class Generator(seed: Long) {
  import Fleet._
  val truth = new Truth
  private val rnd = new java.util.Random(seed * 7919L + 17L)
  private var clockUs: Long = ClockStartMs * 1000L
  private var needsIntro = Set.empty[String]

  private def hdr(k: String, v: String) = ("x_astarte_" + k) -> v.getBytes(UTF_8)

  private def pickDevice(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cumulative, u)
    math.min(Devices - 1, if (i >= 0) i else -i - 1)
  }

  private def dataHeaders(dev: String, iface: String, path: String) = Seq(
    hdr("msg_type", "data"), hdr("realm", Realm), hdr("device_id", dev),
    hdr("interface", iface), hdr("path", path))

  private def bytesOf(payload: Array[Byte], iface: String, path: String): Long =
    payload.length.toLong + (if (iface == null) 0 else iface.length) + (if (path == null) 0 else path.length)

  private def countOk(d: Truth#Dev, iface: String, payload: Array[Byte], path: String): Unit = {
    val b = bytesOf(payload, iface, path)
    d.msgs += 1; d.bytes += b
    d.ifaceMsgs(s"$iface:1") += 1; d.ifaceBytes(s"$iface:1") += b
  }

  private def countError(d: Truth#Dev, iface: String, payload: Array[Byte], path: String, reason: String): Unit = {
    d.msgs += 1; d.bytes += bytesOf(payload, iface, path)
    truth.discards(reason) += 1
  }

  /** The next message of the fleet, advancing the logical clock. */
  def next(): Msg = {
    clockUs += 1000000L + rnd.nextInt(4000000)
    val tsMs = clockUs / 1000L
    val di = pickDevice()
    val dev = deviceId(di)
    val d = truth.dev(dev)
    truth.records += 1
    def msg(h: Seq[(String, Array[Byte])], p: Array[Byte]) = Msg(dev, h, p, clockUs)

    if (!d.connected) {
      d.connected = true
      needsIntro += dev
      truth.events(("device_connected", "amqp://lifecycle")) += 1
      val ip = s"10.0.${di / 256}.${di % 256}"
      return msg(Seq(hdr("msg_type", "connection"), hdr("realm", Realm),
        hdr("device_id", dev), hdr("remote_ip", ip)), Array.emptyByteArray)
    }
    if (needsIntro(dev)) {
      needsIntro -= dev
      d.announced = true
      val p = introspection.getBytes(UTF_8)
      d.msgs += 1; d.bytes += p.length
      return msg(Seq(hdr("msg_type", "introspection"), hdr("realm", Realm),
        hdr("device_id", dev)), p)
    }
    val u = rnd.nextInt(1000)
    val sensor = s"s${rnd.nextInt(Sensors)}"
    if (u < 20) {
      d.connected = false
      truth.events(("device_disconnected", "amqp://lifecycle")) += 1
      msg(Seq(hdr("msg_type", "disconnection"), hdr("realm", Realm), hdr("device_id", dev)),
        Array.emptyByteArray)
    } else if (u < 470) {
      telemetry(d, dev, sensor, tsMs, msg)
    } else if (u < 620) {
      val g = s"/g${rnd.nextInt(SampleGroups)}"
      val x = rnd.nextInt(100000) / 100.0
      val n = rnd.nextInt(1000)
      val tag = Vector("a", "b", "c")(rnd.nextInt(3))
      val p = Bson.encode(Seq("v" -> ListMap("x" -> x, "n" -> n, "tag" -> tag),
        "t" -> Instant.ofEpochMilli(tsMs)))
      countOk(d, Sample, p, g)
      d.samples += ((g, tsMs, x, n, tag))
      d.paths += ((Sample, g))
      truth.addPartition(Sample, tsMs, n, 0L)
      msg(dataHeaders(dev, Sample, g), p)
    } else if (u < 840) {
      val (leaf, v: Any) = rnd.nextInt(3) match {
        case 0 => ("enabled", rnd.nextBoolean())
        case 1 => ("threshold", Vector(10.0, 20.0, 30.0)(rnd.nextInt(3)))
        case _ => ("label", Vector("a", "b", "c")(rnd.nextInt(3)))
      }
      val path = s"/$sensor/$leaf"
      val p = Bson.encode(Seq("v" -> v))
      countOk(d, Props, p, path)
      if (!d.props.get(path).contains(v))
        truth.events(("value_change", "amqp://props")) += 1
      d.props(path) = v
      msg(dataHeaders(dev, Props, path), p)
    } else if (u < 980) {
      val leaf = Vector("enabled", "threshold", "label")(rnd.nextInt(3))
      val path = s"/$sensor/$leaf"
      countOk(d, Props, Array.emptyByteArray, path)
      d.props.remove(path)
      truth.events(("path_removed", "amqp://props")) += 1
      msg(dataHeaders(dev, Props, path), Array.emptyByteArray)
    } else {
      malformed(d, dev, sensor, tsMs, msg)
    }
  }

  private def telemetry(d: Truth#Dev, dev: String, sensor: String, tsMs: Long,
      msg: (Seq[(String, Array[Byte])], Array[Byte]) => Msg): Msg = {
    val k = rnd.nextInt(100)
    val (leaf, v: Any) =
      if (k < 40) ("temp", rnd.nextInt(10000) / 100.0)
      else if (k < 60) ("count", rnd.nextInt(1000))
      else if (k < 75) ("total", rnd.nextInt(1000000000).toLong * 3L)
      else if (k < 90) ("state", Vector("idle", "run", "fault")(rnd.nextInt(3)))
      else ("ok", rnd.nextBoolean())
    val path = s"/$sensor/$leaf"
    val p = Bson.encode(Seq("v" -> v, "t" -> Instant.ofEpochMilli(tsMs)))
    countOk(d, Telemetry, p, path)
    d.telemetry += ((path, tsMs, v))
    d.paths += ((Telemetry, path))
    v match {
      case t: Double if t > HotAbove => truth.events(("incoming_data", "amqp://hot")) += 1
      case _ => ()
    }
    truth.addPartition(Telemetry, tsMs,
      v match { case i: Int => i.toLong; case _ => 0L },
      v match { case l: Long => l; case _ => 0L })
    msg(dataHeaders(dev, Telemetry, path), p)
  }

  private def malformed(d: Truth#Dev, dev: String, sensor: String, tsMs: Long,
      msg: (Seq[(String, Array[Byte])], Array[Byte]) => Msg): Msg = {
    val kind = MalformedKinds(rnd.nextInt(MalformedKinds.size))
    val temp = s"/$sensor/temp"
    val good = Bson.encode(Seq("v" -> 1.5, "t" -> Instant.ofEpochMilli(tsMs)))
    kind match {
      case "missing_header" =>
        truth.discards(kind) += 1
        msg(Seq(hdr("msg_type", "data"), hdr("realm", Realm),
          hdr("interface", Telemetry), hdr("path", temp)), good)
      case "undecodable_bson_payload" =>
        // declares a 32-byte document but carries five bytes
        val p = Array[Byte](32, 0, 0, 0, 1)
        countError(d, Telemetry, p, temp, kind)
        msg(dataHeaders(dev, Telemetry, temp), p)
      case "interface_loading_failed" =>
        countError(d, Unknown, good, temp, kind)
        msg(dataHeaders(dev, Unknown, temp), good)
      case "mapping_not_found" =>
        val path = s"/$sensor/humidity"
        countError(d, Telemetry, good, path, kind)
        msg(dataHeaders(dev, Telemetry, path), good)
      case "unexpected_value_type" =>
        val p = Bson.encode(Seq("v" -> "warm", "t" -> Instant.ofEpochMilli(tsMs)))
        countError(d, Telemetry, p, temp, kind)
        msg(dataHeaders(dev, Telemetry, temp), p)
      case "unset_on_datastream" =>
        countError(d, Telemetry, Array.emptyByteArray, temp, kind)
        msg(dataHeaders(dev, Telemetry, temp), Array.emptyByteArray)
    }
  }
}
