package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.AstarteValueType._
import graft.streaming._

/** Front-door fuzz: hostile device traffic through the FULL ingest
  * path — codegen'd precompute, keyed fold, effect emission. A
  * malicious or broken device controls every byte of its envelopes
  * (payload bytes, paths, interface names, message types), and nothing
  * it sends may crash the batch: bad input must become an error effect
  * or a discard, never an exception (the reference's handleData
  * error-precedence contract, error codes 1-6). Fixed seed, bounded
  * size, so every run folds the same 3,000 envelopes.
  */
class IngestFuzzSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Seed = 31337
  private val Envelopes = 3000
  private val BatchSize = 500

  test("3,000 hostile envelopes through the full fold never throw") {
    import spark.implicits._
    val rnd = new scala.util.Random(Seed)

    val iface = InterfaceDescriptor("com.test.Stream", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Individual)
    val props = InterfaceDescriptor("com.test.Props", 1, 0,
      InterfaceType.Properties, Ownership.Device, Aggregation.Individual)
    val obj = InterfaceDescriptor("com.test.Obj", 1, 0,
      InterfaceType.Datastream, Ownership.Device, Aggregation.Object)
    val registry = Registry(
      Map(iface.name -> iface, props.name -> props, obj.name -> obj),
      Map(
        iface.name -> Seq(Mapping(iface.name, 1, "/%{i}/value", AInteger)),
        props.name -> Seq(Mapping(props.name, 1, "/p/x", AString, allowUnset = true)),
        obj.name -> Seq(Mapping(obj.name, 1, "/s", AString),
          Mapping(obj.name, 1, "/d", ADouble))),
      Nil)

    def randBytes(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    def randStr(n: Int) = new String(randBytes(rnd.nextInt(n)), "ISO-8859-1")
    val validPayload = Bson.encode(Seq("v" -> 42))
    def payload(): Array[Byte] = rnd.nextInt(5) match {
      case 0 => Array.emptyByteArray
      case 1 => randBytes(rnd.nextInt(64))
      case 2 => // corrupted valid BSON
        val m = validPayload.clone()
        (0 until 1 + rnd.nextInt(4)).foreach(_ =>
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte)
        m
      case 3 => // truncated valid BSON
        java.util.Arrays.copyOfRange(validPayload, 0, rnd.nextInt(validPayload.length + 1))
      case 4 => validPayload
    }
    def path(): String = rnd.nextInt(6) match {
      case 0 => s"/${rnd.nextInt(9)}/value"
      case 1 => "/p/x"
      case 2 => "//" + randStr(6)
      case 3 => randStr(12)
      case 4 => "/" + "x/" * rnd.nextInt(40)
      case 5 => ""
    }
    def ifaceName(): String = rnd.nextInt(4) match {
      case 0 => iface.name
      case 1 => props.name
      case 2 => obj.name
      case 3 => randStr(16)
    }
    val msgTypes = Seq("data", "connection", "disconnection",
      "introspection", "control", "garbage", "")

    val kinds = (0 until Envelopes / BatchSize).flatMap { batchNo =>
      val envs = (0 until BatchSize).map { k =>
        Envelope("realm", s"dev${rnd.nextInt(5)}",
          msgTypes(rnd.nextInt(msgTypes.length)), ifaceName(), path(),
          payload(), 15216455705950000L + (batchNo * 1000L + k) * 10000,
          randStr(12), batchNo * 1000L + k)
      }
      // executes the fold; any throw fails the spec
      DeviceStateMachine.processBatch(envs.toDS(), registry)
        .groupBy("kind").count().collect().map(_.getString(0))
    }.toSet
    // the traffic reached both arms: rejected input and accepted data
    assert(kinds.contains("error"), s"no error effect in $kinds")
    assert(kinds.exists(k => k != "error" && k != "device_update"), s"no data effect in $kinds")
  }
}
