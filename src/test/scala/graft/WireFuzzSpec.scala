package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.triggers._
import graft.sources.AmqpWire

/** Wire-parser fuzz: the byte surfaces that ingest NETWORK data —
  * BSON payloads, the AMQP frame/content-header readers, protobuf
  * event/RPC wires — hammered with corrupted and truncated inputs.
  * Contract per surface: Option-returning decoders must be TOTAL (any
  * throw is a finding); stream/server surfaces may reject with
  * IOException/IllegalArgumentException (protocol errors) but
  * memory-safety failures (negative allocation, index out-of-bounds,
  * NPE, stack overflow) are findings everywhere. Fixed seed, bounded
  * size, so every run feeds the same 30,000 inputs.
  */
class WireFuzzSpec extends AnyFunSuite {

  private val Seed = 4242
  private val Inputs = 30000

  test("30,000 corrupted inputs across eight wire surfaces: no unsafe failure") {
    val rnd = new scala.util.Random(Seed)
    val bsonSeed = Bson.encode(Seq("v" -> 42, "t" -> "text", "a" -> Seq(1, 2)))
    val trig = Trigger("t1", TriggerEventType.IncomingData,
      TriggerScope.OnInterface("com.x.Y", 1), Some("/p"),
      MatchOperator.GreaterThan, 9L, List("tgt"))
    val rpcSeed = RpcWire.encodeInstall("realm", "dev", "parent", trig)
    val replySeed = RpcWire.errorReply("interface_not_found")
    val hdrSeed = AmqpWire.contentHeader(1234L,
      Seq("x_astarte_msg_type" -> "data".getBytes))
    val frameSeed = {
      val bos = new java.io.ByteArrayOutputStream()
      AmqpWire.writeFrame(new java.io.DataOutputStream(bos),
        AmqpWire.Frame(1, 0, hdrSeed))
      bos.toByteArray
    }
    val registry = graft.streaming.Registry(Map.empty, Map.empty, Nil)
    val plane = new RpcControlPlane(
      graft.streaming.DeviceStateMachine.StaticRegistryProvider(registry))

    def unsafe(e: Throwable): Boolean = e match {
      case _: NegativeArraySizeException | _: ArrayIndexOutOfBoundsException |
           _: IndexOutOfBoundsException | _: NullPointerException |
           _: StackOverflowError | _: OutOfMemoryError => true
      case _ => false
    }
    val targets = Seq[(String, Array[Byte], Array[Byte] => Unit, Boolean)](
      // (tag, seed, run, mustBeTotal)
      ("bson", bsonSeed, b => Bson.decode(b), true),
      ("payload", bsonSeed, b => PayloadCodec.decodePayload(b), true),
      ("introspection", "a.b:1:0;c.d:2:1".getBytes, b =>
        PayloadCodec.parseIntrospection(new String(b, "ISO-8859-1")), true),
      ("device_id", "f0VMRgIBAQAAAAAAAAAAAA".getBytes, b =>
        PayloadCodec.decodeDeviceId(new String(b, "ISO-8859-1")), true),
      ("rpc_reply", replySeed, b => RpcWire.decodeReply(b), false),
      ("rpc_call", rpcSeed, b => plane.handleRpc(b), false),
      ("amqp_hdr", hdrSeed, b => AmqpWire.parseContentHeader(b), false),
      ("amqp_frame", frameSeed, b => AmqpWire.readFrame(
        new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))), false))
    val seen = scala.collection.mutable.Set.empty[String]
    for (n <- 0 until Inputs) {
      val (tag, seed, run, total) = targets(rnd.nextInt(targets.length))
      seen += tag
      val mut =
        if (rnd.nextBoolean()) java.util.Arrays.copyOfRange(seed, 0, rnd.nextInt(seed.length + 1))
        else seed.clone()
      (0 until rnd.nextInt(9)).foreach { _ =>
        if (mut.nonEmpty) mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte }
      try run(mut)
      catch {
        case e: Throwable if unsafe(e) || total =>
          fail(s"crash in $tag at input $n on ${mut.map("%02x".format(_)).mkString}: $e\n" +
            e.getStackTrace.take(5).mkString("  at ", "\n  at ", ""))
        case _: Throwable => () // clean protocol rejection
      }
    }
    assert(seen.size == targets.size, s"surfaces never drawn: ${targets.map(_._1).toSet -- seen}")
  }
}
