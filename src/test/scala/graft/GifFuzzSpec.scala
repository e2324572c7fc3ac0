package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.Multimodal

/** GIF decoder fuzz: valid still and animated GIFs, byte-flipped,
  * truncated, spliced with garbage or corrupted in the LZW data, go
  * through `Gif.frames` (and each frame's luma) and the `GifCodec`
  * batch path. Contract: nothing throws. Fixed seed, bounded size, so
  * every run feeds the same 20,000 inputs and decodes or refuses the
  * same ones.
  */
class GifFuzzSpec extends AnyFunSuite {

  private val Seed = 1234
  private val Inputs = 20000

  test("20,000 corrupted GIFs: no throw, the same inputs decoded and refused") {
    val rnd = new scala.util.Random(Seed)
    val base = (0 until 40).map { i =>
      val w = 3 + i % 9; val h = 2 + i % 7
      val px = Array.tabulate(w * h)(j => ((i * 31 + j * 7) % 256).toByte)
      if (i % 3 == 0) Multimodal.GifBuilder.grey8(w, h, px, interlaced = i % 6 == 0)
      else Multimodal.GifBuilder.animGrey8(w, h,
        (0 until 2).map(f => Array.tabulate(w * h)(j => ((f * 50 + j) % 256).toByte)),
        Seq(3, 4))
    }
    var decoded = 0
    for (n <- 0 until Inputs) {
      val src = base(rnd.nextInt(base.length))
      val mut = rnd.nextInt(4) match {
        case 0 => // random byte flips (1-8)
          val m = src.clone()
          (0 until 1 + rnd.nextInt(8)).foreach(_ => m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte)
          m
        case 1 => // truncate anywhere
          java.util.Arrays.copyOfRange(src, 0, 1 + rnd.nextInt(src.length))
        case 2 => // splice random garbage into the middle
          val m = src.clone()
          val at = rnd.nextInt(m.length)
          val len = math.min(16, m.length - at)
          System.arraycopy(Array.fill[Byte](len)(rnd.nextInt(256).toByte), 0, m, at, len)
          m
        case _ => // corrupt the LZW region (past header and palette)
          val m = src.clone()
          val start = math.min(m.length - 1, 13 + 768)
          (0 until 4).foreach(_ => m(start + rnd.nextInt(math.max(1, m.length - start))) = rnd.nextInt(256).toByte)
          m
      }
      try {
        val fs = Multimodal.Gif.frames(mut)
        fs.foreach(f => Multimodal.Gif.lumaMilliOf(f))
        if (fs.nonEmpty) decoded += 1
        new Multimodal.GifCodec().decodeBatch(Seq(Multimodal.MediaRow(n.toLong, "image", mut)))
      } catch {
        case e: Throwable =>
          fail(s"throw at input $n on ${mut.map("%02x".format(_)).mkString}: $e\n" +
            e.getStackTrace.take(5).mkString("  at ", "\n  at ", ""))
      }
    }
    info(s"decoded $decoded, refused ${Inputs - decoded}")
    assert((decoded, Inputs - decoded) == ((10505, 9495)))
  }
}
