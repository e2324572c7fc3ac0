package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.Multimodal._
import graft.analytics.Webp

/** Direct-path fuzz over every lib-free media decoder. `FormatAwareCodec`
  * swallows non-fatal errors per row, so a crashy decoder still "works"
  * through the dispatcher; here each decoder is called DIRECTLY, where a
  * throw is a finding (the GIF dimension-bomb fix came from this soak).
  * WebP's strict entry may refuse with `IllegalArgumentException`, its
  * rejection contract; nothing else may escape. Fixed seed, bounded
  * size, so every run feeds the same 20,000 inputs and decodes or
  * refuses the same ones.
  */
class MediaFuzzSpec extends AnyFunSuite {

  private val Seed = 987
  private val Inputs = 20000

  /** Any features beyond the stub zeros: the decoder read the input. */
  private def features(fs: Seq[MediaFeatures]): Boolean =
    fs.exists(f => f.width > 0 || f.durationMs > 0 || f.sampleRate > 0)

  private def webp(b: Array[Byte]): Boolean =
    try Webp.decodeStrict(b).nonEmpty catch { case _: IllegalArgumentException => false }

  test("20,000 corrupted inputs across eleven decoder paths: no throw, the same inputs decoded and refused") {
    val rnd = new scala.util.Random(Seed)
    val wavSeed = {
      val n = 64
      val bb = java.nio.ByteBuffer.allocate(44 + n * 2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + n * 2); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1); bb.putShort(1)
      bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(n * 2)
      (0 until n).foreach(i => bb.putShort((i * 1000).toShort))
      bb.array()
    }
    val pngSeed = PngBuilder.grey8(6, 5, Array.tabulate(30)(i => (i * 8).toByte), y => y % 5)
    val jpgSeed = JpegBuilder.baselineGrey(10, 9, Array.fill(64)(8),
      (bx, by) => { val a = new Array[Int](64); a(0) = bx + by; a })
    val mp4Seed = Mjpeg.container(10, 9, 1000L, 2000L, Seq(jpgSeed, jpgSeed))
    val bmpSeed = {
      // minimal 24-bit BMP header, the layout BmpCodec reads
      val w = 4; val h = 3; val row = ((w * 3 + 3) / 4) * 4
      val b = java.nio.ByteBuffer.allocate(54 + row * h).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54 + row * h).putInt(0)
      b.putInt(54).putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      b.array()
    }
    def row(kind: String, b: Array[Byte]) = Seq(MediaRow(1, kind, b))
    // four WebP seeds, so corruption reaches every stream shape: LZ77
    // runs, the predictor transform chain, the color cache, and
    // bundled color-indexing
    val targets = Seq[(String, Array[Byte], Array[Byte] => Boolean)](
      ("wav", wavSeed, b => features(new PcmWavCodec().decodeBatch(row("audio", b)))),
      ("bmp", bmpSeed, b => features(new BmpCodec().decodeBatch(row("image", b)))),
      ("png", pngSeed, b => features(new PngCodec().decodeBatch(row("image", b)))),
      ("ahash", pngSeed, b => ImageHash.ahashGrey8(b).nonEmpty),
      ("mp4", mp4Seed, b => features(new Mp4Codec().decodeBatch(row("video", b)))),
      ("mjpeg", mp4Seed, b => Mjpeg.frameFeatures(b).nonEmpty),
      ("jpeg", jpgSeed, b => features(new JpegCodec().decodeBatch(row("image", b)))),
      ("webp", Webp.Builder.grey8(8, 6, Array.tabulate(48)(i => (i * 7).toByte), withRuns = true), webp),
      ("webp-pred", Webp.Builder.grey8Predicted(7, 5, Array.tabulate(35)(i => (i * 11).toByte), mode = 12), webp),
      ("webp-cache", Webp.Builder.grey8Cached(8, 8, Array.tabulate(64)(i => ((i % 5) * 40).toByte)), webp),
      ("webp-idx", Webp.Builder.grey8Indexed(9, 6, Array.tabulate(54)(i => (i % 4).toByte),
        Array(10, 80, 150, 220)), webp))
    // per path: (decoded, refused)
    val counts = scala.collection.mutable.TreeMap.empty[String, (Int, Int)]
    for (n <- 0 until Inputs) {
      val (tag, seed, run) = targets(rnd.nextInt(targets.length))
      val mut =
        if (rnd.nextBoolean()) java.util.Arrays.copyOfRange(seed, 0, 1 + rnd.nextInt(seed.length))
        else seed.clone()
      (0 until rnd.nextInt(9)).foreach { _ =>
        if (mut.nonEmpty) mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte }
      val ok = try run(mut) catch {
        case e: Throwable =>
          fail(s"throw in $tag at input $n on ${mut.map("%02x".format(_)).mkString}: $e\n" +
            e.getStackTrace.take(5).mkString("  at ", "\n  at ", ""))
      }
      val (d, r) = counts.getOrElse(tag, (0, 0))
      counts(tag) = if (ok) (d + 1, r) else (d, r + 1)
    }
    info(s"(decoded, refused) per path: $counts")
    assert(counts.toMap == Map(
      "ahash" -> (152, 1743), "bmp" -> (1262, 560), "jpeg" -> (748, 1118), "mjpeg" -> (643, 1190),
      "mp4" -> (1201, 584), "png" -> (962, 822), "wav" -> (1385, 403), "webp" -> (145, 1651),
      "webp-cache" -> (144, 1684), "webp-idx" -> (177, 1662), "webp-pred" -> (223, 1541)))
  }
}
