package graft.analytics

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.Multimodal._

class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("batched feature extraction: schema, determinism, batch shape") {
    import spark.implicits._
    val media = (0L until 300L).map { i =>
      MediaRow(i, if (i % 3 == 0) "image" else "video",
        s"payload-$i".getBytes ++ Array.fill[Byte]((i % 50).toInt)(i.toByte))
    }.toDS()

    val fx = extractFeatures(media, new DeterministicStubCodec,
      batchSize = 64, partitions = 4).collect()

    assert(fx.length == 300)
    // deterministic: same content → same features across runs
    val fx2 = extractFeatures(media, new DeterministicStubCodec,
      batchSize = 64, partitions = 4).collect()
    assert(fx.sortBy(_.mediaId).map(_.digest).toSeq ==
      fx2.sortBy(_.mediaId).map(_.digest).toSeq)
    // batch shape: no batch exceeds the configured size, and batching
    // actually happens (not row-at-a-time)
    assert(fx.forall(_.batchSize <= 64))
    assert(fx.exists(_.batchSize > 1))
    // stub semantics: images have no duration, video duration scales
    assert(fx.filter(_.mediaType == "image").forall(_.durationMs == 0))
    assert(fx.filter(_.mediaType == "video").forall(f => f.durationMs == f.byteLen * 10))
  }

  // --- real-format byte builders (no codec libs: pure arithmetic) ---

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** Canonical 44-byte-header mono 16-bit PCM WAV. */
  private def wavBytes(rate: Int, samples: Seq[Int]): Array[Byte] = {
    val data = samples.flatMap(le16).toArray
    "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(rate) ++
      le32(rate * 2) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.length) ++ data
  }

  /** Uncompressed 24-bit BMP; pixels in (r,g,b), row 0 = bottom. */
  private def bmpBytes(width: Int, height: Int,
      pixels: Seq[(Int, Int, Int)]): Array[Byte] = {
    val rowBytes = ((width * 3 + 3) / 4) * 4
    val data = new Array[Byte](rowBytes * height)
    pixels.zipWithIndex.foreach { case ((r, g, b), i) =>
      val (x, y) = (i % width, i / width)
      val o = y * rowBytes + x * 3
      data(o) = b.toByte; data(o + 1) = g.toByte; data(o + 2) = r.toByte
    }
    "BM".getBytes ++ le32(54 + data.length) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(width) ++ le32(height) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(data.length) ++ le32(2835) ++ le32(2835) ++
      le32(0) ++ le32(0) ++ data
  }

  test("real decode: PCM WAV and 24-bit BMP parse without codec libs") {
    import spark.implicits._
    // 8000 samples at 8 kHz alternating ±16384: exactly 1 s long,
    // mean-square energy (16384/32768)² = 0.25 → 250 milli
    val wav = wavBytes(8000,
      (0 until 8000).map(i => if (i % 2 == 0) 16384 else -16384))
    // 2×2 BMP, two white + two black pixels → average luma 127500
    val bmp = bmpBytes(2, 2,
      Seq((255, 255, 255), (0, 0, 0), (0, 0, 0), (255, 255, 255)))
    val jpegish = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 1, 2, 3)

    val media = Seq(
      MediaRow(1L, "audio", wav),
      MediaRow(2L, "image", bmp),
      MediaRow(3L, "image", jpegish)).toDS()
    val fx = extractFeatures(media, new FormatAwareCodec, batchSize = 8)
      .collect().sortBy(_.mediaId)

    val audio = fx(0)
    assert(audio.sampleRate == 8000 && audio.channels == 1)
    assert(audio.durationMs == 1000L)
    assert(audio.energyMilli == 250L)
    val image = fx(1)
    assert(image.width == 2 && image.height == 2)
    assert(image.avgLumaMilli == 127500L)
    // a lib-dependent format falls back to the deterministic stub
    val other = fx(2)
    assert(other.avgLumaMilli == -1L && other.energyMilli == -1L)
    assert(other.byteLen == jpegish.length)
  }

  /** Hand-built PNG: real signature, IHDR, zlib IDAT, IEND — pure
    * JDK (Deflater + CRC32), no image library.
    */
  private def pngBytes(width: Int, height: Int, colorType: Int,
      scanlines: Array[Array[Byte]]): Array[Byte] = {
    def be32(v: Int): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(ctype.getBytes("US-ASCII")); crc.update(data)
      be32(data.length) ++ ctype.getBytes("US-ASCII") ++ data ++
        be32(crc.getValue.toInt)
    }
    val ihdr = be32(width) ++ be32(height) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0)
    val raw = scanlines.flatten.toArray
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  test("real PNG decode: inflate + unfilter (None/Sub/Up/Paeth) + exact luma") {
    // 2×2 RGB: white, black / black, white — filters None then Up
    val rgb = pngBytes(2, 2, colorType = 2, Array(
      Array[Byte](0, // filter None
        255.toByte, 255.toByte, 255.toByte, 0, 0, 0),
      Array[Byte](2, // filter Up: raw = cur - up (mod 256)
        (0 - 255).toByte, (0 - 255).toByte, (0 - 255).toByte,
        (255 - 0).toByte, (255 - 0).toByte, (255 - 0).toByte)))
    val fx = new PngCodec().decodeBatch(Seq(MediaRow(1L, "image", rgb))).head
    assert(fx.width == 2 && fx.height == 2)
    assert(fx.avgLumaMilli == 127500L) // two white + two black pixels

    // 3×1 greyscale with Sub filter: 10, +20→30, +30→60
    val grey = pngBytes(3, 1, colorType = 0, Array(
      Array[Byte](1, 10, 20, 30)))
    val g = new PngCodec().decodeBatch(Seq(MediaRow(2L, "image", grey))).head
    assert(g.width == 3 && g.height == 1)
    assert(g.avgLumaMilli == (10L + 30L + 60L) * 1000 / 3)

    // 2×2 greyscale exercising Paeth (filter 4) on the second row
    val paeth = pngBytes(2, 2, colorType = 0, Array(
      Array[Byte](0, 100.toByte, 200.toByte),
      // Paeth predictors: x=0 → up(100); x=1 → a=110,up=200,c=100 →
      // p=210, pa=100,pb=10,pc=110 → up(200)
      Array[Byte](4, 10, 50)))
    val p = new PngCodec().decodeBatch(Seq(MediaRow(3L, "image", paeth))).head
    assert(p.avgLumaMilli == (100L + 200L + 110L + 250L) * 1000 / 4)

    // dispatch: FormatAwareCodec routes by the PNG signature
    val spark2 = spark
    import spark2.implicits._
    val viaDispatch = extractFeatures(
      Seq(MediaRow(9L, "image", rgb)).toDS(), new FormatAwareCodec)
      .collect().head
    assert(viaDispatch.avgLumaMilli == 127500L)

    // truncated IDAT degrades to dimensions-only, no exception
    val cut = rgb.take(rgb.length - 20)
    val t = new PngCodec().decodeBatch(Seq(MediaRow(4L, "image", cut))).head
    assert(t.width == 2 && t.avgLumaMilli == -1L)
  }

  test("real PNG decode: palette (colorType 3) resolves indices through PLTE") {
    def be32(v: Int): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(ctype.getBytes("US-ASCII")); crc.update(data)
      be32(data.length) ++ ctype.getBytes("US-ASCII") ++ data ++
        be32(crc.getValue.toInt)
    }
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    // palette: 0 → white, 1 → black, 2 → pure red
    val plte = Array[Byte](255.toByte, 255.toByte, 255.toByte,
      0, 0, 0, 255.toByte, 0, 0)
    // 2×2 indices: white black / black red, filter None per row
    val scan = Array[Byte](0, 0, 1, 0, 1, 2)
    def png(palette: Array[Byte]) =
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        chunk("IHDR", be32(2) ++ be32(2) ++ Array[Byte](8, 3, 0, 0, 0)) ++
        chunk("PLTE", palette) ++
        chunk("IDAT", deflate(scan)) ++
        chunk("IEND", Array.emptyByteArray)
    val fx = new PngCodec().decodeBatch(Seq(MediaRow(1L, "image", png(plte)))).head
    assert(fx.width == 2 && fx.height == 2)
    // 255000 + 0 + 0 + (299·255) per Rec.601 red, over 4 pixels
    assert(fx.avgLumaMilli == (255000L + 0L + 0L + 299L * 255) / 4)
    // an index past the palette ends drops luma, keeps dims
    val short = new PngCodec().decodeBatch(
      Seq(MediaRow(2L, "image", png(plte.take(3))))).head
    assert(short.width == 2 && short.avgLumaMilli == -1L)
  }

  test("malformed containers degrade to stub features, never hang or abort") {
    import spark.implicits._
    // WAV with a negative data-chunk size: the chunk walk must bail,
    // not spin the task forever
    val evilWav = {
      val good = wavBytes(8000, Seq(100, -100, 100, -100))
      // find the "data" chunk and corrupt its size to -8
      val idx = good.indexOfSlice("data".getBytes)
      good.patch(idx + 4, le32(-8), 4)
    }
    // BMP with a negative pixel-data offset and absurd dims: must not
    // throw ArrayIndexOutOfBounds
    val evilBmp = {
      val good = bmpBytes(2, 2, Seq((1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)))
      good.patch(10, le32(-100), 4) // dataOffset = -100
        .patch(18, le32(Int.MaxValue), 4) // width overflow bait
    }
    val media = Seq(
      MediaRow(1L, "audio", evilWav),
      MediaRow(2L, "image", evilBmp)).toDS()
    val fx = extractFeatures(media, new FormatAwareCodec, batchSize = 8)
      .collect().sortBy(_.mediaId)
    // both rows come back (no exception, no hang); the WAV keeps its
    // fmt-derived metadata but reads no frames, the BMP reads no pixels
    assert(fx.length == 2)
    assert(fx(0).sampleRate == 8000 && fx(0).durationMs == 0L)
    assert(fx(1).avgLumaMilli == -1L)
  }

  test("deeply nested MP4 boxes hit the depth bound, not a stack overflow") {
    // thousands of nested 'trak' containers, each an 8-byte header
    // whose size runs to the end of the blob: unbounded recursion
    // would be one stack frame per box — a VirtualMachineError no
    // NonFatal fallback catches
    val total = 200 * 1024
    val b = new Array[Byte](total)
    def be32(off: Int, v: Int): Unit = {
      b(off) = ((v >> 24) & 0xff).toByte; b(off + 1) = ((v >> 16) & 0xff).toByte
      b(off + 2) = ((v >> 8) & 0xff).toByte; b(off + 3) = (v & 0xff).toByte
    }
    // leading ftyp so FormatAwareCodec dispatch also routes here
    be32(0, 16); System.arraycopy("ftyp".getBytes, 0, b, 4, 4)
    var off = 16
    while (off + 8 <= total) {
      be32(off, total - off)
      System.arraycopy("trak".getBytes, 0, b, off + 4, 4)
      off += 8
    }
    val fx = new Mp4Codec().decodeBatch(Seq(MediaRow(1L, "video", b))).head
    assert(fx.width == 0 && fx.durationMs == 0L) // parsed nothing, threw nothing
    assert(Mp4Index.syncSampleOffsets(b) == Nil)
  }

  test("crafted uniform-stsz sample count is capped, not looped 2^31 times") {
    // a ~200-byte skeleton declaring Int.MaxValue one-byte samples:
    // the uniform arm consumes no stsz table bytes, so only the hard
    // cap bounds the index walk
    val bomb = Mp4Builder.withSampleIndex(600, 600L, 320, 240,
      sampleCount = Int.MaxValue, uniformSize = 1, sampleSizes = Nil,
      samplesPerChunk = Int.MaxValue, chunkOffsets = Seq(1000L),
      syncSamples = 1 to 4)
    val start = System.nanoTime()
    val out = Mp4Index.syncSampleOffsets(bomb)
    assert(System.nanoTime() - start < 5_000_000_000L, "walk did not terminate promptly")
    assert(out == Seq((1, 1000L), (2, 1001L), (3, 1002L), (4, 1003L)))
  }

  test("PNG larger than the generic zlib cap still decodes (exact-size cap)") {
    // 2048×2048 RGB: raw scanline data (3·2048+1)·2048 ≈ 12.6MB —
    // past safeInflate's 10MB default, within the pixel guard
    val row = Array[Byte](0) ++ Array.fill(2048 * 3)(100.toByte)
    val big = pngBytes(2048, 2048, colorType = 2, Array.fill(2048)(row))
    val fx = new PngCodec().decodeBatch(Seq(MediaRow(1L, "image", big))).head
    assert(fx.width == 2048 && fx.height == 2048)
    assert(fx.avgLumaMilli == 100000L) // uniform grey(100) in RGB
  }

  test("JPEG encode emits the AC Huffman table selected by tac, not tdc") {
    val quant = Array.fill(64)(1)
    val block = (bx: Int, by: Int) => {
      val c = new Array[Int](64); c(0) = 40 + bx * 8 + by; c(9) = 3; c
    }
    val plain = new JpegCodec().decodeBatch(Seq(MediaRow(1L, "image",
      JpegBuilder.baselineGrey(16, 16, quant, block)))).head
    val split = new JpegCodec().decodeBatch(Seq(MediaRow(2L, "image",
      JpegBuilder.baselineGreySplitTables(16, 16, quant, block)))).head
    assert(split.width == 16 && split.height == 16)
    assert(split.avgLumaMilli == plain.avgLumaMilli && plain.avgLumaMilli > 0)
  }

  test("long-clip WAV energy does not overflow the accumulator scaling") {
    // 150 s of full-scale 44.1 kHz mono: sumSq ≈ 7.1e15, the old
    // sumSq*1000 pre-scaling would wrap past Long.MaxValue
    val n = 44100 * 150
    val samples = new Array[Byte](n * 2)
    var i = 0
    while (i < n) { // -32768 full-scale: le16 = 0x00 0x80
      samples(i * 2) = 0x00; samples(i * 2 + 1) = 0x80.toByte; i += 1
    }
    val wav = "RIFF".getBytes ++ le32(36 + samples.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(44100) ++
      le32(44100 * 2) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(samples.length) ++ samples
    val fx = new PcmWavCodec()
      .decodeBatch(Seq(MediaRow(1L, "audio", wav))).head
    assert(fx.energyMilli == 1000L) // (-32768/32768)² = 1.0 exactly
    assert(fx.durationMs == 150000L)
  }

  test("real MP4 box parse: mvhd duration + tkhd dims, v0 and v1 layouts") {
    // version-0 container: 90 s at timescale 600, 1920×1080 track
    val v0 = Mp4Builder.minimal(600, 54000, 1920, 1080)
    // version-1 container: 64-bit duration field, 2½ h at 90 kHz
    val v1 = Mp4Builder.minimal(90000, 810000000L, 3840, 2160, version1 = true)
    val fx = new FormatAwareCodec().decodeBatch(Seq(
      MediaRow(1L, "video", v0), MediaRow(2L, "video", v1)))
    assert(fx(0).width == 1920 && fx(0).height == 1080)
    assert(fx(0).durationMs == 90000L)
    assert(fx(1).width == 3840 && fx(1).height == 2160)
    assert(fx(1).durationMs == 9000000L)
    // malformed: a zero-size inner box must not spin the walk, and a
    // size-1 box with a truncated largesize must bail cleanly
    val evil = v0.clone()
    val moovIdx = evil.indexOfSlice("moov".getBytes) - 4
    evil(moovIdx) = 0; evil(moovIdx + 1) = 0
    evil(moovIdx + 2) = 0; evil(moovIdx + 3) = 0 // moov size = 0 (to EOF)
    val fxEvil = new Mp4Codec().decodeBatch(Seq(MediaRow(3L, "video", evil)))
    assert(fxEvil.head.durationMs == 90000L) // still parsed: 0 = to-end
    val truncated = v0.take(6) // size says 16+, bytes end at 6
    val fxTrunc = new Mp4Codec()
      .decodeBatch(Seq(MediaRow(4L, "video", truncated)))
    assert(fxTrunc.head.width == 0 && fxTrunc.head.durationMs == 0L)
  }

  test("real MP4 sample index: stss×stsc×stsz×stco → keyframe offsets") {
    // 7 samples of varying size, 3 per chunk, syncs at 1/4/7:
    //   chunk 1 @1000: s1(10) s2(20) s3(30) → s1@1000
    //   chunk 2 @5000: s4(40) s5(50) s6(60) → s4@5000
    //   chunk 3 @9000: s7(70)              → s7@9000
    val varying = Mp4Builder.withSampleIndex(600, 4200, 320, 240,
      sampleCount = 7, uniformSize = 0,
      sampleSizes = Seq(10, 20, 30, 40, 50, 60, 70),
      samplesPerChunk = 3, chunkOffsets = Seq(1000, 5000, 9000),
      syncSamples = Seq(1, 4, 7))
    assert(Mp4Index.syncSampleOffsets(varying) ==
      Seq((1, 1000L), (4, 5000L), (7, 9000L)))
    // syncs mid-chunk: offsets accumulate preceding sample sizes
    val midChunk = Mp4Builder.withSampleIndex(600, 4200, 320, 240,
      sampleCount = 7, uniformSize = 0,
      sampleSizes = Seq(10, 20, 30, 40, 50, 60, 70),
      samplesPerChunk = 3, chunkOffsets = Seq(1000, 5000, 9000),
      syncSamples = Seq(2, 3, 5))
    assert(Mp4Index.syncSampleOffsets(midChunk) ==
      Seq((2, 1010L), (3, 1030L), (5, 5040L)))
    // uniform stsz (sample_size field set, no per-sample table)
    val uniform = Mp4Builder.withSampleIndex(600, 4200, 320, 240,
      sampleCount = 5, uniformSize = 100, sampleSizes = Nil,
      samplesPerChunk = 2, chunkOffsets = Seq(2000, 4000, 6000),
      syncSamples = Seq(1, 3, 4))
    assert(Mp4Index.syncSampleOffsets(uniform) ==
      Seq((1, 2000L), (3, 4000L), (4, 4100L)))
    // the metadata-only container has no stbl → empty, not a throw;
    // same for a truncated index
    assert(Mp4Index.syncSampleOffsets(
      Mp4Builder.minimal(600, 54000, 1920, 1080)).isEmpty)
    assert(Mp4Index.syncSampleOffsets(varying.take(60)).isEmpty)
  }

  test("real JPEG marker parse: SOF dims, baseline and progressive") {
    val base = JpegBuilder.headerOnly(640, 480)
    val prog = JpegBuilder.headerOnly(1024, 768, progressive = true)
    val fx = new FormatAwareCodec().decodeBatch(Seq(
      MediaRow(1L, "image", base), MediaRow(2L, "image", prog)))
    assert(fx(0).width == 640 && fx(0).height == 480)
    assert(fx(1).width == 1024 && fx(1).height == 768)
    assert(fx.forall(_.avgLumaMilli == -1L)) // pixels stay opaque
    // a segment length pointing past the buffer must bail, not throw
    val evil = base.clone()
    val sofIdx = evil.indexOfSlice(Array(0xff.toByte, 0xc0.toByte))
    evil(sofIdx + 2) = 0x7f // SOF length = 32523 > remaining bytes
    val fxEvil = new JpegCodec().decodeBatch(Seq(MediaRow(3L, "image", evil)))
    assert(fxEvil.head.width == 0 && fxEvil.head.height == 0)
  }

  /** Independent reference: the textbook O(n⁴) IDCT straight from
    * the T.81 formula, no separability — pixels and luma must agree
    * exactly with the decoder's separable implementation.
    */
  private def refIdctLuma(quantized: Array[Int], quant: Array[Int]): Long = {
    def c(u: Int) = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    var sum = 0L
    for (y <- 0 until 8; x <- 0 until 8) {
      var s = 0.0
      for (v <- 0 until 8; u <- 0 until 8)
        s += c(u) * c(v) * quantized(v * 8 + u) * quant(v * 8 + u) *
          math.cos((2 * x + 1) * u * math.Pi / 16.0) *
          math.cos((2 * y + 1) * v * math.Pi / 16.0)
      sum += math.max(0, math.min(255, math.round(s / 4.0).toInt + 128))
    }
    sum * 1000L / 64
  }

  test("real JPEG baseline decode: DC-only blocks, edge crop, restart resets") {
    // 12×10 grayscale = 2×2 blocks; right column crops to 4 px,
    // bottom row to 2 px. DC quant step 8 makes each DC-only block a
    // solid value dc+128 EXACTLY (F00 = dc·8, IDCT = F00/8 + 128).
    val dcs = Map((0, 0) -> 8, (1, 0) -> -8, (0, 1) -> 16, (1, 1) -> 0)
    val quant = Array.fill(64)(8)
    def block(bx: Int, by: Int) = {
      val a = new Array[Int](64); a(0) = dcs((bx, by)); a
    }
    // restartInterval=1: an RST before every block after the first.
    // The expected luma only comes out if the decoder RESETS the DC
    // predictor at each restart (8, then -8 absolute — not 8-8=0).
    val bytes = JpegBuilder.baselineGrey(12, 10, quant, block,
      restartInterval = 1)
    val fx = new JpegCodec().decodeBatch(Seq(MediaRow(1L, "image", bytes))).head
    assert(fx.width == 12 && fx.height == 10)
    val expected = (136L * 64 + 120L * 32 + 144L * 16 + 128L * 8) * 1000 / 120
    assert(fx.avgLumaMilli == expected)
  }

  test("real JPEG baseline decode: AC coefficients match the reference IDCT") {
    // one 8×8 block with DC + scattered ACs (including a zigzag-63
    // coefficient, which forces ZRL runs through the encoder and the
    // run-length path through the decoder)
    val quant = Array.tabulate(64)(i => 2 + (i % 5))
    val quantized = new Array[Int](64)
    quantized(0) = 5    // DC
    quantized(1) = 4    // (u=1, v=0)
    quantized(8) = -3   // (u=0, v=1)
    quantized(20) = 7   // mid-frequency
    quantized(63) = 2   // highest zigzag index → long zero runs
    val bytes = JpegBuilder.baselineGrey(8, 8, quant, (_, _) => quantized)
    val fx = new JpegCodec().decodeBatch(Seq(MediaRow(1L, "image", bytes))).head
    assert(fx.width == 8 && fx.height == 8)
    assert(fx.avgLumaMilli == refIdctLuma(quantized, quant))
  }

  test("real JPEG baseline decode: 4:2:0 interleaved scan, chroma consumed") {
    import spark.implicits._
    // 18×10: two 16×16 MCUs horizontally. Y grid is 4×2 blocks (the
    // 4th column is pure MCU padding), visible grid 3×2 with the
    // third column 2 px wide and the second row 2 px tall.
    val quantY = Array.fill(64)(8)
    val quantC = Array.fill(64)(16)
    def yb(bx: Int, by: Int) = {
      val a = new Array[Int](64); a(0) = 4 * bx - 8 * by + 8; a
    }
    // chroma carries nonzero DC AND AC: their bits MUST be consumed
    // (a decoder that skipped chroma would desync and garble Y)
    def cb(bx: Int, by: Int) = {
      val a = new Array[Int](64); a(0) = 5 + bx; a(1) = 3 - by; a
    }
    def cr(bx: Int, by: Int) = {
      val a = new Array[Int](64); a(0) = -5 + by; a(9) = 2 + bx; a
    }
    val bytes = JpegBuilder.baseline420(18, 10, quantY, yb, quantC, cb, cr)
    // through the full dispatch path, not just the codec
    val fx = extractFeatures(
      Seq(MediaRow(7L, "image", bytes)).toDS(), new FormatAwareCodec)
      .collect().head
    assert(fx.width == 18 && fx.height == 10)
    var expectedSum = 0L
    for (by <- 0 until 2; bx <- 0 until 3) {
      val visW = math.min(8, 18 - bx * 8); val visH = math.min(8, 10 - by * 8)
      expectedSum += (4L * bx - 8 * by + 8 + 128) * visW * visH
    }
    assert(fx.avgLumaMilli == expectedSum * 1000 / (18 * 10))
  }

  test("real JPEG baseline decode: truncated entropy keeps dims, drops luma") {
    val quant = Array.fill(64)(8)
    def block(bx: Int, by: Int) = {
      val a = new Array[Int](64); a(0) = bx + by; a
    }
    val good = JpegBuilder.baselineGrey(24, 16, quant, block)
    // sanity: the intact stream decodes (DC-only grid averages 129.5)
    val ok = new JpegCodec().decodeBatch(Seq(MediaRow(0L, "image", good))).head
    assert(ok.avgLumaMilli == 129500L)
    val sosIdx = good.indexOfSlice(Array(0xff.toByte, 0xda.toByte))
    assert(sosIdx > 0)
    // entropy data starts 10 bytes after the SOS marker (4 header +
    // 6 payload); keep exactly ONE entropy byte so the scan cannot
    // complete (six DC-only blocks need ~3)
    val cut = good.take(sosIdx + 11)
    val fx = new JpegCodec().decodeBatch(Seq(MediaRow(1L, "image", cut))).head
    assert(fx.width == 24 && fx.height == 16)
    assert(fx.avgLumaMilli == -1L)
  }

  /** Deterministic sparse coefficient blocks: a mix of zero runs
    * (exercising ZRL + EOB paths), negatives, and values spanning
    * several magnitude bits (exercising successive approximation).
    */
  private def progBlock(bx: Int, by: Int): Array[Int] = {
    val a = new Array[Int](64)
    var seed = bx * 7919 + by * 104729 + 17
    def next(): Int = { seed = seed * 1103515245 + 12345; (seed >>> 16) & 0x7fff }
    a(0) = (next() % 64) - 32 // DC
    var i = 0
    while (i < 6) { // 6 sparse AC coefficients per block
      val pos = 1 + next() % 63
      val mag = 1 + next() % 23
      a(pos) = if (next() % 2 == 0) mag else -mag
      i += 1
    }
    a
  }

  test("real JPEG progressive decode: spectral selection matches baseline") {
    val quant = Array.tabulate(64)(k => 4 + (k % 8))
    // 20×18: 3×3 block grid with right/bottom edge crops
    val baseline = JpegBuilder.baselineGrey(20, 18, quant, progBlock)
    val expected = new JpegCodec()
      .decodeBatch(Seq(MediaRow(1L, "image", baseline))).head
    assert(expected.avgLumaMilli >= 0)
    // DC scan, then the AC spectrum split across three bands — the
    // classic spectral-selection-only script
    val prog = JpegBuilder.progressiveGrey(20, 18, quant, progBlock,
      Seq((0, 0, 0, 0), (1, 5, 0, 0), (6, 20, 0, 0), (21, 63, 0, 0)))
    val fx = new JpegCodec().decodeBatch(Seq(MediaRow(2L, "image", prog))).head
    assert(fx.width == 20 && fx.height == 18)
    assert(fx.avgLumaMilli == expected.avgLumaMilli,
      "progressive coefficients must reconstruct the baseline image exactly")
  }

  test("real JPEG progressive decode: successive approximation refines to exact") {
    val quant = Array.fill(64)(5)
    val baseline = JpegBuilder.baselineGrey(24, 16, quant, progBlock)
    val expected = new JpegCodec()
      .decodeBatch(Seq(MediaRow(1L, "image", baseline))).head
    // the libjpeg-style script: coarse bits first (Al=2), then two
    // one-bit refinement passes per band down to full precision —
    // exercises DC refinement bits, AC first-at-Al, and the
    // G.1.2.3 correction-bit interleave (history bits buffered
    // through ZRL and EOB codes)
    val prog = JpegBuilder.progressiveGrey(24, 16, quant, progBlock,
      Seq(
        (0, 0, 0, 2), // DC, top bits
        (1, 10, 0, 2), (11, 63, 0, 2), // AC bands, coarse
        (0, 0, 2, 1), (0, 0, 1, 0), // DC refinements to full precision
        (1, 10, 2, 1), (11, 63, 2, 1), // AC refinement, bit 1
        (1, 10, 1, 0), (11, 63, 1, 0))) // AC refinement, bit 0
    val fx = new JpegCodec().decodeBatch(Seq(MediaRow(2L, "image", prog))).head
    assert(fx.width == 24 && fx.height == 16)
    assert(fx.avgLumaMilli == expected.avgLumaMilli,
      "all approximation bits applied must reconstruct the exact image")
  }

  test("progressive decode stops cleanly on truncated refinement data") {
    val quant = Array.fill(64)(6)
    val good = JpegBuilder.progressiveGrey(16, 16, quant, progBlock,
      Seq((0, 0, 0, 1), (1, 63, 0, 1), (0, 0, 1, 0), (1, 63, 1, 0)))
    // chop inside the last scan's entropy data: dims must survive,
    // luma must degrade to -1 rather than throwing out of the codec
    val cut = good.take(good.length - 6)
    val fx = new JpegCodec().decodeBatch(Seq(MediaRow(1L, "image", cut))).head
    assert(fx.width == 16 && fx.height == 16)
    assert(fx.avgLumaMilli == -1L)
  }

  test("JPEG decoder survives fuzzed and bit-flipped streams") {
    val rnd = new scala.util.Random(0x1be60L) // deterministic
    val codec = new JpegCodec()
    // pure garbage behind a valid SOI: must return (dims 0 or junk,
    // luma -1), never throw, never hang
    (0 until 200).foreach { i =>
      val garbage = new Array[Byte](3 + rnd.nextInt(400))
      rnd.nextBytes(garbage)
      garbage(0) = 0xff.toByte; garbage(1) = 0xd8.toByte; garbage(2) = 0xff.toByte
      val fx = codec.decodeBatch(Seq(MediaRow(i.toLong, "image", garbage))).head
      assert(fx.byteLen == garbage.length)
    }
    // single-byte corruptions of a VALID stream: every position,
    // every row must come back (FormatAwareCodec-style per-record
    // safety is a separate net; the codec itself must already hold)
    val quant = Array.fill(64)(8)
    val good = JpegBuilder.baselineGrey(12, 10, quant, (bx, by) => {
      val a = new Array[Int](64); a(0) = bx - by; a(5) = 3; a
    }, restartInterval = 2)
    (2 until good.length).foreach { pos =>
      val mut = good.clone()
      mut(pos) = (mut(pos) ^ 0x55).toByte
      codec.decodeBatch(Seq(MediaRow(pos.toLong, "image", mut)))
    }
    // the same single-byte sweep over a valid PROGRESSIVE stream:
    // corrupt scan scripts, refinement runs past the band, invalid
    // magnitudes — all must degrade per-row, never throw or hang
    val goodProg = JpegBuilder.progressiveGrey(16, 16, quant, (bx, by) => {
      val a = new Array[Int](64); a(0) = bx - by; a(3) = 5; a(17) = -9; a
    }, Seq((0, 0, 0, 1), (1, 63, 0, 1), (0, 0, 1, 0), (1, 63, 1, 0)))
    (2 until goodProg.length).foreach { pos =>
      val mut = goodProg.clone()
      mut(pos) = (mut(pos) ^ 0x55).toByte
      codec.decodeBatch(Seq(MediaRow(pos.toLong, "image", mut)))
    }
  }

  test("binaryMeta computes length and digest without decoding") {
    import spark.implicits._
    val df = Seq(("a", "hello"), ("b", "wörld")).toDF("id", "text")
      .withColumn("content",
        org.apache.spark.sql.functions.encode(
          org.apache.spark.sql.functions.col("text"), "UTF-8"))
    val meta = binaryMeta(df, "content").collect()
    val byId = meta.map(r => r.getAs[String]("id") ->
      (r.getAs[Int]("byte_len"), r.getAs[String]("digest"))).toMap
    assert(byId("a")._1 == 5)
    assert(byId("b")._1 == 6) // ö is 2 bytes in UTF-8
    assert(byId("a")._2 == "5d41402abc4b2a76b9719d911017c592")
  }

  test("frame sampling offsets") {
    assert(frameOffsets(100, 10, 3) == Seq(0L, 30L, 60L, 90L))
    assert(frameOffsets(5, 10, 2) == Seq(0L))
  }

  test("average-hash: half-dark image yields the bright half's bits") {
    // 16×8, left half 0, right half 255: mean = 127.5, so exactly the
    // 4 right columns of every row pass the ≥-mean threshold
    val w = 16; val h = 8
    val px = Array.tabulate(w * h)(i => if (i % w < 8) 0.toByte else 255.toByte)
    val png = Multimodal.PngBuilder.grey8(w, h, px, _ % 5)
    val Some((ww, hh, hi, lo)) = Multimodal.ImageHash.ahashGrey8(png)
    assert((ww, hh) == (16, 8))
    // per 8-cell row: bits 4..7 set → 0xF0
    assert(lo == 0xF0F0F0F0L && hi == 0xF0F0F0F0L)
  }

  test("average-hash survives resize: same content at 2× scale hashes equal") {
    // nearest-neighbor sampling makes the hash scale-invariant for
    // block-constant images — THE property that makes it a near-dup
    // key across thumbnail sizes
    def block(w: Int, h: Int) = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (((x * 8 / w) * 7 + (y * 8 / h) * 31) % 256).toByte
    }
    val small = Multimodal.PngBuilder.grey8(16, 16, block(16, 16), _ % 5)
    val big = Multimodal.PngBuilder.grey8(32, 32, block(32, 32), _ % 5)
    val Some((_, _, hi1, lo1)) = Multimodal.ImageHash.ahashGrey8(small)
    val Some((_, _, hi2, lo2)) = Multimodal.ImageHash.ahashGrey8(big)
    assert((hi1, lo1) == (hi2, lo2))
  }

  test("MJPEG: real frames decode through the sample index, per-frame content distinct") {
    val w = 10; val h = 9
    val quant = Array.fill(64)(8)
    // frame f is a solid image of value 100 + f*10 (DC engineered so
    // IDCT yields dc + 128 exactly, as the JPEG suite pins)
    def frame(f: Int) = Multimodal.JpegBuilder.baselineGrey(w, h, quant,
      (_, _) => { val a = new Array[Int](64); a(0) = (100 + f * 10) - 128; a })
    val mp4 = Multimodal.Mjpeg.container(w, h, 1000L, 3000L,
      (0 until 3).map(frame))
    val frames = Multimodal.Mjpeg.frameFeatures(mp4)
    assert(frames.map(_._1) == Seq(1, 2, 3))
    frames.foreach { case (_, f) => assert((f.width, f.height) == (w, h)) }
    assert(frames.map(_._2.avgLumaMilli) ==
      Seq(100000L, 110000L, 120000L),
      "each frame must decode its OWN content, not a shared slice")
    // the container still reads as a normal MP4 (duration, dims)
    val meta = new Multimodal.Mp4Codec()
      .decodeBatch(Seq(Multimodal.MediaRow(1L, "video", mp4))).head
    assert(meta.durationMs == 3000L && meta.width == w && meta.height == h)
    // truncation degrades to fewer/no frames, never a crash
    val cut = java.util.Arrays.copyOfRange(mp4, 0, mp4.length / 2)
    assert(Multimodal.Mjpeg.frameFeatures(cut).length <= 3)

    // trailing boxes after mdat (`free`, moov-after-mdat layouts):
    // frame slices come from stsz sizes, so the LAST frame must not
    // absorb the foreign bytes
    val free = Multimodal.BE.write32(16L) ++ "free".getBytes("US-ASCII") ++
      Array.fill[Byte](8)(0x5a)
    val trailed = mp4 ++ free
    assert(Multimodal.Mjpeg.frameFeatures(trailed).map(_._2.avgLumaMilli) ==
      frames.map(_._2.avgLumaMilli),
      "trailing box must not leak into the last frame's slice")
    assert(Multimodal.Mp4Index.syncSampleRanges(trailed).map(_._3) ==
      (0 until 3).map(f => frame(f).length.toLong),
      "stsz sizes must round-trip through the range index")
  }

  test("average-hash refuses what it cannot decode honestly") {
    // RGB (colorType 2) PNGs and garbage are None, never a wrong hash
    assert(Multimodal.ImageHash.ahashGrey8(Array[Byte](1, 2, 3)).isEmpty)
    val grey = Multimodal.PngBuilder.grey8(8, 8,
      Array.tabulate(64)(_.toByte), _ => 0)
    // flip the colorType byte inside IHDR (offset 8+8+9) to RGB
    val rgbish = grey.clone(); rgbish(8 + 8 + 9) = 2
    assert(Multimodal.ImageHash.ahashGrey8(rgbish).isEmpty)
  }

  test("GIF LZW: byte-exact round-trip across width growth and a 4096 reset") {
    // deterministic high-entropy stream long enough to force the code
    // width through 9→12 bits AND a dictionary-full clear/reset (every
    // mismatch adds an entry; ~6k mostly-unique pairs overflow 4096)
    val n = 120 * 50
    val px = Array.tabulate(n)(i => ((i * 7919 + (i * i % 65521)) % 256).toByte)
    val enc = Multimodal.GifLzw.encode(px, 8)
    val dec = Multimodal.GifLzw.decode(enc, 8, n)
    assert(dec.isDefined && java.util.Arrays.equals(dec.get, px),
      "LZW round-trip must be byte-exact through width bumps and resets")
    // low-entropy twin: long runs exercise the KwKwK self-reference
    val runs = Array.tabulate(4000)(i => ((i / 97) % 256).toByte)
    val dec2 = Multimodal.GifLzw.decode(Multimodal.GifLzw.encode(runs, 8), 8, runs.length)
    assert(dec2.isDefined && java.util.Arrays.equals(dec2.get, runs))
    // and compression actually happened on the compressible input
    assert(Multimodal.GifLzw.encode(runs, 8).length < runs.length / 2)
  }

  test("real GIF decode: single frame, exact palette luma") {
    val w = 7; val h = 5
    val px = Array.tabulate(w * h)(i => ((i * 31 + 3) % 256).toByte)
    val gif = Multimodal.GifBuilder.grey8(w, h, px)
    assert(Multimodal.Gif.isGif(gif))
    val fs = Multimodal.Gif.frames(gif)
    assert(fs.length == 1)
    assert(fs.head.width == w && fs.head.height == h && !fs.head.interlaced)
    assert(java.util.Arrays.equals(fs.head.pixels, px))
    // grey palette: Rec.601 of (v,v,v) is exactly v, so luma_milli is
    // the exact integer mean ×1000
    val want = px.map(_ & 0xff).map(_.toLong).sum * 1000 / (w * h)
    assert(Multimodal.Gif.lumaMilliOf(fs.head) == want)
  }

  test("GIF interlace: 4-pass row order decodes back to the original image") {
    val w = 6; val h = 13 // odd height exercises all four passes unevenly
    val px = Array.tabulate(w * h)(i => ((i * 11 + 5) % 256).toByte)
    val gif = Multimodal.GifBuilder.grey8(w, h, px, interlaced = true)
    val fs = Multimodal.Gif.frames(gif)
    assert(fs.length == 1 && fs.head.interlaced)
    assert(java.util.Arrays.equals(fs.head.pixels, px),
      "de-interlaced pixels must match the source row order")
  }

  test("animated GIF: per-frame delays, duration, distinct frame content") {
    val w = 4; val h = 3
    def frame(f: Int) = Array.tabulate(w * h)(i => ((f * 40 + i) % 256).toByte)
    val gif = Multimodal.GifBuilder.animGrey8(w, h,
      (0 until 3).map(frame), delaysCs = Seq(4, 5, 6))
    val fs = Multimodal.Gif.frames(gif)
    assert(fs.map(_.delayCs) == Seq(4, 5, 6))
    assert(fs.zipWithIndex.forall { case (fr, i) =>
      java.util.Arrays.equals(fr.pixels, frame(i)) })
    // and through the codec interface: duration = Σ delays ×10 ms,
    // luma from the FIRST frame
    val feats = new Multimodal.GifCodec()
      .decodeBatch(Seq(Multimodal.MediaRow(1L, "image", gif)))
    assert(feats.head.durationMs == 150L)
    assert(feats.head.width == w && feats.head.height == h)
    assert(feats.head.avgLumaMilli ==
      frame(0).map(_ & 0xff).map(_.toLong).sum * 1000 / (w * h))
  }

  test("GIF local color table: frame resolves through its OWN palette") {
    val w = 6; val h = 4
    // 4-entry RGB palette (no global table at all): red, green, blue,
    // white — Rec.601 lumas 76.245, 149.685, 29.07, 255 (x1000 exact)
    val pal = Array[Byte](
      255.toByte, 0, 0, 0, 255.toByte, 0, 0, 0, 255.toByte,
      255.toByte, 255.toByte, 255.toByte)
    val px = Array.tabulate(w * h)(i => (i % 4).toByte)
    val gif = Multimodal.GifBuilder.localPalette(w, h, px, pal)
    val fs = Multimodal.Gif.frames(gif)
    assert(fs.length == 1 && fs.head.width == w && fs.head.height == h)
    assert(java.util.Arrays.equals(fs.head.pixels, px))
    // 6 of each index: mean = (76245+149685+29070+255000)*6 / 24
    val want = (299L*255 + (587L*255) + (114L*255) +
      (299L*255 + 587L*255 + 114L*255)) // silence: computed below
    val lum = Seq(299L*255, 587L*255, 114L*255, 1000L*255)
    val expect = lum.map(_ * 6).sum / (w * h)
    assert(Multimodal.Gif.lumaMilliOf(fs.head) == expect,
      s"local-palette luma ${Multimodal.Gif.lumaMilliOf(fs.head)} != $expect")
  }

  test("GIF decoder refuses what it cannot decode honestly") {
    val w = 5; val h = 4
    val px = Array.tabulate(w * h)(i => (i * 13 % 256).toByte)
    val gif = Multimodal.GifBuilder.grey8(w, h, px)
    // truncation inside the LZW data: no frame, not a wrong frame
    assert(Multimodal.Gif.frames(gif.take(gif.length - 6)).isEmpty)
    // bad signature
    val bad = gif.clone(); bad(4) = 'x'
    assert(Multimodal.Gif.frames(bad).isEmpty)
    // bit-flips inside the compressed stream must never throw
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      val mut = gif.clone()
      mut(13 + 768 + rnd.nextInt(mut.length - 13 - 768 - 1)) =
        (rnd.nextInt(256)).toByte
      Multimodal.Gif.frames(mut) // any result is fine; throwing is not
    }
    // declared-dimension bomb: 65535x65535 frame dims multiply past
    // Int range (and would demand gigabytes) — must refuse, not
    // crash or preallocate (found by the 20k-corruption GIF soak, now GifFuzzSpec)
    val bomb = gif.clone()
    // image descriptor starts after header(13) + global palette(768):
    // width at +5, height at +7 (LE16 each)
    val idesc = 13 + 768
    bomb(idesc + 5) = 0xff.toByte; bomb(idesc + 6) = 0xff.toByte
    bomb(idesc + 7) = 0xff.toByte; bomb(idesc + 8) = 0xff.toByte
    assert(Multimodal.Gif.frames(bomb).isEmpty,
      "oversized declared dims must be refused")

    // through FormatAwareCodec: GIF dispatches to the real decoder
    val feats = new Multimodal.FormatAwareCodec()
      .decodeBatch(Seq(Multimodal.MediaRow(7L, "image", gif)))
    assert(feats.head.width == w && feats.head.height == h)
    assert(feats.head.avgLumaMilli ==
      px.map(_ & 0xff).map(_.toLong).sum * 1000 / (w * h))
  }
}
