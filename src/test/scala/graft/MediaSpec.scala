package graft

import org.apache.spark.sql.functions._

import graft.functions.MediaKernels
import graft.operators.Multimodal

/** Container-header parsing: real byte-level parsers against
  * spec-conformant synthetic headers, plus robustness on garbage. */
class MediaSpec extends SparkSpec {

  private def parse(b: Array[Byte]): (String, Any, Any, Any) = {
    val r = MediaKernels.parse(b)
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
    (r.getUTF8String(0).toString,
      if (r.isNullAt(1)) null else r.getInt(1),
      if (r.isNullAt(2)) null else r.getInt(2),
      if (r.isNullAt(3)) null else r.getInt(3))
  }

  test("png/jpeg/gif/bmp headers parse to their encoded dimensions") {
    assert(parse(Multimodal.pngBytes(640, 480, 10, 1L)) === (("png", 640, 480, null)))
    assert(parse(Multimodal.jpegBytes(1920, 1080, 10, 2L)) === (("jpeg", 1920, 1080, null)))
    assert(parse(Multimodal.gifBytes(320, 200, 10, 3L)) === (("gif", 320, 200, null)))
    assert(parse(Multimodal.bmpBytes(800, 600, 10, 4L)) === (("bmp", 800, 600, null)))
  }

  test("media_meta parses dimensions from fully-encoded real payloads") {
    // the codegen'd header parser and the full decoders must agree on the
    // same real bytes — not just on header-only synthetic payloads
    val rgb = Array.fill[Byte](24 * 16 * 3)(90.toByte)
    assert(parse(graft.operators.JpegCodec.encodeBlockMean(24, 16, rgb)) ===
      (("jpeg", 24, 16, null)))
    assert(parse(Multimodal.pngBytes(24, 16, 0, 1L)) === (("png", 24, 16, null)))
    assert(parse(Multimodal.gifBytes(24, 16, 0, 1L)) === (("gif", 24, 16, null)))
  }

  test("wav sample rate comes from the fmt chunk; mp4 sniffs by ftyp") {
    assert(parse(Multimodal.wavBytes(44100, 10, 5L)) === (("wav", null, null, 44100)))
    // header-only ftyp: format sniffs but carries no track → null dims
    assert(parse(Multimodal.mp4Bytes(10, 6L)) === (("mp4", null, null, null)))
    // complete container: REAL tkhd dimensions through the shared Mp4Codec walk
    assert(parse(Multimodal.mp4FullBytes(112, 64, 8L)) === (("mp4", 112, 64, null)))
  }

  test("jpeg marker walk skips APPn segments to find SOF") {
    // jpegBytes already has APP0 before SOF0; also check SOF2 (progressive)
    val b = Multimodal.jpegBytes(64, 32, 0, 7L)
    val i = b.indexOfSlice(Seq(0xff.toByte, 0xc0.toByte))
    b(i + 1) = 0xc2.toByte // SOF0 → SOF2
    assert(parse(b) === (("jpeg", 64, 32, null)))
  }

  test("garbage and truncated headers degrade to unknown/null, never throw") {
    assert(parse(Array[Byte]())._1 === "unknown")
    assert(parse(Array.tabulate[Byte](64)(_.toByte))._1 === "unknown")
    assert(parse(Multimodal.pngBytes(64, 64, 0, 8L).take(10)) === (("png", null, null, null)))
    assert(parse(Array[Byte](0xff.toByte, 0xd8.toByte)) === (("jpeg", null, null, null)))
    assert(parse("RIFF1234WAVE".getBytes("US-ASCII")) === (("wav", null, null, null)))
  }

  test("adversarial wav chunk sizes terminate: negative sizes degrade to null") {
    // size=-8 advances the naive walk by 0 (infinite loop inside a
    // codegen'd expression = a hung executor task); more-negative sizes
    // drive the offset negative (AIOOBE). Both must degrade to null.
    def wavWith(size: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(16)
        .put("WAVE".getBytes("US-ASCII"))
        .put("junk".getBytes("US-ASCII")).putInt(size)
      b.array()
    }
    assert(parse(wavWith(-8)) === (("wav", null, null, null)))
    assert(parse(wavWith(-9)) === (("wav", null, null, null)))
    assert(parse(wavWith(Int.MinValue)) === (("wav", null, null, null)))
    assert(parse(wavWith(Int.MaxValue)) === (("wav", null, null, null)))
  }

  test("BMP pixel decoder: features equal hand-computed statistics of explicit pixels") {
    // a 2×2 bottom-up 24-bit BMP with EXPLICIT pixels, rows padded to 4n:
    //   logical top row:    (B,G,R) = (10,20,30), (40,50,60)
    //   logical bottom row: (B,G,R) = (0,0,0),    (255,255,255)
    // bottom-up file order stores the bottom row first. rowSize = 8.
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val pixels =
      Array[Byte](0, 0, 0, -1, -1, -1, 0, 0) ++ // bottom row + 2 pad bytes
        Array[Byte](10, 20, 30, 40, 50, 60, 0, 0) // top row + pad
    val bmp = "BM".getBytes("US-ASCII") ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++
      le32(0) ++ Array.fill[Byte](54 - 34)(0) ++ pixels
    val f = Multimodal.bmpPixelFeatures(bmp, 16).get
    // channel means over {10,40,0,255}B {20,50,0,255}G {30,60,0,255}R
    assert(f(0) == ((10 + 40 + 0 + 255) / 4.0).toFloat)
    assert(f(1) == ((20 + 50 + 0 + 255) / 4.0).toFloat)
    assert(f(2) == ((30 + 60 + 0 + 255) / 4.0).toFloat)
    // population std of B channel
    val bVals = Seq(10.0, 40.0, 0.0, 255.0)
    val bMean = bVals.sum / 4
    assert(math.abs(f(3) - math.sqrt(bVals.map(v => v * v).sum / 4 - bMean * bMean)) < 1e-4)
    assert(f(6) == 0f && f(9) == 255f) // min/max B
    // luminance of the four pixels (0.114B + 0.587G + 0.299R)
    def lum(b: Int, g: Int, r: Int) = 0.114 * b + 0.587 * g + 0.299 * r
    val lums = Seq(lum(10, 20, 30), lum(40, 50, 60), lum(0, 0, 0), lum(255, 255, 255))
    assert(math.abs(f(12) - lums.sum / 4) < 1e-4)
    assert(f(13) == 0.25f) // only the white pixel exceeds 127.5
    // within-row gradient: |l(40,50,60)-l(10,20,30)| and |l(white)-l(black)|
    val g1 = math.abs(lums(1) - lums(0))
    val g2 = math.abs(lums(3) - lums(2))
    assert(math.abs(f(14) - (g1 + g2) / 2) < 1e-4)
    assert(f(15) == 1.0f) // square
  }

  test("BMP pixel decoder refuses what it cannot decode (falls back, never lies)") {
    // truncated pixel array → None
    val full = Multimodal.bmpBytes(8, 8, ((8 * 3 + 3) / 4) * 4 * 8, 1L)
    assert(Multimodal.bmpPixelFeatures(full, 16).isDefined)
    assert(Multimodal.bmpPixelFeatures(full.dropRight(1), 16).isEmpty)
    // non-BMP magic → None
    assert(Multimodal.bmpPixelFeatures(Multimodal.pngBytes(8, 8, 64, 1L), 16).isEmpty)
    // synthetic table: every BMP row decodes for real (complete files)
    val feats = Multimodal.featureFrame(Multimodal.syntheticMedia(spark, 48))
      .filter(col("kind") === "image").collect()
    assert(feats.nonEmpty)
    // BMP media ids: kind==image (i%3==0) and (i/3)%4==3 → i ∈ {9, 21, 33, 45}
    val bmpIds = Seq(9L, 21L, 33L, 45L)
    val byId = feats.map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    bmpIds.foreach { id =>
      val v = byId(id)
      // real pixel statistics live in [0, 255]; min ≤ mean ≤ max per channel
      assert(v(6) <= v(0) && v(0) <= v(9), s"media $id")
      assert(v(0) >= 0f && v(9) <= 255f, s"media $id")
    }
  }

  test("parseMeta recovers the declared dims for every image format") {
    val parsed = Multimodal.parseMeta(Multimodal.syntheticMedia(spark, 120))
      .join(Multimodal.syntheticMedia(spark, 120).toDF()
        .select(col("media_id"), col("kind").as("k2"),
          col("width").as("dw"), col("height").as("dh")),
        Seq("media_id"))
      .collect()
    assert(parsed.length === 120)
    val images = parsed.filter(_.getAs[String]("kind") == "image")
    assert(images.nonEmpty)
    images.foreach { r =>
      assert(Set("png", "jpeg", "gif", "bmp").contains(r.getAs[String]("format")))
      assert(r.getAs[Int]("width") === r.getAs[Int]("dw"))
      assert(r.getAs[Int]("height") === r.getAs[Int]("dh"))
    }
    parsed.filter(_.getAs[String]("kind") == "audio").foreach { r =>
      assert(r.getAs[String]("format") === "wav")
      assert(r.getAs[Int]("sample_rate") === 16000)
    }
    parsed.filter(_.getAs[String]("kind") == "video").foreach { r =>
      assert(r.getAs[String]("format") === "mp4")
    }
  }

  /** A 16-bit PCM WAV with EXPLICIT samples (little-endian, two's
    * complement), for hand-computed feature checks. */
  private def pcmWav(rate: Int, channels: Int, bits: Int, fmt: Int,
      samples: Seq[Int]): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val data = samples.flatMap(s => Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
    "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++ "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(fmt) ++ le16(channels) ++ le32(rate) ++
      le32(rate * channels * bits / 8) ++ le16(channels * bits / 8) ++ le16(bits) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
  }

  test("WAV PCM decoder: features equal hand-computed statistics of explicit samples") {
    // samples chosen to exercise sign extension at both extremes
    val s = Seq(1000, -2000, 3000, -32768, 32767)
    val f = Multimodal.wavPcmFeatures(pcmWav(8000, 1, 16, 1, s), 16).get
    val n = s.length.toDouble
    val mean = s.sum / n
    val sumSq = s.map(v => v.toDouble * v).sum
    assert(f(0) == mean.toFloat)
    assert(f(1) == math.sqrt(sumSq / n - mean * mean).toFloat)
    assert(f(2) == -32768f && f(3) == 32767f)
    assert(f(4) == math.sqrt(sumSq / n).toFloat)
    // signs +,-,+,-,+ → every adjacent pair crosses zero
    assert(f(5) == 1.0f)
    // |Δ| = 3000, 5000, 35768, 65535 → mean 27325.75
    assert(f(6) == 27325.75f)
    // |s| > 16384 only for the two extremes
    assert(f(7) == 0.4f)
    assert(f(8) == (5.0 / 8000).toFloat)
    assert(f(9) == 8000f && f(10) == 1f && f(11) == 5f)
    assert(f(12) == 0f && f(15) == 0f) // unused lanes stay zero
  }

  test("WAV PCM decoder refuses what it cannot decode (falls back, never lies)") {
    val s = Seq(1, 2, 3)
    // non-PCM format tag, non-16-bit depth, bad magic → None
    assert(Multimodal.wavPcmFeatures(pcmWav(8000, 1, 16, 3, s), 16).isEmpty)
    assert(Multimodal.wavPcmFeatures(pcmWav(8000, 1, 8, 1, s), 16).isEmpty)
    assert(Multimodal.wavPcmFeatures(Multimodal.mp4Bytes(64, 1L), 16).isEmpty)
    assert(Multimodal.wavPcmFeatures(Multimodal.pngBytes(8, 8, 64, 1L), 16).isEmpty)
    // empty data chunk → None (no samples to describe)
    assert(Multimodal.wavPcmFeatures(pcmWav(8000, 1, 16, 1, Seq.empty), 16).isEmpty)
    // a truncated file still decodes the samples actually present
    val whole = pcmWav(8000, 1, 16, 1, Seq(100, 200, 300))
    val trunc = Multimodal.wavPcmFeatures(whole.dropRight(2), 16).get
    assert(trunc(11) == 2f && trunc(3) == 200f)
    // data chunk first, then a fmt chunk whose 16-byte body is absent past
    // the payload end: the chunk walk finds both headers but the fmt
    // fields must refuse, not throw (ADVICE r9)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val tailFmt =
      "RIFF".getBytes("US-ASCII") ++ le32(36) ++ "WAVE".getBytes("US-ASCII") ++
        "data".getBytes("US-ASCII") ++ le32(16) ++ new Array[Byte](16) ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) // declared 16, body missing
    assert(tailFmt.length == 44)
    assert(Multimodal.wavPcmFeatures(tailFmt, 16).isEmpty)
    // synthetic table: every audio row decodes for real (16-bit PCM)
    val feats = Multimodal.featureFrame(Multimodal.syntheticMedia(spark, 48))
      .filter(col("kind") === "audio").collect()
    assert(feats.nonEmpty)
    feats.foreach { r =>
      val id = r.getLong(0)
      val pad = 200 + (id % 512).toInt
      val fv = r.getSeq[Float](3)
      // lane 11 = samples decoded = pad // 2; lane 9 = the declared rate
      assert(fv(11) == (pad / 2).toFloat, s"media $id")
      assert(fv(9) == 16000f && fv(10) == 1f)
    }
  }

  /** Build a PNG from EXPLICIT filtered scanlines through a REAL deflate
    * stream (not the generator's stored mode), so the decoder's inflate +
    * unfilter path is exercised against an independent encoder. */
  private def pngFrom(w: Int, h: Int, raw: Array[Byte]): Array[Byte] = {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      be32(data.length) ++ typ.getBytes("US-ASCII") ++ data ++ be32(crc.getValue.toInt)
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length + 64)
    val zlen = d.deflate(buf)
    d.end()
    Array[Byte](0x89.toByte) ++ "PNG".getBytes("US-ASCII") ++
      Array[Byte](0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", buf.take(zlen)) ++ chunk("IEND", Array.emptyByteArray)
  }

  test("PNG decoder: Sub/Up filters + deflate round to hand-computed pixel statistics") {
    // 2×2 RGB pixels: row0 (10,20,30),(40,50,60); row1 (5,0,255),(255,128,0)
    // row0 Sub-filtered: 10,20,30 then 40-10,50-20,60-30; row1 Up-filtered
    val raw = Array[Byte](
      1, 10, 20, 30, 30, 30, 30,
      2, (5 - 10).toByte, (0 - 20).toByte, (255 - 30).toByte,
      (255 - 40).toByte, (128 - 50).toByte, (0 - 60).toByte)
    val f = Multimodal.pngPixelFeatures(pngFrom(2, 2, raw), 16).get
    assert(f(0) == ((30 + 60 + 255 + 0) / 4.0).toFloat)  // B mean
    assert(f(1) == ((20 + 50 + 0 + 128) / 4.0).toFloat)  // G mean
    assert(f(2) == ((10 + 40 + 5 + 255) / 4.0).toFloat)  // R mean
    assert(f(6) == 0f && f(9) == 255f)                   // B min/max
    assert(f(8) == 5f && f(11) == 255f)                  // R min/max
    assert(f(15) == 1.0f)
  }

  test("PNG decoder: Average and Paeth filters reverse per spec") {
    // forward-filter known pixels in the TEST (independent of the
    // decoder's unfilter), rows cycling through all 5 filter types
    val (w, h) = (4, 5)
    val pix = Array.tabulate(h * w * 3)(j => ((j * 37 + 11) % 256).toByte)
    def p(y: Int, x: Int): Int = if (x < 0) 0 else pix(y * w * 3 + x) & 0xff
    val raw = new Array[Byte](h * (1 + w * 3))
    for (y <- 0 until h) {
      val ft = y % 5
      raw(y * (1 + w * 3)) = ft.toByte
      for (x <- 0 until w * 3) {
        val cur = p(y, x)
        val a = p(y, x - 3)
        val b = if (y > 0) p(y - 1, x) else 0
        val c = if (y > 0) p(y - 1, x - 3) else 0
        val enc = ft match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case _ =>
            val pr = a + b - c
            val pa = math.abs(pr - a); val pb = math.abs(pr - b); val pc = math.abs(pr - c)
            cur - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        raw(y * (1 + w * 3) + 1 + x) = (enc & 0xff).toByte
      }
    }
    val f = Multimodal.pngPixelFeatures(pngFrom(w, h, raw), 16).get
    // expected B mean from the ORIGINAL pixels (B = channel 2 of RGB)
    val bs = for (y <- 0 until h; x <- 0 until w) yield p(y, x * 3 + 2)
    assert(f(0) == (bs.sum / (w * h).toDouble).toFloat)
    assert(f(6) == bs.min.toFloat && f(9) == bs.max.toFloat)
  }

  test("PNG decoder refuses what it cannot decode (falls back, never lies)") {
    val good = Multimodal.pngBytes(8, 8, 0, 7L)
    assert(Multimodal.pngPixelFeatures(good, 16).isDefined)
    // corrupt the zlib stream header (IDAT data starts at 8 sig + 25 IHDR
    // + 8 chunk header = byte 41) → inflate fails → None
    val bad = good.clone()
    bad(41) = (bad(41) ^ 0x55).toByte
    assert(Multimodal.pngPixelFeatures(bad, 16).isEmpty)
    // truncated → None; non-PNG → None
    assert(Multimodal.pngPixelFeatures(good.dropRight(16), 16).isEmpty)
    assert(Multimodal.pngPixelFeatures(Multimodal.bmpBytes(8, 8, 10, 1L), 16).isEmpty)
    // 16-bit / palette / interlaced IHDRs refuse (mutate the IHDR copy)
    def mut(off: Int, v: Byte): Array[Byte] = { val c = good.clone(); c(off) = v; c }
    assert(Multimodal.pngPixelFeatures(mut(24, 16), 16).isEmpty) // bit depth
    assert(Multimodal.pngPixelFeatures(mut(25, 3), 16).isEmpty)  // palette
    assert(Multimodal.pngPixelFeatures(mut(28, 1), 16).isEmpty)  // interlaced
    // an unknown filter type byte refuses rather than producing noise
    val raw = new Array[Byte](2 * (1 + 2 * 3))
    raw(0) = 7
    assert(Multimodal.pngPixelFeatures(pngFrom(2, 2, raw), 16).isEmpty)
  }

  test("synthetic PNG rows decode for real and match the closed-form filler pixels") {
    val feats = Multimodal.featureFrame(Multimodal.syntheticMedia(spark, 48))
      .filter(col("kind") === "image").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    // png ids: i%3==0 and (i/3)%4==0 → 0, 12, 24, 36
    Seq(0L, 12L, 24L, 36L).foreach { id =>
      val w = 64 + (id % 8).toInt * 16
      val fv = feats(id)
      // B-channel mean from the closed-form filler: byte (3p+2) of the pixel array
      val n = w * 64
      val expB = (0 until n).map(p => (id * 31 + (3 * p + 2) * 7) % 251).sum / n.toDouble
      assert(fv(0) == expB.toFloat, s"media $id")
      assert(fv(15) == w.toFloat / 64, s"media $id aspect")
    }
  }

  test("GIF LZW decoder: hand-packed code stream incl. the KwKwK first-use case") {
    // 3×1 image, 4-color palette, min code size 2 (CLEAR=4, EOI=5).
    // Codes [CLEAR, 1, 6] at width 3: code 6 is the not-yet-defined next
    // code (KwKwK) and must expand to prev ++ first(prev) = [1, 1].
    // LSB-first packing of 4,1,6,5 → bytes [140, 11].
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val gif = "GIF89a".getBytes("US-ASCII") ++ le16(3) ++ le16(1) ++
      Array[Byte](0x81.toByte, 0, 0) ++
      Array[Byte](0, 0, 0, /*idx1:*/ 10, 200.toByte, 77, 1, 2, 3, 4, 5, 6) ++
      Array[Byte](0x2c, 0, 0, 0, 0) ++ le16(3) ++ le16(1) ++ Array[Byte](0) ++
      Array[Byte](2, /*len*/ 2, 140.toByte, 11, 0, 0x3b)
    val f = Multimodal.gifPixelFeatures(gif, 16).get
    // all three pixels are palette[1] = (r=10, g=200, b=77)
    assert(f(0) == 77f && f(1) == 200f && f(2) == 10f)
    assert(f(6) == 77f && f(9) == 77f)
    assert(f(15) == 3f)
  }

  test("GIF decoder: generator round-trip matches the closed-form filler palette pixels") {
    val w = 16
    val gif = Multimodal.gifBytes(w, 8, 0, 5L)
    val f = Multimodal.gifPixelFeatures(gif, 16).get
    // B(p) = palette_b(idx(p)) = ((5·31 + p·7) % 251 · 31) % 256
    val bs = (0 until w * 8).map(p => (((5 * 31 + p * 7) % 251) * 31) % 256)
    assert(f(0) == (bs.sum / (w * 8).toDouble).toFloat)
    assert(f(6) == bs.min.toFloat && f(9) == bs.max.toFloat)
    assert(f(15) == 2f)
  }

  test("GIF decoder refuses what it cannot decode (falls back, never lies)") {
    val good = Multimodal.gifBytes(8, 8, 0, 3L)
    assert(Multimodal.gifPixelFeatures(good, 16).isDefined)
    // interlace flag in the image descriptor (offset 6+7+768+9) → refuse
    val inter = good.clone()
    inter(790) = (inter(790) | 0x40).toByte
    assert(Multimodal.gifPixelFeatures(inter, 16).isEmpty)
    // truncated LZW data → refuse; non-GIF → refuse
    assert(Multimodal.gifPixelFeatures(good.dropRight(10), 16).isEmpty)
    assert(Multimodal.gifPixelFeatures(Multimodal.jpegBytes(8, 8, 64, 1L), 16).isEmpty)
    // corrupting the code stream so it overruns the pixel count → refuse
    val over = good.clone()
    over(795) = (over(795) ^ 0x7f).toByte
    assert(Multimodal.gifPixelFeatures(over, 16).isEmpty ||
      Multimodal.gifPixelFeatures(over, 16).isDefined) // must not throw
  }

  test("synthetic GIF rows decode for real and match the closed-form palette pixels") {
    val feats = Multimodal.featureFrame(Multimodal.syntheticMedia(spark, 48))
      .filter(col("kind") === "image").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    // gif ids: i%3==0 and (i/3)%4==2 → 6, 18, 30, 42
    Seq(6L, 18L, 30L, 42L).foreach { id =>
      val w = 64 + (id % 8).toInt * 16
      val n = w * 64
      val expB = (0 until n).map(p => (((id * 31 + p * 7) % 251) * 31) % 256).sum / n.toDouble
      assert(feats(id)(0) == expB.toFloat, s"media $id")
      assert(feats(id)(15) == w.toFloat / 64, s"media $id aspect")
    }
  }

  test("decodeRgb: hand-built bottom-up BMP reads top-down; header-only JPEG refuses") {
    // the explicit-pixel 2×2 BMP from the decoder test: logical top row
    // (B,G,R) = (10,20,30),(40,50,60); bottom row black, white
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val pixels =
      Array[Byte](0, 0, 0, -1, -1, -1, 0, 0) ++
        Array[Byte](10, 20, 30, 40, 50, 60, 0, 0)
    val bmp = "BM".getBytes("US-ASCII") ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++
      le32(0) ++ Array.fill[Byte](54 - 34)(0) ++ pixels
    val (w, h, rgb) = Multimodal.decodeRgb(bmp).get
    assert(w == 2 && h == 2)
    assert(rgb.map(_ & 0xff).toSeq == Seq(30, 20, 10, 60, 50, 40, 0, 0, 0, 255, 255, 255))
    // the synthetic table's JPEG rows carry headers only: no decoder accepts them
    assert(Multimodal.decodeRgb(Multimodal.jpegBytes(8, 8, 32, 1L)).isEmpty)
  }

  test("decodeRgb reads every real image decoder's source (BMP, PNG, GIF)") {
    // the generators' filler: byte j of seed 9 is (9·31 + 7j) mod 251
    def f(j: Int): Int = (9 * 31 + j * 7) % 251
    // BMP: bottom-up rows of 24 BGR bytes (8 px × 3, no padding)
    val bmp = Multimodal.decodeRgb(Multimodal.bmpBytes(8, 8, 8 * 3 * 8, 9L)).get
    val bmpWant = for (y <- 0 until 8; x <- 0 until 8; c <- 0 until 3)
      yield f((7 - y) * 24 + x * 3 + (2 - c))
    // PNG: the filler is the top-down RGB array itself
    val png = Multimodal.decodeRgb(Multimodal.pngBytes(8, 8, 0, 9L)).get
    val pngWant = (0 until 8 * 8 * 3).map(f)
    // GIF: the filler is the palette index; entry i is (i, 2i, 31i) mod 256
    val gif = Multimodal.decodeRgb(Multimodal.gifBytes(8, 8, 0, 9L)).get
    val gifWant = (0 until 64).flatMap { p =>
      val i = f(p)
      Seq(i, (i * 2) % 256, (i * 31) % 256)
    }
    Seq("bmp" -> (bmp, bmpWant), "png" -> (png, pngWant), "gif" -> (gif, gifWant))
      .foreach { case (name, ((w, h, rgb), want)) =>
        assert(w == 8 && h == 8, name)
        assert(rgb.map(_ & 0xff).toSeq == want, name)
      }
  }

  test("PNG encode/decode round-trips seeded random pixels, incl. multi-block stored streams") {
    val rnd = new scala.util.Random(42)
    // small odd shapes + one image whose raw scanline data crosses the
    // 65,535-byte stored-block boundary (200×120 → 72,120 raw bytes, 2
    // blocks) — the synthetic table never exercises multi-block streams
    Seq((1, 1), (3, 7), (31, 2), (200, 120)).foreach { case (w, h) =>
      val pix = Array.fill[Byte](w * 3 * h)(rnd.nextInt(256).toByte)
      val (dw, dh, got) = Multimodal.pngDecodeRgb(Multimodal.pngFromRgb(w, h, pix)).get
      assert(dw == w && dh == h, s"${w}x$h dims")
      assert(got.sameElements(pix), s"${w}x$h pixels")
    }
  }

  test("WAV PCM decoder walks chunk lists with extra chunks before fmt/data") {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // RIFF → LIST(5 bytes, odd → word-aligned skip) → fmt → data
    val data = Array[Byte](10, 0, 246.toByte, 255.toByte) // samples 10, -10
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(100) ++ "WAVE".getBytes("US-ASCII") ++
      "LIST".getBytes("US-ASCII") ++ le32(5) ++ Array.fill[Byte](6)(0) ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(44100) ++
      le32(88200) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(4) ++ data
    val f = Multimodal.wavPcmFeatures(wav, 16).get
    assert(f(0) == 0f && f(2) == -10f && f(3) == 10f && f(9) == 44100f && f(11) == 2f)
  }
}
