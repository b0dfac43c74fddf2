package graft

import graft.operators.{JpegCodec, Multimodal}

/** Baseline JPEG codec: the DC-only encoder is exact for flat blocks (DC
  * quantizer 8 makes the quantized coefficient the level-shifted mean),
  * so decode results pin against hand-computed pixels with zero
  * floating-point slop. Refusals must fall back, never fabricate. */
class JpegSpec extends SparkSpec {

  private def gray(v: Int, w: Int, h: Int): Array[Byte] =
    Array.fill[Byte](w * h * 3)(v.toByte)

  test("DC-only gray image round-trips exactly (flat IDCT is coef/8)") {
    // 8×8 single-block, gray 100: Y = 100, Cb = Cr = 128 exactly
    val jpg = JpegCodec.encodeBlockMean(8, 8, gray(100, 8, 8))
    val (w, h, rgb) = JpegCodec.decodeRgb(jpg).get
    assert(w == 8 && h == 8)
    assert(rgb.forall(b => (b & 0xff) == 100))
  }

  test("multi-block image decodes each block to its gray mean (DC prediction chain)") {
    // 16×8: left block gray 50, right block gray 200 — two DC diffs
    val rgb = new Array[Byte](16 * 8 * 3)
    for (y <- 0 until 8; x <- 0 until 16; c <- 0 until 3)
      rgb((y * 16 + x) * 3 + c) = (if (x < 8) 50 else 200).toByte
    val (w, h, out) = JpegCodec.decodeRgb(JpegCodec.encodeBlockMean(16, 8, rgb)).get
    assert(w == 16 && h == 8)
    for (y <- 0 until 8; x <- 0 until 16; c <- 0 until 3) {
      val v = out((y * 16 + x) * 3 + c) & 0xff
      assert(v == (if (x < 8) 50 else 200), s"($x,$y,$c) = $v")
    }
  }

  test("non-multiple-of-8 dims: edge blocks replicate, visible pixels exact") {
    val jpg = JpegCodec.encodeBlockMean(5, 3, gray(77, 5, 3))
    val (w, h, rgb) = JpegCodec.decodeRgb(jpg).get
    assert(w == 5 && h == 3)
    assert(rgb.forall(b => (b & 0xff) == 77))
  }

  test("color block means survive the YCbCr round trip within rounding") {
    // flat red 8×8: Y=76.245, Cb≈84.97, Cr≈255 — decode must return a
    // color within ±3 of pure red after two rounded conversions
    val red = Array.tabulate[Byte](8 * 8 * 3)(i => if (i % 3 == 0) 255.toByte else 0)
    val (_, _, rgb) = JpegCodec.decodeRgb(JpegCodec.encodeBlockMean(8, 8, red)).get
    val r = rgb(0) & 0xff
    val g = rgb(1) & 0xff
    val b = rgb(2) & 0xff
    assert(math.abs(r - 255) <= 3 && g <= 3 && b <= 3, s"($r,$g,$b)")
  }

  test("4:2:0 subsampled MCUs decode: per-Y-block means exact, chroma upsampled") {
    // 32×16 gray image in four 8-px vertical bands: 40, 90, 150, 210.
    // Gray → Cb = Cr = 128 everywhere, so chroma subsampling loses
    // nothing and every pixel must round-trip exactly through the
    // 2×2-luma MCU layout (4 Y blocks + Cb + Cr per 16×16).
    val rgb = new Array[Byte](32 * 16 * 3)
    val bands = Array(40, 90, 150, 210)
    for (y <- 0 until 16; x <- 0 until 32; c <- 0 until 3)
      rgb((y * 32 + x) * 3 + c) = bands(x / 8).toByte
    val jpg = JpegCodec.encodeBlockMean(32, 16, rgb, subsample420 = true)
    val (w, h, out) = JpegCodec.decodeRgb(jpg).get
    assert(w == 32 && h == 16)
    for (y <- 0 until 16; x <- 0 until 32; c <- 0 until 3) {
      val v = out((y * 32 + x) * 3 + c) & 0xff
      assert(v == bands(x / 8), s"($x,$y,$c) = $v")
    }
  }

  test("restart markers: DRI + RSTn with DC-predictor resets decode exactly") {
    // 40×8 gray bands → 5 MCUs at 4:4:4; restart every 2 MCUs → RST0,
    // RST1 in-stream, predictors reset at each
    val rgb = new Array[Byte](40 * 8 * 3)
    val bands = Array(20, 70, 120, 170, 220)
    for (y <- 0 until 8; x <- 0 until 40; c <- 0 until 3)
      rgb((y * 40 + x) * 3 + c) = bands(x / 8).toByte
    val jpg = JpegCodec.encodeBlockMean(40, 8, rgb, restartInterval = 2)
    // the stream really contains restart markers
    assert((2 until jpg.length - 1).exists(i =>
      (jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xf8) == 0xd0))
    val (w, h, out) = JpegCodec.decodeRgb(jpg).get
    assert(w == 40 && h == 8)
    for (y <- 0 until 8; x <- 0 until 40; c <- 0 until 3) {
      val v = out((y * 40 + x) * 3 + c) & 0xff
      assert(v == bands(x / 8), s"($x,$y,$c) = $v")
    }
  }

  test("decoder refuses what it cannot decode (falls back, never lies)") {
    // the synthetic table's header-only jpeg rows carry no SOS/scan data
    assert(JpegCodec.decodeRgb(Multimodal.jpegBytes(64, 64, 200, 1L)).isEmpty)
    // progressive SOF2 → refuse
    val good = JpegCodec.encodeBlockMean(8, 8, gray(100, 8, 8))
    val prog = good.clone()
    val sofAt = {
      var i = 2
      while (!((prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0)) i += 1
      i
    }
    prog(sofAt + 1) = 0xc2.toByte
    assert(JpegCodec.decodeRgb(prog).isEmpty)
    // truncated entropy data → refuse
    assert(JpegCodec.decodeRgb(good.dropRight(8)).isEmpty)
    // not a JPEG at all → refuse
    assert(JpegCodec.decodeRgb(Multimodal.pngBytes(8, 8, 0, 1L)).isEmpty)
    assert(JpegCodec.decodeRgb(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("truncated segment bodies refuse instead of throwing (ADVICE r9)") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // DQT whose declared length (3) covers only the Pq/Tq byte: the 65-byte
    // table body is absent and the payload ends right there
    assert(JpegCodec.decodeRgb(bytes(0xff, 0xd8, 0xff, 0xdb, 0x00, 0x03, 0x00)).isEmpty)
    // DHT with 3 body bytes < the 17-byte count list
    assert(JpegCodec.decodeRgb(
      bytes(0xff, 0xd8, 0xff, 0xc4, 0x00, 0x05, 0x00, 0x01, 0x02)).isEmpty)
    // SOF0 header shorter than precision+dims+nc
    assert(JpegCodec.decodeRgb(
      bytes(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x07, 0x08, 0x00, 0x08, 0x00, 0x08)).isEmpty)
    // SOF0 declaring 3 components but a length that only fits the header
    assert(JpegCodec.decodeRgb(
      bytes(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x08, 0x00, 0x08,
        0x03, 0x01, 0x11, 0x00)).isEmpty)
    // DRI with no interval field (len 2)
    assert(JpegCodec.decodeRgb(bytes(0xff, 0xd8, 0xff, 0xdd, 0x00, 0x02)).isEmpty)
    // SOS whose length cannot fit the component selectors + Ss/Se/AhAl
    val good = JpegCodec.encodeBlockMean(8, 8, gray(100, 8, 8))
    val sosAt = {
      var i = 2
      while (!((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda)) i += 1
      i
    }
    val shortSos = good.clone()
    shortSos(sosAt + 2) = 0x00
    shortSos(sosAt + 3) = 0x05
    assert(JpegCodec.decodeRgb(shortSos).isEmpty)
  }

  test("standalone TEM/RSTn markers between segments are skipped, not misparsed") {
    val good = JpegCodec.encodeBlockMean(8, 8, gray(100, 8, 8))
    def withAfterSoi(marker: Int): Array[Byte] =
      good.take(2) ++ Array(0xff.toByte, marker.toByte) ++ good.drop(2)
    // TEM (0x01) and a stray RST3 carry no length field; the walk must
    // step over them and still decode the image exactly
    for (m <- Seq(0x01, 0xd3)) {
      val (w, h, rgb) = JpegCodec.decodeRgb(withAfterSoi(m)).get
      assert(w == 8 && h == 8 && rgb.forall(b => (b & 0xff) == 100), s"marker $m")
    }
    // 0xFF fill byte before a marker (T.81 B.1.1.2) is padding
    val filled = good.take(2) ++ Array(0xff.toByte) ++ good.drop(2)
    val (w, h, rgb) = JpegCodec.decodeRgb(filled).get
    assert(w == 8 && h == 8 && rgb.forall(b => (b & 0xff) == 100))
  }

  test("the shared decode chain decodes real JPEGs") {
    val jpg = JpegCodec.encodeBlockMean(16, 16, gray(130, 16, 16))
    val (w, h, rgb) = Multimodal.decodeRgb(jpg).get
    assert(w == 16 && h == 16)
    assert(rgb.forall(b => (b & 0xff) == 130))
  }

  test("extractFeatures takes the real decode path for a real JPEG payload") {
    import spark.implicits._
    val jpg = JpegCodec.encodeBlockMean(8, 8, gray(60, 8, 8))
    val rows = Seq(Multimodal.MediaRow(1L, "image", jpg, 8, 8, 0, 0L))
    val f = Multimodal.extractFeatures(spark.createDataset(rows))
      .collect().head.features
    // real decode: exact channel means/min/max of the flat gray image
    assert(f(0) == 60f && f(1) == 60f && f(2) == 60f)
    assert(f(6) == 60f && f(9) == 60f)
    assert(f(15) == 1f)
  }
}
