package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels invoked from both interpreted eval and generated Java code.
  * Keeping the loop in one static method means whole-stage codegen emits a
  * single call (no per-element Catalyst expression overhead) and the
  * interpreted path cannot drift from the codegen path.
  */
object HashKernels {

  /** FNV-1a 64-bit over UTF-8 bytes — the document fingerprint. */
  def fnv1a(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = -3750763034362895579L // 14695981039346656037 as signed
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 1099511628211L
      i += 1
    }
    h
  }

  /** Tokens present in a small constant word set, every occurrence
    * counted, nulls skipped — linear scan beats a hash set at set sizes
    * of ~10 function words. */
  def tokenSetCount(tokens: ArrayData, set: Array[UTF8String]): Int = {
    val n = tokens.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        var j = 0
        while (j < set.length) {
          if (set(j).equals(t)) { c += 1; j = set.length }
          else j += 1
        }
      }
      i += 1
    }
    c
  }

  /** 64-bit SimHash over an array of string tokens: per-token FNV-1a,
    * per-bit majority vote. Near-duplicate texts land within a small
    * Hamming distance. */
  def simhash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv1a(tokens.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Cosine similarity of two float vectors, accumulated in double in
    * index order — bit-reproducible across engines (mirrors the DuckDB
    * oracle's `list_inner_product(CAST(.. AS DOUBLE[]))` composition).
    * Zero-norm vectors yield 0.0. */
  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private[graft] def splitmix64(x0: Long): Long = {
    var x = x0 + -7046029254386353131L // golden gamma
    x = (x ^ (x >>> 30)) * -4658895280553007687L
    x = (x ^ (x >>> 27)) * -7723592293110705685L
    x ^ (x >>> 31)
  }

  /** MinHash signature in one fused pass: per shingle x = 31-bit FNV-1a,
    * per hash i: (a_i·x + b_i) mod p, p = 2^31−1; signature[i] = min.
    * Constants from splitmix64(i) — deterministic on any cluster. Bounds
    * (x < 2^31, a < 2^30) keep every product within a long. */
  def minhashSig(shingles: ArrayData, numHashes: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val p = 2147483647L
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      a(i) = (splitmix64(i.toLong) >>> 35) | 1L // odd, < 2^29
      b(i) = splitmix64(i.toLong + 7919L) >>> 33 // < 2^31
      i += 1
    }
    val sig = Array.fill[Long](numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var s = 0
    while (s < n) {
      if (!shingles.isNullAt(s)) {
        val x = fnv1a(shingles.getUTF8String(s)) & 0x7fffffffL
        var j = 0
        while (j < numHashes) {
          val h = (a(j) * x + b(j)) % p
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** MinHash signature straight from tokens: shingle hashes are a
    * polynomial combine of per-token FNV-1a over a sliding k-window — no
    * shingle strings are ever materialized. One pass for token hashes +
    * (n−k+1)·k combines + (n−k+1)·numHashes min-updates per row.
    * Shorter-than-k docs hash all tokens as one shingle (mirrors
    * Dedup.shingles). MinHash is duplicate-insensitive, so no dedup
    * needed. */
  def minhashTokens(tokens: ArrayData, k: Int, numHashes: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val p = 2147483647L
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      a(i) = (splitmix64(i.toLong) >>> 35) | 1L
      b(i) = splitmix64(i.toLong + 7919L) >>> 33
      i += 1
    }
    val sig = Array.fill[Long](numHashes)(Long.MaxValue)
    val n = tokens.numElements()
    val th = new Array[Long](n)
    i = 0
    while (i < n) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv1a(tokens.getUTF8String(i))
      i += 1
    }
    val kk = math.min(k, math.max(n, 1))
    var s = 0
    val last = n - kk
    while (s <= last) {
      var h = -3750763034362895579L
      var j = 0
      while (j < kk) {
        h = (h ^ th(s + j)) * 1099511628211L
        j += 1
      }
      val x = h & 0x7fffffffL
      var m = 0
      while (m < numHashes) {
        val hv = (a(m) * x + b(m)) % p
        if (hv < sig(m)) sig(m) = hv
        m += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Sorted distinct k-shingle hashes of a token array — the compact
    * (8 bytes/shingle) representation for exact-set verification. Same
    * windowed polynomial hash as [[minhashTokens]]. */
  def shingleHashes(tokens: ArrayData, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv1a(tokens.getUTF8String(i))
      i += 1
    }
    val kk = math.min(k, math.max(n, 1))
    val last = n - kk
    val hs = new Array[Long](math.max(last + 1, 0))
    var s = 0
    while (s <= last) {
      var h = -3750763034362895579L
      var j = 0
      while (j < kk) {
        h = (h ^ th(s + j)) * 1099511628211L
        j += 1
      }
      hs(s) = h
      s += 1
    }
    java.util.Arrays.sort(hs)
    // distinct in place
    var w = 0
    var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  /** Exact Jaccard of two SORTED distinct long arrays via linear merge
    * (set semantics modulo 64-bit hash collisions). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Exact intersection COUNT of two sorted distinct long arrays — the
    * linear merge of [[jaccardSorted]] returning the raw count, so
    * asymmetric measures (containment I/|A|) compose from it. */
  def intersectSorted(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** Fraction of equal components between two MinHash signatures — an
    * unbiased estimate of Jaccard similarity; used to prefilter LSH
    * candidate pairs before the exact (array-materializing) verify. */
  def sigOverlap(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }

  /** Sign-LSH bucket of a float vector: bit p = sign of dot(vec, h_p)
    * where hyperplane component h_p[d] = ±1 from splitmix64(p·1024+d)
    * parity. Deterministic, model-free, one fused pass per row. */
  def signLsh(vec: ArrayData, planes: Int): Long = {
    val n = vec.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        val sign = if ((splitmix64(p.toLong * 1024L + d) & 1L) == 0L) 1.0 else -1.0
        dot += vec.getFloat(d).toDouble * sign
        d += 1
      }
      if (dot > 0.0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Per-vector symmetric int8 quantization scale: max |e| / 127 over an
    * array<float>. max is order-invariant, the one divide is IEEE-exact
    * → identical in every engine. */
  def quantScale(vec: ArrayData): Double = {
    val n = vec.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(vec.getFloat(i).toDouble)
      if (a > m) m = a
      i += 1
    }
    m / 127.0
  }

  /** Cosine over two int8-code arrays (array<int>): integer dot and
    * norms accumulate EXACTLY in long (≤ 127²·dim per sum — nowhere near
    * overflow), then one IEEE divide over a product of IEEE sqrts. A
    * double-summing engine gets the identical value because every partial
    * sum of integer terms below 2^53 is exact regardless of order — which
    * is what makes int8-space search oracle-checkable bit-for-bit when
    * float-space dot products would drift. Zero norms → 0.0 (matches
    * [[cosineFF]]). */
  def cosineQQ(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getInt(i).toLong
      val y = b.getInt(i).toLong
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** PQ asymmetric-distance scoring: approximate cosine between a RAW
    * query vector and a corpus vector known only by its product-
    * quantization codes. The corpus vector is never reconstructed as a
    * row — the kernel walks the code array, accumulating the query·
    * centroid dot and the reconstruction norm straight from the (m·k·sub)
    * flat codebook. Per pair this is the same flop count as a full
    * cosine, but the corpus side READS only m bytes of codes instead of
    * 4·dim bytes of floats — at 100 TB the scan I/O, not the flops, is
    * the bill. `cents` layout: [(s·k + code)·sub + j]. */
  def pqScore(codes: ArrayData, qv: ArrayData, cents: Array[Float], k: Int, sub: Int): Double = {
    val m = codes.numElements()
    var dot = 0.0
    var rn = 0.0
    var qn = 0.0
    val d = qv.numElements()
    var i = 0
    while (i < d) {
      val x = qv.getFloat(i).toDouble
      qn += x * x
      i += 1
    }
    var s = 0
    while (s < m) {
      val base = (s * k + codes.getInt(s)) * sub
      var j = 0
      while (j < sub) {
        val cv = cents(base + j).toDouble
        dot += qv.getFloat(s * sub + j).toDouble * cv
        rn += cv * cv
        j += 1
      }
      s += 1
    }
    if (rn == 0.0 || qn == 0.0) 0.0
    else dot / (math.sqrt(rn) * math.sqrt(qn))
  }

  /** Per-subspace PQ reconstruction SSE in ONE compiled pass: encode each
    * subspace (cosine argmax over the k centroids, FIRST max wins — the
    * exact `array_position(scores, array_max(scores))` chain nearestCell
    * composes, with [[cosineFF]]'s 0.0 zero-norm guard), then fold the
    * squared error (x−y)·(x−y) in index order from 0.0 — the exact
    * zip_with/aggregate chain the q155 oracle replays. Exists because the
    * composed-expression form re-inlined the whole 16-subspace encode
    * tree into every subspace reference after projection collapse
    * (≈8,000 kernel calls per row, 25 s at 2,000 rows); this is 16·16·4
    * fused flops per row. `cents` layout: [(s·k + code)·sub + j]. */
  def pqSse(vec: ArrayData, cents: Array[Float], m: Int, k: Int, sub: Int): ArrayData = {
    val out = new Array[Double](m)
    var s = 0
    while (s < m) {
      val off = s * sub
      var best = Double.NegativeInfinity
      var bi = 0
      var c = 0
      while (c < k) {
        val base = (s * k + c) * sub
        var dot = 0.0
        var na = 0.0
        var nb = 0.0
        var j = 0
        while (j < sub) {
          val x = vec.getFloat(off + j).toDouble
          val y = cents(base + j).toDouble
          dot += x * y
          na += x * x
          nb += y * y
          j += 1
        }
        val score =
          if (na == 0.0 || nb == 0.0) 0.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        if (score > best) { best = score; bi = c }
        c += 1
      }
      val base = (s * k + bi) * sub
      var acc = 0.0
      var j = 0
      while (j < sub) {
        val d = vec.getFloat(off + j).toDouble - cents(base + j).toDouble
        acc += d * d
        j += 1
      }
      out(s) = acc
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Morton (z-order) interleave of the low `bitsPer` bits of two
    * bucketed coordinates: bit i of `a` lands at position 2i, of `b` at
    * 2i+1. Sorting by the result gives multi-dimensional locality — rows
    * close in (a, b) land close in the sort order — so a parquet write
    * sorted by z-key gets row-group min/max stats that prune BOTH
    * dimensions' predicates, where a lexicographic (a, b) sort prunes
    * only the leading one. The data-layout tool for 100 TB scans. */
  def zorder2(a: Long, b: Long, bitsPer: Int): Long = {
    var out = 0L
    var i = 0
    while (i < bitsPer) {
      out |= ((a >>> i) & 1L) << (2 * i)
      out |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  /** Quantize: floor(e/scale + 0.5) per element — floor(x+0.5), not
    * round(), because e/scale CAN land exactly on .5 and half-way rules
    * differ across engines while floor never does. scale == 0 (zero
    * vector) → all-zero codes. */
  def quantInt8(vec: ArrayData, scale: Double): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = vec.numElements()
    val out = new Array[Int](n)
    if (scale != 0.0) {
      var i = 0
      while (i < n) {
        out(i) = math.floor(vec.getFloat(i).toDouble / scale + 0.5).toInt
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Container-header parsers for multimodal binary columns. Headers are
  * pure byte arithmetic — no codec library — so format sniffing and
  * dimension extraction are REAL operators: magic-byte dispatch, then
  * the format's own header layout (PNG IHDR big-endian dims, JPEG
  * marker-segment walk to SOF, GIF/BMP little-endian dims, RIFF chunk
  * walk to `fmt ` for WAV sample rate, MP4 box-tree walk to the video
  * trak's `tkhd` dims via [[graft.operators.Mp4Codec]]). One static
  * call per row from whole-stage codegen; each parse touches only the
  * header bytes of the payload.
  */
object MediaKernels {

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def ascii(b: Array[Byte], i: Int, s: String): Boolean = {
    if (i + s.length > b.length) return false
    var j = 0
    while (j < s.length) {
      if (b(i + j) != s.charAt(j).toByte) return false
      j += 1
    }
    true
  }

  private val row = (fmt: String, w: Any, h: Any, sr: Any) =>
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(fmt), w, h, sr))

  /** Sniff + parse: (format, width, height, sample_rate) with nulls for
    * fields the format doesn't carry or a truncated header omits. */
  def parse(b: Array[Byte]): Any = {
    val n = b.length
    // PNG: 8-byte signature, IHDR chunk fixed at offset 8 per spec
    if (n >= 8 && (b(0) & 0xff) == 0x89 && ascii(b, 1, "PNG")) {
      if (n >= 24 && ascii(b, 12, "IHDR"))
        return row("png", be32(b, 16), be32(b, 20), null)
      return row("png", null, null, null)
    }
    // JPEG: FF D8, then marker segments; dims live in the first SOF
    if (n >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 3 < n) {
        if ((b(i) & 0xff) != 0xff) return row("jpeg", null, null, null)
        var m = b(i + 1) & 0xff
        while (m == 0xff && i + 4 < n) { i += 1; m = b(i + 1) & 0xff } // fill bytes
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (i + 8 < n) return row("jpeg", be16(b, i + 7), be16(b, i + 5), null)
          return row("jpeg", null, null, null)
        }
        if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
        else i += 2 + be16(b, i + 2)
      }
      return row("jpeg", null, null, null)
    }
    // GIF87a / GIF89a: logical screen size, little-endian u16
    if (ascii(b, 0, "GIF8") && n >= 10 &&
      (b(4) == '7'.toByte || b(4) == '9'.toByte) && b(5) == 'a'.toByte)
      return row("gif", le16(b, 6), le16(b, 8), null)
    // BMP: BITMAPINFOHEADER dims at 18/22 (height may be negative = top-down)
    if (ascii(b, 0, "BM")) {
      if (n >= 26) return row("bmp", le32(b, 18), math.abs(le32(b, 22)), null)
      return row("bmp", null, null, null)
    }
    // RIFF/WAVE: walk chunks to `fmt `, sample rate at chunk offset +4
    if (ascii(b, 0, "RIFF") && ascii(b, 8, "WAVE")) {
      var i = 12
      while (i + 8 <= n) {
        val size = le32(b, i + 4)
        if (ascii(b, i, "fmt ") && i + 16 <= n)
          return row("wav", null, null, le32(b, i + 12))
        // the chunk size is attacker-controlled: a negative le32 would
        // stall (advance by 0) or drive i negative — degrade to null,
        // never throw or spin, per the media_meta garbage contract
        val next = i.toLong + 8L + size.toLong + (size & 1) // word-aligned
        if (next <= i || next > n) return row("wav", null, null, null)
        i = next.toInt
      }
      return row("wav", null, null, null)
    }
    // MP4 family: box size + `ftyp`; dimensions from the first video
    // trak's tkhd via the REAL box-tree parser (sharing Mp4Codec keeps
    // this expression and the decode path structurally incapable of
    // disagreeing — the same guarantee the image formats get from the
    // shared decodeRgb chain). Containers without a well-formed video
    // track (audio-only m4a, truncated boxes) keep null dims.
    if (n >= 12 && ascii(b, 4, "ftyp"))
      return graft.operators.Mp4Codec.parse(b) match {
        case Some(p) if p.width > 0 && p.height > 0 =>
          row("mp4", p.width, p.height, null)
        case _ => row("mp4", null, null, null)
      }
    row("unknown", null, null, null)
  }
}

/** MinHash signature straight from an array<string> token column. */
case class MinHashFromTokens(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_from_tokens"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashTokens(input.asInstanceOf[ArrayData], k, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashTokens($c, $k, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashFromTokens =
    copy(child = newChild)
}

/** Sorted distinct shingle hashes of an array<string> token column. */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingleHashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Exact Jaccard of two sorted array<long> columns → double. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.jaccardSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** Exact intersection count of two sorted array<long> columns → int. */
case class IntersectSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_sorted"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.intersectSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.intersectSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectSorted =
    copy(left = l, right = r)
}

/** Signature-overlap Jaccard estimate of two array<long> columns → double. */
case class SigOverlap(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_overlap"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.sigOverlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.sigOverlap($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigOverlap =
    copy(left = l, right = r)
}

/** MinHash signature of an array<string> shingle column → array<long>. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashSig(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashSig($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Sign-LSH bucket id of an array<float> column → long. */
case class SignLshBucket(child: Expression, planes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh_bucket"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.signLsh(input.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.signLsh($c, $planes)")
  override protected def withNewChildInternal(newChild: Expression): SignLshBucket =
    copy(child = newChild)
}

/** FNV-1a rolling fingerprint of a string column → long. */
case class RollingFingerprint(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.fnv1a(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.fnv1a($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}

/** 64-bit SimHash of an array<string> token column → long. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Count of tokens (array<string>) that belong to a small constant word
  * set — the codegen'd replacement for `size(filter(t, _.isin(words)))`:
  * Spark's higher-order `filter` is a CodegenFallback, so the lambda
  * interprets per token per language and dominated the language-ID and
  * quality-score profiles. One static JVM loop instead; identical
  * semantics (every occurrence counts, null tokens don't). */
case class TokenSetCount(child: Expression, words: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_set_count"
  @transient private lazy val set: Array[UTF8String] =
    words.map(UTF8String.fromString).toArray
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.tokenSetCount(input.asInstanceOf[ArrayData], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenSet", set,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.tokenSetCount($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): TokenSetCount =
    copy(child = newChild)
}

/** Cosine similarity of two array<float> columns → double. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.cosineFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.cosineFF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** int8 quantization scale of an array<float> vector → double. */
case class QuantScale(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quant_scale"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.quantScale(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.quantScale($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantScale =
    copy(child = newChild)
}

/** int8 codes of an array<float> vector at a given scale → array<int>. */
case class QuantInt8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "quant_int8"
  override protected def nullSafeEval(vec: Any, scale: Any): Any =
    HashKernels.quantInt8(vec.asInstanceOf[ArrayData], scale.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) => s"graft.functions.HashKernels.quantInt8($v, $s)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantInt8 =
    copy(left = l, right = r)
}

/** Cosine between two array<int> int8-code vectors → double. */
case class CosineInt8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_int8"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.cosineQQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.cosineQQ($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineInt8 =
    copy(left = l, right = r)
}

/** PQ asymmetric cosine: (array<int> codes, array<float> query) → double,
  * with the flat codebook baked in as a reference object. */
case class PqScore(left: Expression, right: Expression,
    cents: Array[Float], k: Int, sub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_score"
  override protected def nullSafeEval(codes: Any, qv: Any): Any =
    HashKernels.pqScore(codes.asInstanceOf[ArrayData], qv.asInstanceOf[ArrayData], cents, k, sub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCents", cents, "float[]")
    defineCodeGen(ctx, ev, (c, q) => s"graft.functions.HashKernels.pqScore($c, $q, $ref, $k, $sub)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqScore =
    copy(left = l, right = r)
}

/** Per-subspace PQ reconstruction SSE of an array<float> vector against a
  * baked-in flat codebook → array<double> (m entries). See
  * [[HashKernels.pqSse]] for the pinned op chain. */
case class PqSse(child: Expression, cents: Array[Float], m: Int, k: Int, sub: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_sse"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.pqSse(input.asInstanceOf[ArrayData], cents, m, k, sub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCents", cents, "float[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.pqSse($c, $ref, $m, $k, $sub)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqSse =
    copy(child = newChild)
}

/** Z-order (Morton) key of two bucketed long coordinates → long. */
case class ZOrderKey(left: Expression, right: Expression, bitsPer: Int)
    extends BinaryExpression {
  require(bitsPer >= 1 && bitsPer <= 31, "bitsPer must be in [1, 31]")
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_key"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.zorder2(a.asInstanceOf[Long], b.asInstanceOf[Long], bitsPer)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashKernels.zorder2($a, $b, $bitsPer)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrderKey =
    copy(left = l, right = r)
}

/** Parse a binary media payload's container header →
  * struct<format:string, width:int, height:int, sample_rate:int>. */
case class MediaMeta(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true)))
  override def prettyName: String = "media_meta"
  override protected def nullSafeEval(input: Any): Any =
    MediaKernels.parse(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"(InternalRow) graft.functions.MediaKernels.parse($c)")
  override protected def withNewChildInternal(newChild: Expression): MediaMeta =
    copy(child = newChild)
}

/** Column-level API for the custom expressions. */
object GraftFunctions {
  def bloom_build(hash: Column, numBits: Int, numHashes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      BloomBuild(org.apache.spark.sql.graft.Bridge.expression(hash),
        numBits, numHashes).toAggregateExpression())
  def bloom_might_contain(hash: Column, words: Array[Long], numBits: Int, numHashes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      BloomMightContain(org.apache.spark.sql.graft.Bridge.expression(hash),
        words, numBits, numHashes))
  def media_meta(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MediaMeta(org.apache.spark.sql.graft.Bridge.expression(c)))
  def zorder_key(a: Column, b: Column, bitsPer: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ZOrderKey(org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b), bitsPer))
  def heavy_hitters(item: Column, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MisraGries(org.apache.spark.sql.graft.Bridge.expression(item), k)
        .toAggregateExpression())
  def pq_score(codes: Column, qv: Column, cents: Array[Float], k: Int, sub: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqScore(org.apache.spark.sql.graft.Bridge.expression(codes),
        org.apache.spark.sql.graft.Bridge.expression(qv), cents, k, sub))
  def pq_sse(vec: Column, cents: Array[Float], m: Int, k: Int, sub: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqSse(org.apache.spark.sql.graft.Bridge.expression(vec), cents, m, k, sub))
  def cosine_int8(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      CosineInt8(org.apache.spark.sql.graft.Bridge.expression(a), org.apache.spark.sql.graft.Bridge.expression(b)))
  def quant_scale(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(QuantScale(org.apache.spark.sql.graft.Bridge.expression(c)))
  def quant_int8(vec: Column, scale: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      QuantInt8(org.apache.spark.sql.graft.Bridge.expression(vec), org.apache.spark.sql.graft.Bridge.expression(scale)))
  def rolling_fingerprint(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(RollingFingerprint(org.apache.spark.sql.graft.Bridge.expression(c)))
  def simhash64(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(SimHash64(org.apache.spark.sql.graft.Bridge.expression(c)))
  def token_set_count(c: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      TokenSetCount(org.apache.spark.sql.graft.Bridge.expression(c), words))
  def cosine_similarity(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      CosineSimilarity(org.apache.spark.sql.graft.Bridge.expression(a), org.apache.spark.sql.graft.Bridge.expression(b)))
  def sign_lsh_bucket(c: Column, planes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SignLshBucket(org.apache.spark.sql.graft.Bridge.expression(c), planes))
  def minhash_signature(c: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MinHashSignature(org.apache.spark.sql.graft.Bridge.expression(c), numHashes))
  def minhash_from_tokens(c: Column, k: Int, numHashes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MinHashFromTokens(org.apache.spark.sql.graft.Bridge.expression(c), k, numHashes))
  def shingle_hashes(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ShingleHashes(org.apache.spark.sql.graft.Bridge.expression(c), k))
  def jaccard_sorted(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      JaccardSorted(org.apache.spark.sql.graft.Bridge.expression(a), org.apache.spark.sql.graft.Bridge.expression(b)))
  def intersect_sorted(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      IntersectSorted(org.apache.spark.sql.graft.Bridge.expression(a), org.apache.spark.sql.graft.Bridge.expression(b)))
  def sig_overlap(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SigOverlap(org.apache.spark.sql.graft.Bridge.expression(a), org.apache.spark.sql.graft.Bridge.expression(b)))
  def top_k_by_score(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      TopKByScore(
        org.apache.spark.sql.graft.Bridge.expression(score),
        org.apache.spark.sql.graft.Bridge.expression(id), k).toAggregateExpression())
  def count_min_build(buckets: Column, depth: Int, width: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      CountMinBuild(
        org.apache.spark.sql.graft.Bridge.expression(buckets),
        depth, width).toAggregateExpression())
}
