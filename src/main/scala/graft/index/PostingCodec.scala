package graft.index

import java.io.ByteArrayOutputStream

/** Byte codecs for posting blocks: sorted docIds as delta + unsigned
  * varint; impacts as fixed 8-byte little-endian doubles
  * (kept exact so distributed scores equal the oracle bit-for-bit — a
  * production deployment would quantize impacts to 8 bits, trading the
  * exactness gate for ~8x impact compression; see README).
  *
  * The reference compresses posting sets as RoaringBitmaps
  * (/root/reference/src/index/trigram.rs:63-71, persistence at
  * src/index/persistence.rs:88-94); we need (docId, impact) pairs
  * rather than presence bits, hence delta+varint — the standard inverted-
  * index encoding.
  */
object PostingCodec {

  @inline private def writeVarLong(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** docIds must be strictly increasing. */
  def encodeDocIds(sorted: Array[Long]): Array[Byte] = {
    val out = new ByteArrayOutputStream(sorted.length * 2)
    var prev = 0L
    var i = 0
    while (i < sorted.length) {
      val d = sorted(i)
      require(i == 0 || d > prev, s"docIds not strictly increasing at $i")
      writeVarLong(out, if (i == 0) d else d - prev)
      prev = d
      i += 1
    }
    out.toByteArray
  }

  def decodeDocIds(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var p = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(p) & 0xff; p += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      prev = if (i == 0) v else prev + v
      out(i) = prev
      i += 1
    }
    out
  }

  def encodeImpacts(a: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](a.length * 8)
    var i = 0
    while (i < a.length) { writeDoubleLE(out, i * 8, a(i)); i += 1 }
    out
  }

  def decodeImpacts(bytes: Array[Byte], n: Int): Array[Double] = {
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = readDoubleLE(bytes, i * 8); i += 1 }
    out
  }

  // ---- 8-bit impact quantization (production compression path) ----
  //
  // Per-block linear quantization: a 16-byte [lo, hi] header then ONE
  // byte per posting (~8x smaller than f64 impacts). Levels are rounded
  // UP, so decoded >= true impact and decoded <= hi <= block_max — the
  // WAND upper bounds stay admissible and pruning stays safe; scores are
  // slight overestimates with error <= (hi-lo)/255 per term. This trades
  // the bit-exactness gate for compression, hence behind a flag.

  @inline private def writeDoubleLE(out: Array[Byte], off: Int, v: Double): Unit = {
    var bits = java.lang.Double.doubleToLongBits(v)
    var j = 0
    while (j < 8) { out(off + j) = (bits & 0xff).toByte; bits >>>= 8; j += 1 }
  }

  @inline private def readDoubleLE(bytes: Array[Byte], off: Int): Double = {
    var bits = 0L
    var j = 7
    while (j >= 0) { bits = (bits << 8) | (bytes(off + j) & 0xffL); j -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** Quantize one block's impacts to 8-bit levels (round-up). */
  def encodeImpactsQ8(a: Array[Double]): Array[Byte] = {
    val n = a.length
    var lo = Double.MaxValue
    var hi = -Double.MaxValue
    var i = 0
    while (i < n) {
      if (a(i) < lo) lo = a(i)
      if (a(i) > hi) hi = a(i)
      i += 1
    }
    if (n == 0) { lo = 0.0; hi = 0.0 }
    val out = new Array[Byte](16 + n)
    writeDoubleLE(out, 0, lo)
    writeDoubleLE(out, 8, hi)
    val step = (hi - lo) / 255.0
    i = 0
    while (i < n) {
      val lvl =
        if (step == 0.0) 0
        else math.min(255, math.ceil((a(i) - lo) / step).toInt)
      out(16 + i) = lvl.toByte
      i += 1
    }
    out
  }

  /** Decode Q8 impacts: value = lo + level * step (>= the true impact). */
  def decodeImpactsQ8(bytes: Array[Byte], n: Int): Array[Double] = {
    val lo = readDoubleLE(bytes, 0)
    val hi = readDoubleLE(bytes, 8)
    val step = (hi - lo) / 255.0
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val lvl = bytes(16 + i) & 0xff
      // level 255 decodes to hi EXACTLY so no decoded value can exceed
      // the stored block_max even by a rounding ulp
      out(i) = if (lvl == 255) hi else lo + lvl * step
      i += 1
    }
    out
  }
}
