package graft.index

import java.io.ByteArrayOutputStream

/** Byte codecs for posting blocks: sorted docIds as delta + unsigned
  * varint, and each posting's impact payload in one of two codecs:
  *
  *   - "tfdl" (exact): per posting an unsigned varint tf, then an
  *     unsigned varint doc_len. A reader recomputes the impact as
  *     `Bm25.impact(tf, doc_len, avgdl, idf)` from the term's idf and the
  *     index's avgdl, the very function the encode applies, so every
  *     score equals the oracle bit for bit. Both integers are small and
  *     repetitive: about 3 bytes a posting before zstd, where the exact
  *     impact double took 8 (as Lucene stores freqs and norms, not
  *     scores);
  *   - "q8" (lossy, behind a flag): 8-bit quantized impacts, see below.
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

  /** The "tfdl" payload of n postings: per posting an unsigned varint
    * tf, then an unsigned varint doc_len (both non-negative).
    */
  def encodeTfDl(tf: Array[Int], docLen: Array[Int], n: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(n * 3)
    var i = 0
    while (i < n) {
      require(tf(i) >= 0 && docLen(i) >= 0, s"negative tf or doc_len at $i")
      writeVarLong(out, tf(i))
      writeVarLong(out, docLen(i))
      i += 1
    }
    out.toByteArray
  }

  /** The (tf, doc_len) pairs of a "tfdl" payload of n postings. */
  def decodeTfDl(bytes: Array[Byte], n: Int): (Array[Int], Array[Int]) = {
    val tf = new Array[Int](n)
    val dl = new Array[Int](n)
    readTfDl(bytes, n, (i, t, d) => { tf(i) = t; dl(i) = d })
    (tf, dl)
  }

  /** The impacts of a "tfdl" payload of n postings of a term of `idf`:
    * `Bm25.impact(tf, doc_len, avgdl, idf)` per posting, the function the
    * encode applies, so bit-identical to the impacts it saw.
    */
  def decodeTfDlImpacts(bytes: Array[Byte], n: Int, idf: Double, avgdl: Double): Array[Double] = {
    val out = new Array[Double](n)
    readTfDl(bytes, n, (i, t, d) => out(i) = Bm25.impact(t.toDouble, d.toDouble, avgdl, idf))
    out
  }

  @inline private def readTfDl(bytes: Array[Byte], n: Int, f: (Int, Int, Int) => Unit): Unit = {
    var p = 0
    def next(): Int = {
      var v = 0
      var shift = 0
      var b = 0
      do {
        b = bytes(p) & 0xff; p += 1
        v |= (b & 0x7f) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    var i = 0
    while (i < n) {
      val t = next()
      f(i, t, next())
      i += 1
    }
  }

  /** The impacts of one block's payload in `codec`: "q8" dequantizes,
    * "tfdl" recomputes them from the term's idf and the index's avgdl.
    */
  def decodeImpacts(codec: String, bytes: Array[Byte], n: Int,
      idf: Double, avgdl: Double): Array[Double] =
    if (codec == "q8") decodeImpactsQ8(bytes, n) else decodeTfDlImpacts(bytes, n, idf, avgdl)

  // ---- 8-bit impact quantization (production compression path) ----
  //
  // Per-block linear quantization: a 16-byte [lo, hi] header then ONE
  // byte per posting (tfdl's varint pair takes about 3). Levels are rounded
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
