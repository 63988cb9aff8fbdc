package graft.index

import java.io.ByteArrayOutputStream

/** Byte codecs for posting blocks: sorted docIds as delta + unsigned
  * varint, and each posting's impact payload as "tfdl": per posting an
  * unsigned varint tf, then an unsigned varint doc_len. A reader
  * recomputes the impact as `Bm25.impact(tf, doc_len, avgdl, idf)` from
  * the term's idf and the index's avgdl, the very function the encode
  * applies, so every score equals the oracle bit for bit. Both integers
  * are small and repetitive: about 3 bytes a posting before zstd, where
  * the exact impact double took 8 (as Lucene stores freqs and norms, not
  * scores). It is the one codec an index has.
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
}
