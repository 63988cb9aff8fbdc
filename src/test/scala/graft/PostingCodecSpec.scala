package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.index.{Bm25, PostingCodec}

class PostingCodecSpec extends AnyFunSuite {

  test("docId delta+varint round-trip") {
    val cases = Seq(
      Array(0L),
      Array(5L),
      Array(0L, 1L, 2L, 3L),
      Array(1L, 128L, 16384L, 1L << 40, (1L << 62) + 7),
      Array.tabulate(1000)(i => i * 37L + (i % 5)))
    cases.foreach { ids =>
      val enc = PostingCodec.encodeDocIds(ids)
      assert(PostingCodec.decodeDocIds(enc, ids.length).sameElements(ids))
    }
  }

  test("property: random sorted id sets round-trip") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 1L << 50))
      .map(_.distinct.sorted.toArray)
    (1 to 50).foreach { _ =>
      val ids = gen.sample.get
      val enc = PostingCodec.encodeDocIds(ids)
      assert(PostingCodec.decodeDocIds(enc, ids.length).sameElements(ids))
    }
  }

  private val rnd = new scala.util.Random(11)

  /** (tf, doc_len) arrays: tf = 1, one- to five-byte varints, random. */
  private val tfdl = Seq(
    (Array(1), Array(1)),
    (Array(1, 1, 2), Array(127, 128, 16384)),
    (Array(1, 300, 7), Array(Int.MaxValue, 1 << 21, 529)),
    (Array.fill(1000)(1 + rnd.nextInt(40)), Array.fill(1000)(1 + rnd.nextInt(100000))))

  test("tfdl round trip: varint pairs, payload length is the summed varint lengths") {
    def varLen(v: Int): Int = { var n = 1; var x = v >>> 7; while (x != 0) { n += 1; x >>>= 7 }; n }
    for ((tf, dl) <- tfdl) {
      val enc = PostingCodec.encodeTfDl(tf, dl, tf.length)
      assert(enc.length == tf.map(varLen).sum + dl.map(varLen).sum)
      val (tf2, dl2) = PostingCodec.decodeTfDl(enc, tf.length)
      assert(tf2.sameElements(tf) && dl2.sameElements(dl))
    }
    // only the first n postings are encoded
    assert(PostingCodec.encodeTfDl(Array(3, 9), Array(5, 9), 1).toSeq == Seq[Byte](3, 5))
    intercept[IllegalArgumentException](PostingCodec.encodeTfDl(Array(-1), Array(5), 1))
  }

  test("impacts double round-trip is bit-exact") {
    // the impacts a tfdl payload decodes to are the doubles the encoder
    // computes for block_max: Bm25.impact of the same tf and doc_len
    for ((tf, dl) <- tfdl; (idf, avgdl) <- Seq((0.0001, 529.3), (7.3, 1.0), (math.log(2.2), 12345.678))) {
      val n = tf.length
      val enc = PostingCodec.encodeTfDl(tf, dl, n)
      val got = PostingCodec.decodeTfDlImpacts(enc, n, idf, avgdl)
      val want = (0 until n).map(i => Bm25.impact(tf(i).toDouble, dl(i).toDouble, avgdl, idf))
      assert(got.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        want.map(java.lang.Double.doubleToRawLongBits))
    }
  }

  test("unsorted docIds rejected") {
    intercept[IllegalArgumentException] {
      PostingCodec.encodeDocIds(Array(5L, 3L))
    }
    intercept[IllegalArgumentException] {
      PostingCodec.encodeDocIds(Array(5L, 5L))
    }
  }
}
