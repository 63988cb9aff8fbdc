package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.index.PostingCodec

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

  test("impacts double round-trip is bit-exact") {
    val xs = Array(0.0, -0.0, 1.5, math.Pi, Double.MinPositiveValue,
      1.7976931348623157e308, math.log(2.2))
    val dec = PostingCodec.decodeImpacts(PostingCodec.encodeImpacts(xs), xs.length)
    xs.zip(dec).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) ==
        java.lang.Double.doubleToLongBits(b))
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

  test("q8 impacts: ~1 byte/posting, decoded >= true, bounded error, admissible") {
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(1000)(0.5 + rnd.nextDouble() * 7.5)
    val enc = PostingCodec.encodeImpactsQ8(xs)
    assert(enc.length == 16 + xs.length) // vs 8 bytes/posting for f64
    val dec = PostingCodec.decodeImpactsQ8(enc, xs.length)
    val hi = xs.max
    val step = (hi - xs.min) / 255.0
    xs.zip(dec).foreach { case (a, b) =>
      assert(b >= a, "round-up quantization: decoded must dominate true")
      assert(b - a <= step + 1e-12, "error bounded by one level")
      assert(b <= hi, "no decoded impact may exceed the block max")
    }
    // extremes land exactly
    assert(dec(xs.indexOf(hi)) == hi)
    assert(dec(xs.indexOf(xs.min)) == xs.min)
    // constant block degenerates cleanly
    val c = Array(2.5, 2.5, 2.5)
    val dc = PostingCodec.decodeImpactsQ8(PostingCodec.encodeImpactsQ8(c), 3)
    assert(dc.toSeq == Seq(2.5, 2.5, 2.5))
  }
}
