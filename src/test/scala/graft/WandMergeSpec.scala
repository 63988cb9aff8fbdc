package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Bm25, PostingCodec}
import graft.query.{BlockRow, Bm25Query}

/** Unit tests of the block-merge kernel (processPartition) — the
  * doc-level WAND refinements are proven structurally here (the
  * oracle-equality suites prove end-to-end exactness):
  *
  *   - impacts decode LAZILY: a group whose intersection is empty must
  *     never touch the impact payload (evidenced with corrupt payloads
  *     that would throw on decode);
  *   - scoring positions come from the intersection pointers, and sums
  *     accumulate in ascending term_id order.
  */
class WandMergeSpec extends AnyFunSuite {

  // every posting has doc_len = avgdl; terms 1 and 3 share an idf
  private val avgdl = 100.0
  private val idfs = Map(1L -> 1.0, 2L -> 0.125, 3L -> 1.0)

  private def imp(term: Long, tf: Int): Double =
    Bm25.impact(tf.toDouble, avgdl, avgdl, idfs(term))

  /** The "tfdl" payload of postings with these tfs. */
  private def enc(tfs: Int*): Array[Byte] =
    PostingCodec.encodeTfDl(tfs.toArray, Array.fill(tfs.size)(avgdl.toInt), tfs.size)

  private def row(term: Long, block: Long, docs: Array[Long], tfs: Int*): BlockRow =
    BlockRow(term, block, docs.length, PostingCodec.encodeDocIds(docs), enc(tfs: _*),
      tfs.map(imp(term, _)).max)

  private val impacts: BlockRow => Array[Double] =
    r => PostingCodec.decodeTfDlImpacts(r.impacts_enc, r.n, idfs(r.term_id), avgdl)

  test("empty intersection: impact payloads are never decoded") {
    // docs disjoint within the block -> intersection empty. The impact
    // payloads are CORRUPT (far too short for n) — any decode attempt
    // throws, so completing without exception proves laziness.
    val t1 = BlockRow(1L, 0L, 3,
      PostingCodec.encodeDocIds(Array(0L, 2L, 4L)), Array[Byte](1), 5.0)
    val t2 = BlockRow(2L, 0L, 3,
      PostingCodec.encodeDocIds(Array(1L, 3L, 5L)), Array[Byte](2), 4.0)
    val out = Bm25Query.processPartition(
      Iterator(t1, t2), nTerms = 2, k = 10, conjunctive = true, impacts).toList
    assert(out.isEmpty)
  }

  test("conjunctive group missing a term is skipped before ANY decode") {
    // nTerms=2 but only one term present: even the docId payload (also
    // corrupt here) must not be touched
    val t1 = BlockRow(1L, 0L, 3, Array[Byte](7), Array[Byte](7), 5.0)
    val out = Bm25Query.processPartition(
      Iterator(t1), nTerms = 2, k = 10, conjunctive = true, impacts).toList
    assert(out.isEmpty)
  }

  test("overlap scores exactly from intersection pointers") {
    val t1 = row(1L, 0L, Array(0L, 2L, 4L), 1, 2, 3)
    val t2 = row(2L, 0L, Array(2L, 7L), 10, 20)
    val out = Bm25Query.processPartition(
      Iterator(t1, t2), nTerms = 2, k = 10, conjunctive = true, impacts).toList
    assert(out == List((2L, imp(1L, 2) + imp(2L, 10))))
  }

  test("multi-block runs intersect per block; union mode sums all terms") {
    val rows = Iterator(
      row(1L, 0L, Array(0L, 1L), 1, 4),
      row(2L, 0L, Array(1L, 3L), 1, 1),
      row(1L, 9L, Array(100L), 2))
    val conj = Bm25Query.processPartition(
      rows, nTerms = 2, k = 10, conjunctive = true, impacts).toList
    assert(conj == List((1L, imp(1L, 4) + imp(2L, 1)))) // block 9 lacks term 2
    val rows2 = Iterator(
      row(1L, 0L, Array(0L, 1L), 1, 4),
      row(2L, 0L, Array(1L, 3L), 1, 1))
    val union = Bm25Query.processPartition(
      rows2, nTerms = 2, k = 10, conjunctive = false, impacts).toList.sortBy(_._1)
    assert(union == List((0L, imp(1L, 1)), (1L, imp(1L, 4) + imp(2L, 1)), (3L, imp(2L, 1))))
  }

  test("union WAND: below-threshold list is never decoded (k=1)") {
    // list 1 fills the k=1 heap with its top impact; list 2's block_max
    // then bounds every remaining doc strictly below the threshold, so
    // its CORRUPT impact payload must never be decoded
    val top = imp(1L, 10)
    val rows = Iterator(
      row(1L, 0L, Array(0L, 1L), 10, 9),
      BlockRow(2L, 0L, 2, PostingCodec.encodeDocIds(Array(50L, 60L)),
        Array[Byte](3), top / 2))
    val out = Bm25Query.processPartition(
      rows, nTerms = 2, k = 1, conjunctive = false, impacts).toList
    assert(out == List((0L, top)))
  }

  test("union WAND: equal-to-threshold docs are still evaluated (ties exact)") {
    // doc 5 scores exactly the heap threshold from a list whose block_max
    // equals it — strictly-below-only skipping must evaluate it, and the
    // tie-break (smaller doc_id) must keep doc 2
    val rows = Iterator(row(1L, 0L, Array(2L), 3), row(3L, 0L, Array(5L), 3))
    val out = Bm25Query.processPartition(
      rows, nTerms = 2, k = 1, conjunctive = false, impacts).toList
    assert(out == List((2L, imp(1L, 3))))
  }
}
