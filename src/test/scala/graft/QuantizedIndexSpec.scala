package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.PagesCorpus
import graft.index.{Bm25, IndexBuilder, PostingCodec}
import graft.query.Bm25Query

/** The 8-bit quantized-impact variant (flagged): ~8x smaller impact
  * payloads, round-up quantization keeps WAND admissible. Correctness
  * split: the ENGINE must be exact over the quantized impacts (merge /
  * pruning / tie-break verified against a hand-decoded ground truth), and
  * the quantized RANKING must stay close to the exact one.
  */
class QuantizedIndexSpec extends AnyFunSuite {
  private val n = 300L
  private lazy val spark = TestSpark.spark

  private lazy val (exact, quant) = {
    val pages = IndexBuilder.extractPages(
      PagesCorpus.pages(spark, n, parts = 4).toDF())
    val d1 = Files.createTempDirectory("graft-qx").toString
    val d2 = Files.createTempDirectory("graft-qq").toString
    (IndexBuilder.build(spark, pages, d1, blockBits = 6),
     IndexBuilder.build(spark, pages, d2, blockBits = 6,
       quantizeImpacts = true))
  }

  private val queries = Seq(
    (PagesCorpus.needleTerm(0), true),
    (PagesCorpus.vocab(0), true),
    (s"${PagesCorpus.vocab(3)} ${PagesCorpus.vocab(7)}", true),
    (s"${PagesCorpus.vocab(1)} ${PagesCorpus.vocab(40)}", false))

  /** Ground truth from the quantized blocks themselves: decode every
    * block of the query terms, sum per doc in ascending-term_id order,
    * sort by the frozen total order.
    */
  private def handScores(query: String, conjunctive: Boolean): Vector[(Long, Double)] = {
    val terms = graft.tokenize.Tokenizer.tokenize(query).distinct
    val qids = terms.map(Bm25.termId).sorted
    val rows = quant.blocks
      .where(col("term_id").isin(qids: _*))
      .select("term_id", "block_id", "n", "docs_enc", "impacts_enc")
      .collect()
    val perDoc = scala.collection.mutable.HashMap.empty[Long, (Double, Set[Long])]
    rows.sortBy(r => r.getLong(0)).foreach { r =>
      val nn = r.getInt(2)
      val ds = PostingCodec.decodeDocIds(r.getAs[Array[Byte]](3), nn)
      val is = PostingCodec.decodeImpactsQ8(r.getAs[Array[Byte]](4), nn)
      var i = 0
      while (i < nn) {
        val (s, t) = perDoc.getOrElse(ds(i), (0.0, Set.empty[Long]))
        perDoc(ds(i)) = (s + is(i), t + r.getLong(0))
        i += 1
      }
    }
    perDoc.toVector
      .filter { case (_, (_, t)) => !conjunctive || t.size == qids.size }
      .map { case (d, (s, _)) => (d, s) }
      .sortBy { case (d, s) => (-s, d) }
      .take(20)
  }

  test("engine over quantized blocks == hand-decoded ground truth (exact)") {
    for ((q, conj) <- queries) {
      val want = handScores(q, conj)
      val got = Bm25Query.searchBlocks(quant, q, 20, conj).collect()
        .map(h => (h.doc_id, h.score)).toVector
      assert(got == want, s"q='$q' conj=$conj")
    }
  }

  test("searchNaive scores the quantized impacts: it equals searchBlocks bit for bit") {
    def bits(hits: Array[graft.query.Hit]) =
      hits.map(h => (h.doc_id, java.lang.Double.doubleToLongBits(h.score), h.rank)).toVector
    for ((q, conj) <- queries) {
      val blocks = bits(Bm25Query.searchBlocks(quant, q, 20, conj).collect())
      assert(blocks.nonEmpty, s"q='$q'")
      assert(bits(Bm25Query.searchNaive(quant, q, 20, conj).collect()) == blocks,
        s"q='$q' conj=$conj")
    }
  }

  test("quantized scores dominate exact scores with bounded overshoot") {
    for ((q, conj) <- queries) {
      val e = Bm25Query.searchBlocks(exact, q, 20, conj).collect()
        .map(h => h.doc_id -> h.score).toMap
      val g = Bm25Query.searchBlocks(quant, q, 20, conj).collect()
      g.filter(h => e.contains(h.doc_id)).foreach { h =>
        val ex = e(h.doc_id)
        assert(h.score >= ex - 1e-12, s"round-up must dominate: q='$q'")
        assert(h.score - ex <= math.max(0.05, ex * 0.05),
          s"overshoot too large: q='$q' doc=${h.doc_id} ${h.score} vs $ex")
      }
    }
  }

  test("quantized top-10 recall vs exact >= 0.9 on the query set") {
    for ((q, conj) <- queries) {
      val e = Bm25Query.searchBlocks(exact, q, 10, conj).collect()
        .map(_.doc_id).toSet
      val g = Bm25Query.searchBlocks(quant, q, 10, conj).collect()
        .map(_.doc_id).toSet
      if (e.nonEmpty) {
        val recall = (e & g).size.toDouble / e.size
        assert(recall >= 0.9, s"recall $recall too low for q='$q'")
      }
    }
  }
}
