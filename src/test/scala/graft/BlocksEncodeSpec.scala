package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.{BuildSpine, TfInput}
import graft.corpus.PagesCorpus
import graft.index.{Bm25, IndexBuilder, LongDoubleMap}
import graft.query.Bm25Query

/** The round-5 blocks-encode byte cut (idf looked up inside the encode
  * from a broadcast dictionary, shuffle ships (tf, doc_len) ints) must be
  * BIT-IDENTICAL to the encode whose tf rows carry the idf of an id-keyed
  * join — same delta/varint docId payloads, same (tf, doc_len) payloads,
  * same block_max doubles.
  */
class BlocksEncodeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("tf-driven encode == postings-driven encode, byte for byte") {
    val dirA = Files.createTempDirectory("graft-be-a").toString
    val dirB = Files.createTempDirectory("graft-be-b").toString
    val pages = IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 400, parts = 4).toDF())
    // dirA: dictionary broadcasts -> tf-driven byte-cut encode
    val idxA = IndexBuilder.build(spark, pages, dirA, blockBits = 6)
    // dirB: the stages below tf over the same tf rows (recomputed from
    // dirA's pages), broadcast ceiling forced to 0 -> id-keyed idf join,
    // the idf shipped through the shuffle with each tf row
    val tf = IndexBuilder.termFrequencies(spark.read.parquet(s"$dirA/pages"))
    val idxB = new BuildSpine(spark, dirB).run(TfInput(tf, "tf"),
      spark.read.parquet(s"$dirA/docs").select("doc_id", "url"), blockBits = 6,
      maxBroadcastTerms = 0L)

    def blocksBytes(path: String): Map[(Long, Long), (Int, Seq[Byte], Seq[Byte], Double)] =
      spark.read.parquet(s"$path/blocks").collect().map { r =>
        (r.getAs[Long]("term_id"), r.getAs[Long]("block_id")) ->
          ((r.getAs[Int]("n"), r.getAs[Array[Byte]]("docs_enc").toSeq,
            r.getAs[Array[Byte]]("impacts_enc").toSeq,
            r.getAs[Double]("block_max")))
      }.toMap
    val a = blocksBytes(dirA)
    val b = blocksBytes(dirB)
    assert(a.nonEmpty && a.size == b.size)
    assert(a == b)

    // and the served results agree exactly (docIDs AND scores)
    for (q <- Seq(PagesCorpus.vocab(2), s"${PagesCorpus.vocab(5)} ${PagesCorpus.vocab(12)}")) {
      val ha = Bm25Query.searchBlocks(idxA, q, 10).collect().map(h => (h.doc_id, h.score))
      val hb = Bm25Query.searchBlocks(idxB, q, 10).collect().map(h => (h.doc_id, h.score))
      assert(ha.toSeq == hb.toSeq)
      assert(ha.nonEmpty)
    }
  }

  test("scalar Bm25.impact == impactCol on hostile operand mixes") {
    import spark.implicits._
    val rows = Seq(
      (1, 1, 100.0, 0.0001), (3, 527, 527.58, 7.3), (2, 9999, 12.5, 13.9),
      (7, 50, 49.999999, 2.718281828459045), (1, 1, 1.0, 0.0))
    rows.foreach { case (tf, dl, avgdl, idf) =>
      val colVal = Seq((tf, dl)).toDF("tf", "doc_len")
        .select(Bm25.impactCol(col("tf").cast("double"),
          col("doc_len").cast("double"), avgdl, lit(idf)).as("i"))
        .head().getDouble(0)
      val scalarVal = Bm25.impact(tf.toDouble, dl.toDouble, avgdl, idf)
      assert(java.lang.Double.doubleToRawLongBits(colVal) ==
        java.lang.Double.doubleToRawLongBits(scalarVal),
        s"impact mismatch at tf=$tf dl=$dl avgdl=$avgdl idf=$idf")
    }
  }

  test("LongDoubleMap: exact lookups, loud miss, zero key") {
    val m = new LongDoubleMap(1000)
    val rnd = new java.util.Random(42)
    val keys = Array.fill(1000)(rnd.nextLong())
    keys.zipWithIndex.foreach { case (k, i) => m.put(k, i * 1.5) }
    m.put(0L, -7.25)
    keys.zipWithIndex.foreach { case (k, i) => assert(m(k) == i * 1.5) }
    assert(m(0L) == -7.25)
    assert(m.size == 1001)
    intercept[IllegalStateException] { m(keys.map(_ ^ 0x5a5a5a5aL).find(k => !keys.contains(k)).get) }
  }
}
