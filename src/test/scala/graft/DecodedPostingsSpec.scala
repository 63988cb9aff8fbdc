package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointedBuild
import graft.corpus.PagesCorpus
import graft.extract.Extract
import graft.index.{Bm25, BuiltIndex, IndexBuilder}

/** The blocks are the one posting store, cross-checked against tf rows
  * recomputed from the index's pages ([[IndexBuilder.termFrequencies]]):
  * `BuiltIndex.tfRows`, decoded from each posting's stored tf and doc_len
  * ("tfdl"), equals them as a multiset, and `BuiltIndex.postings`' impacts
  * equal the BM25 SQL expression over them, docs and terms bit for bit. A
  * term_id predicate on the view reaches the blocks scan.
  */
class DecodedPostingsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val raw = PagesCorpus.pages(spark, 300, parts = 4).toDF()

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-decoded-$name").toString

  private lazy val batch =
    IndexBuilder.build(spark, IndexBuilder.extractPages(raw), tmp("batch"), blockBits = 6)

  /** (term_id, doc_id, impact bits) of every posting. */
  private def bits(rows: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    rows.select("term_id", "doc_id", "impact").collect().map(r =>
      (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet

  /** (term_id, doc_id, tf, doc_len) of every row, sorted: a multiset. */
  private def tfMultiset(rows: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Long)] =
    rows.select("term_id", "doc_id", "tf", "doc_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq.sorted

  private def sqlImpacts(ix: BuiltIndex, tf: org.apache.spark.sql.DataFrame) =
    tf.select("term_id", "doc_id", "tf")
      .join(ix.docs.select("doc_id", "doc_len"), "doc_id")
      .join(ix.terms.select("term_id", "idf"), "term_id")
      .select(col("term_id"), col("doc_id"), Bm25.impactCol(col("tf").cast("double"),
        col("doc_len").cast("double"), ix.stats.avgdl, col("idf")).as("impact"))

  /** A batch and a 3-slice checkpointed index, each with tf rows
    * recomputed from its pages: a checkpointed index keeps none, so from
    * the same extracted, safety-gated rows.
    */
  private lazy val withTf = Seq(
    batch -> IndexBuilder.termFrequencies(spark.read.parquet(s"${batch.path}/pages")),
    CheckpointedBuild.build(spark, raw, tmp("ck3"), slices = 3, blockBits = 6) ->
      IndexBuilder.termFrequencies(IndexBuilder.extractPages(raw).where(Extract.safe(col("text")))))

  test("tfRows decoded from the blocks equal tf recomputed from the pages, " +
      "on a batch and a 3-slice checkpointed build") {
    withTf.foreach { case (ix, tf) =>
      val want = tfMultiset(tf)
      assert(want.nonEmpty)
      assert(tfMultiset(ix.tfRows) == want, ix.path)
    }
  }

  test("decoded f64 impacts equal Bm25.impactCol over tf, docs and terms, " +
      "on a batch and a 3-slice checkpointed build") {
    withTf.foreach { case (ix, tf) =>
      assert(spark.read.parquet(s"${ix.path}/blocks_meta").head().getAs[String]("impact_codec") ==
        "tfdl")
      val got = bits(ix.postings)
      assert(got.nonEmpty)
      assert(got == bits(sqlImpacts(ix, tf)), ix.path)
      assert(got.size.toLong == ix.stats.num_postings, ix.path)
    }
  }

  test("a term_id predicate on the decoded view is pushed into the blocks scan") {
    val ids = Seq(PagesCorpus.vocab(3), PagesCorpus.vocab(7)).map(Bm25.termId)
    val q = batch.postings.where(col("term_id").isin(ids: _*))
    val plan = q.queryExecution.executedPlan.toString
    // pushed into the blocks scan and the dictionary's idf scan, whose
    // few rows are broadcast: the blocks are not shuffled
    assert("""PushedFilters: \[[^\n]*In\(term_id, """.r.findAllIn(plan).size == 2, plan)
    assert("""(?<!Broadcast)Exchange""".r.findFirstIn(plan).isEmpty, plan)
    assert(q.collect().map(_.getLong(0)).toSet == ids.toSet)
  }
}
