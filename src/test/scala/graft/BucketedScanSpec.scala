package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.corpus.PagesCorpus
import graft.index.IndexBuilder
import graft.query.{Bm25Query, Hit}

/** Serving reads each blocks bucket's files itself, one task per bucket,
  * and plans no scan of the blocks, so Spark's automatic bucketed-scan
  * choice, which may pack a bucketed scan's files by size, has nothing to
  * act on: with it on, cold queries return the declarative path's hits,
  * and the caller's setting is left as it was.
  */
class BucketedScanSpec extends AnyFunSuite {

  private def bits(hits: Seq[Hit]): Seq[(Long, String, Long, Int)] =
    hits.map(h => (h.doc_id, h.url, java.lang.Double.doubleToLongBits(h.score), h.rank))

  test("cold queries with autoBucketedScan on equal searchNaive") {
    // a session of its own: the setting stays out of the other suites
    val spark = TestSpark.spark.newSession()
    val key = SQLConf.AUTO_BUCKETED_SCAN_ENABLED.key
    val dir = Files.createTempDirectory("graft-autobucketed").toString
    IndexBuilder.build(spark, IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 400, parts = 4).toDF()), dir, blockBits = 5, numBuckets = 5)
    val cold = IndexBuilder.load(spark, dir).cacheDictionary()
    val w = (i: Int) => PagesCorpus.vocab(i)
    val q = s"${w(2)} ${w(7)}"
    val inc = Seq("https://site-00*.example/**")
    val allowed = cold.docs.where(col("doc_id") % 3 =!= 0).select("doc_id")
    val filteredWant = {
      val top = Bm25Query.scoredNaive(cold, q, conjunctive = true).get
        .join(allowed, Seq("doc_id"), "left_semi")
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val urls = cold.docs.where(col("doc_id").isin(top.map(_._1).toIndexedSeq: _*))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("url")).toMap
      top.zipWithIndex.map { case ((d, s), i) => Hit(d, urls(d), s, i + 1) }.toSeq
    }
    val cases = Seq[(String, () => Seq[Hit], Seq[Hit])](
      ("plain", () => Bm25Query.searchBlocks(cold, q, 10).collect().toSeq,
        Bm25Query.searchNaive(cold, q, 10).collect().toSeq),
      ("glob", () => Bm25Query.searchBlocks(cold, q, 10, include = inc).collect().toSeq,
        Bm25Query.searchNaive(cold, q, 10, include = inc).collect().toSeq),
      ("doc set", () => Bm25Query.searchBlocksFiltered(cold, q, 10, conjunctive = true,
        allowed).collect().toSeq, filteredWant))
    assert(cases.forall(_._3.nonEmpty))
    spark.conf.set(key, "true")
    try cases.foreach { case (name, run, want) => assert(bits(run()) == bits(want), name) }
    finally spark.conf.set(key, "false")
  }

  test("opening and querying an index hot and cold leaves the caller's autoBucketedScan") {
    val spark = TestSpark.spark.newSession()
    val key = SQLConf.AUTO_BUCKETED_SCAN_ENABLED.key
    val dir = Files.createTempDirectory("graft-autobucketed-kept").toString
    IndexBuilder.build(spark, IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 200, parts = 2).toDF()), dir, blockBits = 5, numBuckets = 4)
    val q = s"${PagesCorpus.vocab(2)} ${PagesCorpus.vocab(7)}"
    Seq("true", "false").foreach { v =>
      spark.conf.set(key, v)
      val cold = IndexBuilder.load(spark, dir)
      val want = bits(Bm25Query.searchNaive(cold, q, 10).collect().toSeq)
      assert(want.nonEmpty)
      assert(bits(Bm25Query.searchBlocks(cold, q, 10).collect().toSeq) == want, v)
      val hot = IndexBuilder.load(spark, dir).cacheHot()
      assert(bits(Bm25Query.searchBlocks(hot, q, 10).collect().toSeq) == want, v)
      assert(spark.conf.get(key) == v)
    }
  }
}
