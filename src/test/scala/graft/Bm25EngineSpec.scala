package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.{BuildSpine, TfInput}
import graft.corpus.PagesCorpus
import graft.extract.Extract
import graft.index.IndexBuilder
import graft.oracle.Bm25Oracle
import graft.query.{BatchQuery, Bm25Query}

/** Rank-identity + exact-score gate: distributed engine (both physical
  * paths) vs the single-node oracle on the fixed query workload
  * (FIXTURES.md §3, mirroring the reference validator's query-coverage
  * checks at /root/reference/src/bin/validator/validator.rs:464-692).
  */
class Bm25EngineSpec extends AnyFunSuite {

  private val n = 400L
  private lazy val spark = TestSpark.spark

  private lazy val (index, oracle) = {
    val dir = Files.createTempDirectory("graft-index").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4)
    // full front end: html -> text (extraction), then build
    val extracted = IndexBuilder.extractPages(raw.toDF())
    val idx = IndexBuilder.build(spark, extracted, dir, blockBits = 6)
    // oracle corpus = safety-passed docs with the SAME extracted text
    val docs = raw.collect().toSeq
      .flatMap(p => Extract.transcodeToUtf8(p.html).map(t => (p.doc_id, t)))
      .filter { case (_, t) => Extract.isSafe(t) }
    (idx, Bm25Oracle(docs))
  }

  private val queries = Seq(
    PagesCorpus.needleTerm(0),                      // rare needle
    PagesCorpus.needleTerm(1),
    PagesCorpus.vocab(0),                           // head term (max df)
    PagesCorpus.vocab(1),
    s"${PagesCorpus.vocab(3)} ${PagesCorpus.vocab(7)}",        // conjunctive 2-term
    s"${PagesCorpus.vocab(0)} ${PagesCorpus.vocab(10)} ${PagesCorpus.vocab(25)}",
    s"${PagesCorpus.needleTerm(0)} ${PagesCorpus.vocab(0)}",   // needle + head
    "zzzznonexistenttermzzzz",                      // no-match
    s"zzzznonexistenttermzzzz ${PagesCorpus.vocab(0)}",        // partial-missing
    "ab")                            // short query -> all-docs fallback (P4)

  test("index stats are sane") {
    assert(index.stats.num_docs == oracle.numDocs)
    assert(index.stats.avgdl == oracle.avgdl)
    assert(index.stats.total_tokens == oracle.totalTokens)
  }

  test("naive path: rank-identical docIDs and exact-equal scores vs oracle") {
    for (q <- queries; conj <- Seq(true, false)) {
      val want = oracle.search(q, 20, conj)
      val got = Bm25Query.searchNaive(index, q, 20, conj).collect().toVector
      assert(got.map(_.doc_id) == want.map(_.doc_id),
        s"docIDs differ: q='$q' conj=$conj\n got=$got\nwant=$want")
      got.zip(want).foreach { case (g, w) =>
        assert(g.score == w.score, s"score differs: q='$q' doc=${g.doc_id}")
      }
    }
  }

  test("block path (WAND): rank-identical and exact-equal vs oracle") {
    for (q <- queries; conj <- Seq(true, false)) {
      val want = oracle.search(q, 20, conj)
      val got = Bm25Query.searchBlocks(index, q, 20, conj).collect().toVector
      assert(got.map(_.doc_id) == want.map(_.doc_id),
        s"docIDs differ: q='$q' conj=$conj\n got=$got\nwant=$want")
      got.zip(want).foreach { case (g, w) =>
        assert(g.score == w.score, s"score differs: q='$q' doc=${g.doc_id}")
      }
    }
  }

  test("driver-resident dictionary (serving mode) changes nothing") {
    val q = s"${PagesCorpus.vocab(3)} ${PagesCorpus.vocab(7)}"
    val cold = Bm25Query.searchBlocks(index, q, 20).collect().toSeq
      .map(h => (h.doc_id, h.score))
    index.cacheDictionary()
    try {
      val hot = Bm25Query.searchBlocks(index, q, 20).collect().toSeq
        .map(h => (h.doc_id, h.score))
      assert(hot == cold)
      // missing-term short circuit still works through the map
      assert(Bm25Query.searchBlocks(index, "zzznope " + PagesCorpus.vocab(0),
        10).collect().isEmpty)
    } finally {
      // other tests in this suite share the index; leave state hot is fine
    }
  }

  test("needle queries surface exactly the manifest docs") {
    val hosts = PagesCorpus.needleDocs(0, n).map(_._1)
      .filterNot(PagesCorpus.isSafetyRow).toSet
    val got = Bm25Query.searchNaive(index, PagesCorpus.needleTerm(0), 50)
      .collect().map(_.doc_id).toSet
    assert(got == hosts)
  }

  test("include/exclude glob filter restricts candidates (P5 parity)") {
    import graft.query.PathFilter
    val inc = Seq("https://site-00*.example/**")
    val exc = Seq("**/page-000000??")
    val q = PagesCorpus.vocab(0)
    val want = {
      // oracle: score everything, filter urls, re-rank
      val all = oracle.search(q, 1000, conjunctive = true)
      all.filter(h => PathFilter.matches(PagesCorpus.url(h.doc_id), inc, exc))
        .take(10)
    }
    for (blocks <- Seq(false, true)) {
      val got = (if (blocks) Bm25Query.searchBlocks(index, q, 10, true, inc, exc)
                 else Bm25Query.searchNaive(index, q, 10, true, inc, exc))
        .collect().toVector
      assert(got.map(_.doc_id) == want.map(_.doc_id), s"blocks=$blocks")
      got.zip(want).foreach { case (g, w) => assert(g.score == w.score) }
    }
  }

  test("filtered block path: sparse and dense doc sets are exact") {
    import org.apache.spark.sql.functions.col
    // a sparse (1/3 of docs) and a dense (2/3) allow set, each shipped
    // whole to the buckets of its docs: no size ceiling, no fallback
    val sparse = index.docs.where(col("doc_id") % 3 === 0).select("doc_id")
    val dense = index.docs.where(col("doc_id") % 3 =!= 0).select("doc_id")
    // OR mode included deliberately: a filtered-out doc must never move
    // a heap threshold
    for (q <- Seq(PagesCorpus.vocab(0),
                  s"${PagesCorpus.vocab(3)} ${PagesCorpus.vocab(7)}");
         conj <- Seq(true, false);
         (mode, allowDf) <- Seq(("sparse", sparse), ("dense", dense))) {
      val allowSet = allowDf.collect().map(_.getLong(0)).toSet
      val want = oracle.search(q, 1000, conj)
        .filter(h => allowSet.contains(h.doc_id)).take(10)
      val got = Bm25Query.searchBlocksFiltered(index, q, 10, conj, allowDf)
        .collect().toVector
      assert(got.map(_.doc_id) == want.map(_.doc_id),
        s"docIDs differ: q='$q' conj=$conj mode=$mode\n got=$got\nwant=$want")
      got.zip(want).foreach { case (g, w) =>
        assert(g.score == w.score, s"score differs: mode=$mode doc=${g.doc_id}")
      }
    }
    // an empty allow set admits no doc
    assert(Bm25Query.searchBlocksFiltered(index, PagesCorpus.vocab(0), 10,
      conjunctive = true,
      sparse.where(col("doc_id") < 0)).collect().isEmpty)
  }

  test("batched serving: one job answers the whole workload bit-identically") {
    val batch = queries.flatMap(q => Seq(BatchQuery(q), BatchQuery(q, false)))
    val got = Bm25Query.searchBlocksBatchEx(index, batch, 20)
    batch.zip(got).foreach { case (BatchQuery(q, conj, _, _, _), hits) =>
      val want = Bm25Query.searchBlocks(index, q, 20, conj).collect().toVector
      assert(hits.map(h => (h.doc_id, h.score, h.rank, h.url)) ==
        want.map(h => (h.doc_id, h.score, h.rank, h.url)),
        s"batch result differs: q='$q' conj=$conj")
    }
  }

  test("sparse v3 tf carries each term's string once per partition") {
    import org.apache.spark.sql.functions.col
    // per-partition first-sight strings only, one spelling per term_id
    val tfSparse = IndexBuilder.termFrequencies(spark.read.parquet(s"${index.path}/pages"))
    assert(tfSparse.where(col("term").isNotNull).count() <
      tfSparse.count())
    assert(tfSparse.groupBy("term_id")
      .agg(org.apache.spark.sql.functions.countDistinct(col("term")).as("c"))
      .where(col("c") =!= 1).count() == 0)
  }

  test("web-vocab (non-broadcast) postings path builds an identical index") {
    import org.apache.spark.sql.functions.col
    // maxBroadcastTerms=0 forces the shuffle-join branch that a web-scale
    // dictionary would take; every serving table must equal the
    // broadcast build bit-for-bit
    val dirB = java.nio.file.Files.createTempDirectory("graft-bigvocab").toString
    val tf = IndexBuilder.termFrequencies(spark.read.parquet(s"${index.path}/pages"))
    val idxB = new BuildSpine(spark, dirB).run(TfInput(tf, "tf"),
      spark.read.parquet(s"${index.path}/docs").select("doc_id", "url"), blockBits = 6,
      maxBroadcastTerms = 0L)
    def canon(df: org.apache.spark.sql.DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(canon(idxB.postings, "term_id", "doc_id", "impact") ==
      canon(index.postings, "term_id", "doc_id", "impact"))
    assert(canon(idxB.blockFiles, "term_id", "block_id", "n", "block_max") ==
      canon(index.blockFiles, "term_id", "block_id", "n", "block_max"))
    assert(idxB.stats == index.stats)
    val q = s"${PagesCorpus.vocab(3)} ${PagesCorpus.vocab(7)}"
    assert(Bm25Query.searchBlocks(idxB, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq ==
      Bm25Query.searchBlocks(index, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq)
  }

  test("urls and ranks are attached correctly") {
    val hits = Bm25Query.searchNaive(index, PagesCorpus.vocab(5), 10).collect()
    assert(hits.nonEmpty)
    assert(hits.map(_.rank).toSeq == (1 to hits.length))
    hits.foreach(h => assert(h.url == PagesCorpus.url(h.doc_id)))
  }
}
