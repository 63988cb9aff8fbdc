package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.PagesCorpus
import graft.index.IndexBuilder
import graft.query.{BatchQuery, Bm25Query}

/** Round-5 batched serving across query classes: every [[BatchQuery]]
  * result must be BIT-IDENTICAL (docIDs AND scores) to its single-query
  * path — filtered == searchBlocksFiltered, boosted == searchBlocksBoosted,
  * plain == searchBlocks — and chunking (the driver-collect bound) must
  * not change any result.
  */
class BatchServingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val (idx, pages, rankDf) = {
    val dir = Files.createTempDirectory("graft-batch-idx").toString
    val p = IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 400, parts = 4).toDF())
    val i = IndexBuilder.build(spark, p, dir, blockBits = 6)
      .cacheHot().cacheDictionary()
    // deterministic static rank over a doc subset (values >= 0, distinct)
    val r = i.docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        (lit(1.0) + (col("doc_id") % 7).cast("double") * 0.25).as("static_rank"))
    (i, p, r)
  }

  private def hitsOf(v: Vector[graft.query.Hit]): Seq[(Long, Double, Int)] =
    v.map(h => (h.doc_id, h.score, h.rank))

  /** The same directory without hot partitions: its single queries run
    * the Dataset path, so hot batches (which share the hot runner with hot
    * single queries) are still checked against an independent path.
    */
  private lazy val cold = IndexBuilder.load(spark, idx.path).cacheDictionary()

  private def coldSingle(q: BatchQuery): Seq[(Long, Double, Int)] =
    (if (q.boosted) Bm25Query.searchBlocksBoosted(cold, q.query, 10, rankDf, q.conjunctive)
    else Bm25Query.searchBlocks(cold, q.query, 10, q.conjunctive, q.include, q.exclude))
      .collect().map(h => (h.doc_id, h.score, h.rank)).toSeq

  test("mixed batch: plain/filtered/boosted each equal their single path") {
    val w = (i: Int) => PagesCorpus.vocab(i)
    val inc = Seq("https://site-00*.example/**")
    val queries = Seq(
      BatchQuery(s"${w(2)} ${w(7)}"),                               // plain AND
      BatchQuery(s"${w(3)} ${w(9)}", conjunctive = false),          // plain OR
      BatchQuery(s"${w(2)} ${w(7)}", include = inc),                // filtered
      BatchQuery(s"${w(4)}", exclude = Seq("https://site-01*.example/**")),  // deny-glob
      BatchQuery(s"${w(2)} ${w(7)}", boosted = true),               // boosted
      BatchQuery("zzznothere"),                                     // unresolvable
      BatchQuery("ab"))                                             // short query
    val batch = Bm25Query.searchBlocksBatchEx(idx, queries, 10, Some(rankDf))

    val s0 = Bm25Query.searchBlocks(idx, queries(0).query, 10).collect()
    val s1 = Bm25Query.searchBlocks(idx, queries(1).query, 10,
      conjunctive = false).collect()
    val s2 = Bm25Query.searchBlocks(idx, queries(2).query, 10,
      include = inc).collect()
    val s3 = Bm25Query.searchBlocks(idx, queries(3).query, 10,
      exclude = queries(3).exclude).collect()
    val s4 = Bm25Query.searchBlocksBoosted(idx, queries(4).query, 10,
      rankDf).collect()
    assert(hitsOf(batch(0)) == s0.map(h => (h.doc_id, h.score, h.rank)).toSeq)
    assert(hitsOf(batch(1)) == s1.map(h => (h.doc_id, h.score, h.rank)).toSeq)
    assert(hitsOf(batch(2)) == s2.map(h => (h.doc_id, h.score, h.rank)).toSeq)
    assert(hitsOf(batch(3)) == s3.map(h => (h.doc_id, h.score, h.rank)).toSeq)
    assert(hitsOf(batch(4)) == s4.map(h => (h.doc_id, h.score, h.rank)).toSeq)
    assert(batch(5).isEmpty)
    assert(batch(6).nonEmpty && batch(6).forall(_.score == 0.0)) // all-docs fallback
    assert(batch(0).nonEmpty && batch(2).nonEmpty && batch(4).nonEmpty)
    assert(hitsOf(batch(2)) != hitsOf(batch(0)), "filter must bite")
    assert(hitsOf(batch(4)) != hitsOf(batch(0)), "boost must bite")
  }

  test("filtered AND boosted in one batch query == declarative recompute") {
    val q = s"${PagesCorpus.vocab(2)} ${PagesCorpus.vocab(7)}"
    val inc = Seq("https://site-01*.example/**")
    val batch = Bm25Query.searchBlocksBatchEx(idx,
      Seq(BatchQuery(q, include = inc, boosted = true)), 10, Some(rankDf))
    // declarative twin: scoredNaive -> url-glob semi-join -> boost -> top-k
    val allowed = idx.docs
      .where(graft.query.PathFilter.predicate(col("url"), inc, Nil))
      .select("doc_id")
    val want = Bm25Query.scoredNaive(idx, q, conjunctive = true).get
      .join(allowed, Seq("doc_id"), "left_semi")
      .join(rankDf, Seq("doc_id"), "left").na.fill(1.0, Seq("static_rank"))
      .select(col("doc_id"), (col("score") * col("static_rank")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(hitsOf(batch(0)).map(h => (h._1, h._2)) == want.toSeq)
    assert(batch(0).nonEmpty)
  }

  test("chunked batch (tiny collect bound) == unchunked, per query") {
    val w = (i: Int) => PagesCorpus.vocab(i)
    val queries = (0 until 8).map(i =>
      BatchQuery(s"${w(2 + i)} ${w(11 + i)}", conjunctive = i % 2 == 0))
    val one = Bm25Query.searchBlocksBatchEx(idx, queries, 10)
    // force one-query chunks: maxCollectRows below k x buckets
    val chunked = Bm25Query.searchBlocksBatchEx(idx, queries, 10,
      maxCollectRows = 1L)
    assert(one.size == chunked.size)
    one.indices.foreach(i => assert(hitsOf(one(i)) == hitsOf(chunked(i)), s"query $i"))
    assert(one.exists(_.nonEmpty))
  }

  /** A filtered+boosted, a filtered and a boosted query of one glob pair. */
  private def filteredAndBoosted = {
    val q = s"${PagesCorpus.vocab(2)} ${PagesCorpus.vocab(7)}"
    val inc = Seq("https://site-01*.example/**")
    Seq(BatchQuery(q, include = inc, boosted = true),
      BatchQuery(q, include = inc),
      BatchQuery(q, boosted = true))
  }

  /** The declarative reference of a batch query: hot and cold batches
    * share the bucket scorer, so they are also checked against this path.
    */
  private def referenceHits(ix: graft.index.BuiltIndex, q: BatchQuery,
      k: Int = 10): Vector[graft.query.Hit] =
    (if (q.boosted) Bm25Query.searchBoosted(ix, q.query, k, rankDf,
      q.conjunctive, q.include, q.exclude)
    else Bm25Query.searchNaive(ix, q.query, k, q.conjunctive, q.include, q.exclude))
      .collect().toVector

  private def declarative(ix: graft.index.BuiltIndex, q: BatchQuery) =
    hitsOf(referenceHits(ix, q))

  /** Hits as (doc_id, url, score bits, rank). */
  private def bitsOf(v: Seq[graft.query.Hit]): Seq[(Long, String, Long, Int)] =
    v.map(h => (h.doc_id, h.url, java.lang.Double.doubleToLongBits(h.score), h.rank))

  private def reference(ix: graft.index.BuiltIndex, q: BatchQuery) =
    bitsOf(referenceHits(ix, q))

  /** Every line record belongs to a hit of the declarative top-k. */
  private def linesWithin(lines: Seq[graft.query.LineHit], q: BatchQuery, k: Int): Boolean = {
    val want = bitsOf(referenceHits(cold, q, k)).toSet
    lines.forall(h => want((h.doc_id, h.url, java.lang.Double.doubleToLongBits(h.score), h.rank)))
  }

  test("filtered and boosted batch queries keep BOTH filter and boost") {
    val queries = filteredAndBoosted
    val got = Bm25Query.searchBlocksBatchEx(idx, queries, 10, Some(rankDf))
    queries.indices.foreach(i =>
      assert(hitsOf(got(i)) == declarative(idx, queries(i)), s"query $i"))
    assert(got(0).nonEmpty && got(1).nonEmpty && got(2).nonEmpty)
    // the filter and the boost each bite
    assert(hitsOf(got(0)) != hitsOf(got(2)), "filter dropped")
    assert(hitsOf(got(0)) != hitsOf(got(1)), "boost dropped")
  }

  test("cold index: filtered and boosted batches keep both, hot == cold") {
    // the hot runner resolves globs inside its job; the cold index ships
    // them as doc filters beside the rank set
    val queries = filteredAndBoosted
    val got = Bm25Query.searchBlocksBatchEx(cold, queries, 10, Some(rankDf))
    val hot = Bm25Query.searchBlocksBatchEx(idx, queries, 10, Some(rankDf))
    queries.indices.foreach { i =>
      assert(hitsOf(got(i)) == declarative(cold, queries(i)), s"query $i")
      assert(hitsOf(got(i)) == hitsOf(hot(i)), s"query $i vs hot")
    }
    assert(hitsOf(got(1)) == coldSingle(queries(1)))
    assert(hitsOf(got(2)) == coldSingle(queries(2)))
    assert(got(0).nonEmpty && got(1).nonEmpty && got(2).nonEmpty)
    assert(hitsOf(got(0)) != hitsOf(got(2)), "filter dropped")
    assert(hitsOf(got(0)) != hitsOf(got(1)), "boost dropped")
  }

  test("a rank set with a duplicate doc_id or a negative rank fails loudly, hot and cold") {
    val q = s"${PagesCorpus.vocab(2)} ${PagesCorpus.vocab(7)}"
    val d = rankDf.select("doc_id").head().getLong(0)
    val duplicated = rankDf.union(rankDf.where(col("doc_id") === d))
    val negative = rankDf.withColumn("static_rank",
      when(col("doc_id") === d, lit(-1.0)).otherwise(col("static_rank")))
    for ((ix, mode) <- Seq((idx, "hot"), (cold, "cold"));
         (rank, message) <- Seq((duplicated, s"rank set has a duplicate doc_id $d"),
           (negative, "static_rank must be non-negative"))) {
      val e = intercept[Exception](
        Bm25Query.searchBlocksBoosted(ix, q, 10, rank).collect())
      assert(e.getMessage.contains(message), s"$mode: ${e.getMessage}")
    }
  }

  test("lines batch chunking (tiny collect bound) == unchunked") {
    val w = (i: Int) => PagesCorpus.vocab(i)
    val queries = (0 until 5).map(i =>
      BatchQuery(s"${w(2 + i)} ${w(11 + i)}", conjunctive = i % 2 == 0))
    val one = Bm25Query.searchWithLinesBatch(idx, pages, queries, 5)
    // maxCollectRows=1 -> one leg per job
    val chunked = Bm25Query.searchWithLinesBatch(idx, pages, queries, 5,
      maxCollectRows = 1L)
    assert(one.size == chunked.size)
    one.indices.foreach { i =>
      assert(chunked(i).map(h => (h.doc_id, h.rank, h.line_number,
        h.match_start, h.match_end, h.snippet, h.score)) ==
        one(i).map(h => (h.doc_id, h.rank, h.line_number,
          h.match_start, h.match_end, h.snippet, h.score)), s"query $i")
    }
    assert(one.exists(_.nonEmpty))
  }

  test("batched lines == searchWithLines per query") {
    val w = (i: Int) => PagesCorpus.vocab(i)
    val queries = Seq(
      BatchQuery(s"${w(2)} ${w(7)}"),
      BatchQuery(s"${w(3)} ${w(9)}", conjunctive = false),
      BatchQuery("zzznothere"))
    val batch = Bm25Query.searchWithLinesBatch(idx, pages, queries, 5)
    queries.zipWithIndex.foreach { case (q, qi) =>
      val single = Bm25Query.searchWithLines(idx, pages, q.query, 5,
        q.conjunctive).collect()
        .map(h => (h.doc_id, h.rank, h.line_number, h.match_start,
          h.match_end, h.snippet, h.score)).sortBy(x => (x._2, x._3))
      val got = batch(qi)
        .map(h => (h.doc_id, h.rank, h.line_number, h.match_start,
          h.match_end, h.snippet, h.score)).sortBy(x => (x._2, x._3))
      assert(got == single.toVector, s"query $qi")
    }
    assert(batch(0).nonEmpty && batch(1).nonEmpty && batch(2).isEmpty)
  }

  test("hot and cold batches equal the cold index's single queries") {
    val w = (i: Int) => PagesCorpus.vocab(i)
    val queries = Seq(
      BatchQuery(s"${w(2)} ${w(7)}"),
      BatchQuery(s"${w(3)} ${w(9)}", conjunctive = false),
      BatchQuery(s"${w(2)} ${w(7)}", include = Seq("https://site-00*.example/**")),
      BatchQuery(w(4), exclude = Seq("https://site-01*.example/**")),
      BatchQuery(s"${w(2)} ${w(7)}", boosted = true),
      BatchQuery("zzznothere"))
    assert(idx.hotPartitions.nonEmpty && cold.hotPartitions.isEmpty)
    val hot = Bm25Query.searchBlocksBatchEx(idx, queries, 10, Some(rankDf))
    val coldBatch = Bm25Query.searchBlocksBatchEx(cold, queries, 10, Some(rankDf))
    queries.zipWithIndex.foreach { case (q, i) =>
      val want = coldSingle(q)
      assert(hitsOf(hot(i)) == want, s"hot batch, query $i")
      assert(hitsOf(coldBatch(i)) == want, s"cold batch, query $i")
      assert(bitsOf(hot(i)) == reference(cold, q), s"hot batch vs reference, query $i")
      assert(bitsOf(coldBatch(i)) == reference(cold, q), s"cold batch vs reference, query $i")
    }
    assert(hot.take(5).forall(_.nonEmpty))
  }

  test("chunked hot batch == cold single queries") {
    val w = (i: Int) => PagesCorpus.vocab(i)
    val queries = (0 until 8).map(i =>
      BatchQuery(s"${w(2 + i)} ${w(11 + i)}", conjunctive = i % 2 == 0,
        include = if (i % 3 == 0) Seq("https://site-0*.example/**") else Nil))
    val chunked = Bm25Query.searchBlocksBatchEx(idx, queries, 10,
      maxCollectRows = 1L)
    queries.zipWithIndex.foreach { case (q, i) =>
      assert(hitsOf(chunked(i)) == coldSingle(q), s"query $i")
      assert(bitsOf(chunked(i)) == reference(cold, q), s"query $i vs reference")
    }
    assert(chunked.exists(_.nonEmpty))
  }

  test("hot batched lines == cold searchWithLines per query") {
    val w = (i: Int) => PagesCorpus.vocab(i)
    val queries = Seq(
      BatchQuery(s"${w(2)} ${w(7)}"),
      BatchQuery(s"${w(3)} ${w(9)}", conjunctive = false))
    val batch = Bm25Query.searchWithLinesBatch(idx, pages, queries, 5)
    queries.zipWithIndex.foreach { case (q, qi) =>
      val single = Bm25Query.searchWithLines(cold, pages, q.query, 5,
        q.conjunctive).collect()
        .map(h => (h.doc_id, h.rank, h.line_number, h.match_start,
          h.match_end, h.snippet, h.score)).sortBy(x => (x._2, x._3))
      val got = batch(qi)
        .map(h => (h.doc_id, h.rank, h.line_number, h.match_start,
          h.match_end, h.snippet, h.score)).sortBy(x => (x._2, x._3))
      assert(got == single.toVector, s"query $qi")
      assert(got.nonEmpty, s"query $qi")
      assert(linesWithin(batch(qi), q, 5), s"query $qi vs reference")
    }
  }
}
