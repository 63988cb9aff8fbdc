package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.PagesCorpus
import graft.extract.Extract
import graft.index.IndexBuilder
import graft.query.{Bm25Query, PathFilter, RegexQuery}
import graft.query.RegexQuery.Query

/** Regex serving against a declarative full-scan reference: every
  * page's text matched against `(?is)` + pattern, the url globs applied
  * through [[PathFilter]], ranked scores taken from
  * `Bm25Query.scoredNaive(conjunctive = true)`, ordered by (score desc,
  * doc_id asc) and cut to the top k. [[RegexQuery.searchBatch]],
  * [[RegexQuery.search]] (a batch of one) and mixed batches with
  * per-query url globs must equal it per query — doc ids, urls, score
  * bits and ranks — across every query class: ranked (single branch,
  * complete terms), accelerated (alternation / open-sided literals),
  * full scan (no usable literal), empty (literal absent), and their mix
  * in one batch; chunking the verify collect must not change any result.
  */
class RegexBatchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val (idx, pages) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rxb").toString
    val base = IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 300, parts = 4).toDF())
      .where(Extract.safe(col("text")))
    val extra = Seq(
      (910000L, "https://x/alt1", "metadata join rendezvous"),
      (910001L, "https://x/alt2", "dashboard rendezvous"),
      (910002L, "https://x/pre", "rendezvousness prefix-extended token"),
      (910003L, "https://x/suf", "unrendezvous suffix-embedded token"))
      .toDF("doc_id", "url", "text")
    val p = base.unionByName(extra)
    (IndexBuilder.build(spark, p, dir, blockBits = 6), p)
  }

  private val patterns = Seq(
    s" ${PagesCorpus.vocab(2)} ${PagesCorpus.vocab(7)} ",  // ranked (bothBound)
    "(data|dash)board",                                    // accelerated, alternation
    "\\srendez\\w+",                                       // accelerated, prefix range
    "\\w+vous\\s",                                         // accelerated, suffix (terms_rev)
    "re..ez.ous",                                          // accelerated, infix trigram ('ous')
    "ba.a",                                                // full scan (no literal > 2 chars)
    "l.rl.r",                                              // full scan, distinct regex same pass
    " zzzznotthere ",                                      // ranked but absent -> empty
    s" ${PagesCorpus.vocab(5)} ")                          // ranked, single term

  /** (doc_id, url, score bits, rank): scores compare bit for bit. */
  private type Row = (Long, String, Long, Int)

  private def asRows(hits: Seq[graft.query.Hit]): Seq[Row] =
    hits.map(h => (h.doc_id, h.url, java.lang.Double.doubleToLongBits(h.score), h.rank))

  /** The declarative full-scan reference for one query. */
  private def reference(q: Query, k: Int): Seq[Row] = {
    val matched = pages.select("doc_id", "text")
      .where(regexp_like(col("text"), lit("(?is)" + q.pattern)))
      .join(idx.docs.select("doc_id", "url"), Seq("doc_id"), "left")
      .where(PathFilter.predicate(col("url"), q.include, q.exclude))
    val branches = RegexQuery.requiredLiteralBranches(q.pattern)
    val scored =
      if (branches.size == 1 && branches.head.forall(_.bothBound))
        Bm25Query.scoredNaive(idx, branches.head.map(_.text).mkString(" "),
            conjunctive = true)
          .map(s => matched.join(s, Seq("doc_id")))
      else Some(matched.withColumn("score", lit(0.0)))
    scored.toSeq.flatMap { df =>
      df.orderBy(col("score").desc, col("doc_id").asc).limit(k)
        .select("doc_id", "url", "score").collect().toSeq
    }.zipWithIndex.map { case (r, i) =>
      (r.getLong(0), Option(r.getString(1)).getOrElse(""),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), i + 1)
    }
  }

  test("batch == single per query across all classes") {
    val batch = RegexQuery.searchBatch(idx, pages, patterns, 20)
    patterns.zipWithIndex.foreach { case (p, qi) =>
      val want = reference(Query(p), 20)
      assert(asRows(batch(qi)) == want, s"batch, pattern '$p'")
      assert(asRows(RegexQuery.search(idx, pages, p, 20).collect().toSeq) == want,
        s"single, pattern '$p'")
    }
    assert(batch.count(_.nonEmpty) >= 5, "fixture should exercise non-empty classes")
    assert(batch(patterns.indexOf(" zzzznotthere ")).isEmpty)
  }

  test("tiny verify-collect budget (one leg per chunk) == unchunked") {
    val one = RegexQuery.searchBatch(idx, pages, patterns, 20)
    val chunked = RegexQuery.searchBatch(idx, pages, patterns, 20,
      maxCollectRows = 1L)
    patterns.indices.foreach(qi =>
      assert(asRows(one(qi)) == asRows(chunked(qi)), s"query $qi"))
  }

  test("a mixed batch with per-query url globs equals the reference per query") {
    val sites = Seq("https://site-01*.example/**")
    val xs = Seq("https://x/*")
    val queries = Seq(
      Query(patterns(0), include = sites),        // ranked, include
      Query(patterns(0)),                         // the same, unfiltered
      Query("(data|dash)board", exclude = xs),    // accelerated, all excluded
      Query("(data|dash)board"),
      Query("\\srendez\\w+", include = xs),       // accelerated, include
      Query("\\w+vous\\s", exclude = Seq("**/suf")),
      Query("ba.a", include = sites),             // full scan, include
      Query("ba.a"),                              // the same, unfiltered
      Query("l.rl.r", include = sites, exclude = Seq("https://site-010*.example/**")),
      Query(patterns(8), exclude = sites))        // ranked, exclude
    for (k <- Seq(5, 1000)) {
      val got = RegexQuery.run(idx, pages, queries, k)
      queries.zipWithIndex.foreach { case (q, qi) =>
        assert(asRows(got(qi)) == reference(q, k), s"k=$k, query $qi $q")
      }
      assert(got(2).isEmpty && got(3).nonEmpty)
      assert(got(6).nonEmpty && got(6) != got(7), "the include must cut the full scan")
    }
  }
}
