package graft

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.JobExecutionStatus
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.PagesCorpus
import graft.extract.Extract
import graft.index.IndexBuilder
import graft.query.RegexQuery
import graft.query.RegexQuery.Lit

class RegexQuerySpec extends AnyFunSuite {

  /** A 200-doc index whose extra rows hold the 'rendez...' tokens. */
  private lazy val (fxDir, fxIdx, fxPages) = {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rx-fx").toString
    val base = IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 200, parts = 2).toDF())
      .where(Extract.safe(col("text")))
    val extra = Seq(
      (910000L, "https://x/alt1", "metadata join rendezvous"),
      (910001L, "https://x/alt2", "dashboard rendezvous"),
      (910002L, "https://x/pre", "rendezvousness prefix-extended token"))
      .toDF("doc_id", "url", "text")
    val pages = base.unionByName(extra)
    (dir, IndexBuilder.build(spark, pages, dir, blockBits = 6), pages)
  }

  test("requiredLiterals: sound boundary analysis") {
    // pattern start/end are NOT boundaries (unanchored regex can match
    // mid-token): 'data\s+join' matches inside 'bigdata join'
    assert(RegexQuery.requiredLiterals("data\\s+join") ==
      Seq(Lit("data", false, true), Lit("join", true, false)))
    assert(RegexQuery.requiredTokens("data\\s+join") == Seq())
    // interior tokens are complete; edges stay open
    assert(RegexQuery.requiredTokens("data join merge") == Seq("join"))
    // anchors pin the edges
    assert(RegexQuery.requiredTokens("^data join merge$") ==
      Seq("data", "join", "merge"))
    // quantifier makes the char optional and right boundary unknown
    assert(RegexQuery.requiredLiterals("sparks?") ==
      Seq(Lit("spark", false, false)))
    assert(RegexQuery.requiredLiterals("spark+") ==
      Seq(Lit("spark", false, false)))
    // dot breaks completeness on that side
    assert(RegexQuery.requiredLiterals("data.join") ==
      Seq(Lit("data", false, false), Lit("join", false, false)))
    assert(RegexQuery.requiredLiterals("data .join ") ==
      Seq(Lit("data", false, true), Lit("join", false, true)))
    // classes/groups/alternation -> conservative full scan
    assert(RegexQuery.requiredLiterals("da(ta|sh)") == Seq())
    assert(RegexQuery.requiredLiterals("[dm]ata") == Seq())
    assert(RegexQuery.requiredLiterals("a|b") == Seq())
    // short tokens dropped (index has no len<=2 terms)
    assert(RegexQuery.requiredLiterals("ab cd efgh") ==
      Seq(Lit("efgh", true, false)))
    // \w extends words; \b is ASCII-unsound vs the Unicode tokenizer
    assert(RegexQuery.requiredLiterals("\\wdata") ==
      Seq(Lit("data", false, false)))
    assert(RegexQuery.requiredLiterals("\\bdata\\b") ==
      Seq(Lit("data", false, false)))
    // non-ASCII letters classify like the tokenizer: 'éspark' is ONE
    // potential token, so 'spark' must NOT become a left-bounded literal
    assert(RegexQuery.requiredLiterals("éspark ") ==
      Seq(Lit("éspark", false, true)))
    // case-insensitivity: literals lowercased, metachars untouched
    assert(RegexQuery.requiredLiterals(" SPARK ") ==
      Seq(Lit("spark", true, true)))
    // zero-allowed quantifier on a SEPARATOR voids the boundary it granted
    // the preceding literal: \s* matches empty, so 'datajoin' is a true
    // match of 'data\s*join' and 'data' must not stay right-bounded
    assert(RegexQuery.requiredLiterals("data\\s*join") ==
      Seq(Lit("data", false, false), Lit("join", false, false)))
    assert(RegexQuery.requiredLiterals("data\\s?join") ==
      Seq(Lit("data", false, false), Lit("join", false, false)))
    assert(RegexQuery.requiredLiterals("data\\s{0,2}join") ==
      Seq(Lit("data", false, false), Lit("join", false, false)))
    // unquantified separator keeps the bound ('+' = one-or-more separator)
    assert(RegexQuery.requiredLiterals("data\\s+join") ==
      Seq(Lit("data", false, true), Lit("join", true, false)))
  }

  test("expandAlternations: structural branch expansion") {
    def ex(p: String) = RegexQuery.expandAlternations(p)
    assert(ex("(foo|bar)baz") == Some(Seq("foobaz", "barbaz")))
    assert(ex("a(b|c)d(e|f)") == Some(Seq("abde", "abdf", "acde", "acdf")))
    assert(ex("((a|b)c|d)") == Some(Seq("ac", "bc", "d")))
    assert(ex("(?:foo|bar) baz") == Some(Seq("foo baz", "bar baz")))
    // zero-allowed group quantifiers erase the group's contribution
    assert(ex("(foo)?bar") == Some(Seq(".*bar")))
    assert(ex("(foo)*bar") == Some(Seq(".*bar")))
    assert(ex("(foo){0,3}bar") == Some(Seq(".*bar")))
    // one-or-more keeps the first occurrence, hides repeats in the tail
    assert(ex("(foo)+bar") == Some(Seq("foo.*bar")))
    assert(ex("(foo){2,5}bar") == Some(Seq("foo.*bar")))
    // classes and \p collapse to one unknown char
    assert(ex("[abc]x") == Some(Seq(".x")))
    assert(ex("[^\\]x]yz") == Some(Seq(".yz")))
    assert(ex("\\p{L}foo") == Some(Seq(".foo")))
    // simple atoms + quantifiers pass through verbatim
    assert(ex("x{2,3}y?") == Some(Seq("x{2,3}y?")))
    assert(ex("data\\s*join") == Some(Seq("data\\s*join")))
    // outside the model
    assert(ex("(?i)x").isEmpty)        // inline flags
    assert(ex("(?=x)y").isEmpty)       // lookaround
    assert(ex("(a|b").isEmpty)         // unbalanced
    assert(ex("a)b").isEmpty)
    assert(ex("[abc").isEmpty)
  }

  test("requiredLiteralBranches: per-branch literal sets") {
    def br(p: String) = RegexQuery.requiredLiteralBranches(p)
    assert(br("(vector|stream)\\s+\\w+") ==
      Seq(Seq(Lit("vector", false, true)), Seq(Lit("stream", false, true))))
    assert(br("da(ta|sh)") ==
      Seq(Seq(Lit("data", false, false)), Seq(Lit("dash", false, false))))
    // a branch with no usable literal voids the whole prefilter
    assert(br("(a|b)c") == Nil)
    // short alternatives fold into the following literal per branch
    assert(br("(vector|xy)merge").size == 2)
    assert(br("data\\s+join") ==
      Seq(Seq(Lit("data", false, true), Lit("join", true, false))))
    // single-branch complex forms still analyze after expansion
    assert(br("(?:data)\\s+join") ==
      Seq(Seq(Lit("data", false, true), Lit("join", true, false))))
  }

  test("prefixUpperBound: tight sorted-range bounds") {
    assert(RegexQuery.prefixUpperBound("foo") == Some("fop"))
    assert(RegexQuery.prefixUpperBound("a") == Some("b"))
    // surrogate gap skipped: U+D7FF increments to U+E000
    assert(RegexQuery.prefixUpperBound("x" + 0xD7FF.toChar) ==
      Some("x" + 0xE000.toChar))
    // max code point drops to the previous position
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(RegexQuery.prefixUpperBound("a" + maxCp) == Some("b"))
    assert(RegexQuery.prefixUpperBound(maxCp) == None)
  }

  test("regex search: alternation + open-sided literal paths == ground truth") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rx-alt").toString
    val base = IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 300, parts = 4).toDF())
      .where(Extract.safe(col("text")))
    val extra = Seq(
      (910000L, "https://x/alt1", "metadata join rendezvous"), // 'data' suffix-embedded
      (910001L, "https://x/alt2", "dashboard rendezvous"),
      (910002L, "https://x/pre", "rendezvousness prefix-extended token"),
      (910003L, "https://x/suf", "unrendezvous suffix-embedded token"))
      .toDF("doc_id", "url", "text")
    val pages = base.unionByName(extra)
    val idx = IndexBuilder.build(spark, pages, dir, blockBits = 6)

    def groundTruth(pattern: String): Set[Long] = {
      val rx = ("(?is)" + pattern).r
      pages.select("doc_id", "text").collect()
        .filter(r => rx.findFirstIn(r.getString(1)).isDefined)
        .map(_.getLong(0)).toSet
    }
    def run(pattern: String): Set[Long] =
      RegexQuery.search(idx, pages, pattern, 1000).collect().map(_.doc_id).toSet

    // alternation over embedded literals: '(data|dash)board|join' shapes
    for (p <- Seq(
        "(data|dash)\\w+",              // prefix per branch
        "(data|dash)board",             // infix/suffix mix per branch
        "meta(data|dash)",              // left-extended literal
        "(rendezvous|zzzznotthere) ",   // one branch absent from corpus
        "(metadata|dashboard) rendezvous",
        "x(?:yz|q)*rendezvous")) {      // zero-allowed group -> scan-free? no: '.*rendezvous' literal
      assert(run(p) == groundTruth(p), s"pattern '$p'")
    }
    // prefix range path: left-bounded, right-open literal
    val pPre = "\\srendez\\w+"
    assert(RegexQuery.requiredLiterals(pPre) == Seq(Lit("rendez", true, false)))
    assert(run(pPre) == groundTruth(pPre))
    assert(groundTruth(pPre).nonEmpty)
    // suffix range path: right-bounded, left-open literal (terms_rev)
    val pSuf = "\\w+vous\\s"
    assert(RegexQuery.requiredLiterals(pSuf) == Seq(Lit("vous", false, true)))
    assert(run(pSuf) == groundTruth(pSuf))
    assert(groundTruth(pSuf).nonEmpty)
  }

  test("single-branch accelerated regex: candidate job executes once") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rx-jobs").toString
    val pages = IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 200, parts = 2).toDF())
      .where(Extract.safe(col("text")))
    val idx = IndexBuilder.build(spark, pages, dir, blockBits = 6)
    val pat = s" ${PagesCorpus.vocab(5)} ${PagesCorpus.vocab(12)} "
    RegexQuery.search(idx, pages, pat, 1000).collect() // warm plans/caches
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = RegexQuery.search(idx, pages, pat, 1000).collect()
      assert(got.nonEmpty)
      // drain the (async) listener bus: poll until the count stabilizes
      var last = -1; var cur = jobs.get
      while (cur != last) { Thread.sleep(300); last = cur; cur = jobs.get }
      // the round-4 shape collected candidate ids inside verifyCandidates
      // and then RE-EXECUTED the whole scoring plan for the outer join —
      // two extra jobs on this query (measured 8 before the fix, 6 after:
      // analyze + scored collect [2 AQE jobs] + verify/top-k + urls)
      assert(cur <= 6,
        s"accelerated single-branch regex ran $cur jobs; the candidate " +
        "scoring plan must execute exactly once (VERDICT r4 finding #1)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("regex search: accelerated paths == ground truth (incl. mid-token match)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rx").toString
    val raw = PagesCorpus.pages(spark, 300, parts = 4).toDF()
    val base = IndexBuilder.extractPages(raw)
      .where(Extract.safe(col("text")))
    // adversarial rows: a mid-token-prefix match ('bigdata join ...') that
    // an unsound prefilter would drop, plus an exact-token control row
    val extra = Seq(
      (900000L, "https://x/midtok", "bigdata join rendezvous once more"),
      (900001L, "https://x/exact", "data join rendezvous once more"),
      (900002L, "https://x/upper", "DATA JOIN rendezvous once more"),
      // \s* matches empty: a fused token that 'data\s*join' truly matches
      (900003L, "https://x/fused", "datajoin rendezvous once more"))
      .toDF("doc_id", "url", "text")
    val pages = base.unionByName(extra)
    val idx = IndexBuilder.build(spark, pages, dir, blockBits = 6)

    def groundTruth(pattern: String): Set[Long] = {
      val rx = ("(?is)" + pattern).r
      pages.select("doc_id", "text").collect()
        .filter(r => rx.findFirstIn(r.getString(1)).isDefined)
        .map(_.getLong(0)).toSet
    }
    def run(pattern: String): Set[Long] =
      RegexQuery.search(idx, pages, pattern, 1000).collect().map(_.doc_id).toSet

    // partial-literal accelerated path; must include the mid-token doc
    val p1 = "data\\s+join"
    val got1 = run(p1); val want1 = groundTruth(p1)
    assert(got1 == want1)
    assert(Set(900000L, 900001L, 900002L).subsetOf(got1),
      "mid-token + case-folded matches must survive the prefilter")

    // zero-allowed separator: the fused doc is a true match and must
    // survive the (now right-unbounded) literal prefilter
    val p1z = "data\\s*join"
    val got1z = run(p1z); val want1z = groundTruth(p1z)
    assert(got1z == want1z)
    assert(got1z.contains(900003L), "'datajoin' must match 'data\\s*join'")

    // fully-bounded accelerated path (literal spaces pin both edges ->
    // conjunctive BM25 prefilter over complete tokens)
    val w1 = PagesCorpus.vocab(5); val w2 = PagesCorpus.vocab(12)
    val p2 = s" $w1 $w2 "
    assert(RegexQuery.requiredTokens(p2) == Seq(w1, w2))
    assert(got1.nonEmpty && want1.nonEmpty)
    assert(run(p2) == groundTruth(p2))
    assert(groundTruth(p2).nonEmpty, "fixture should produce matches")

    // infix-literal path (dot on both sides of each token)
    val p3 = s"$w1.$w2"
    assert(run(p3) == groundTruth(p3))

    // no-literal full scan
    val p4 = "ba.ch"
    assert(run(p4) == groundTruth(p4))

    // case-insensitive metacharacters stay intact: \W must not become \w
    val p5 = "rendezvous\\Wonce"
    assert(run(p5) == groundTruth(p5))
    assert(groundTruth(p5).nonEmpty)

    // combined regex + path filter (reference search_regex honors the
    // same include/exclude globs)
    val withF = RegexQuery.search(idx, pages, "rendezvous\\Wonce", 1000,
      include = Seq("https://x/*")).collect().map(_.doc_id).toSet
    assert(withF == groundTruth(p5).filter(_ >= 900000L))
    val withX = RegexQuery.search(idx, pages, "rendezvous\\Wonce", 1000,
      exclude = Seq("https://x/*")).collect().map(_.doc_id).toSet
    assert(withX == groundTruth(p5).filter(_ < 900000L))
  }

  test("a bad pattern fails on the driver before any job, single and batch") {
    val spark = TestSpark.spark
    fxIdx // built outside the counted calls
    for (bad <- Seq("ba)a", "\\sreba\\w+[a-")) {
      val (single, singleJobs) = SparkJobs.count(spark) {
        intercept[IllegalArgumentException](RegexQuery.search(fxIdx, fxPages, bad, 10))
      }
      assert(single.getMessage.contains(s"'$bad'"), single.getMessage)
      assert(singleJobs == 0)
      val (batch, batchJobs) = SparkJobs.count(spark) {
        intercept[IllegalArgumentException](
          RegexQuery.searchBatch(fxIdx, fxPages, Seq("ba.a", bad), 10))
      }
      assert(batch.getMessage.contains(s"'$bad'") &&
        batch.getMessage.contains("batch query 1"), batch.getMessage)
      assert(batchJobs == 0)
    }
  }

  test("a failed leg fails the call only once every leg has finished") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    // the extra docs' text throws at once, every other page's text takes
    // 8 ms: the full scan reads the 200 slow pages first (one partition,
    // base rows first), so it is still running when the verify of the
    // accelerated query, which reads only the extra docs, fails
    val text = udf { (id: Long, t: String) =>
      if (id >= 910000L) throw new IllegalStateException(s"unreadable page $id")
      Thread.sleep(8); t
    }
    val failing = fxPages.coalesce(1)
      .select(col("doc_id"), col("url"), text(col("doc_id"), col("text")).as("text"))
    val group = s"rx-legs-${UUID.randomUUID()}"
    sc.setJobGroup(group, "regex legs")
    val e = try intercept[Exception] {
      RegexQuery.searchBatch(fxIdx, failing, Seq("ba.a", "\\srendez\\w+"), 10)
    } finally sc.clearJobGroup()
    // the status store lags the scheduler: once it has seen a job started
    // after the exception, it has seen every job end before it
    val fence = s"$group-fence"
    sc.setJobGroup(fence, "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!tracker.getJobIdsForGroup(fence).exists(id =>
        tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.SUCCEEDED))) {
      assert(System.nanoTime() < deadline, "the fence job never showed as done")
      Thread.sleep(10)
    }
    val running = tracker.getActiveJobIds.filter(id =>
      tracker.getJobIdsForGroup(group).contains(id))
    assert(running.isEmpty, s"jobs ${running.mkString(",")} of the failed call still run")
    assert(tracker.getJobIdsForGroup(group).nonEmpty)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("unreadable page")), e.toString)
  }

  test("hot index: a batch of one of the serving regex class runs at most 5 jobs") {
    val spark = TestSpark.spark
    val hot = IndexBuilder.load(spark, fxDir).cacheHot().cacheDictionary()
    // the class perfbench's serve workload draws its regex queries from
    val pat = s"${PagesCorpus.vocab(8)}\\s+\\w+"
    RegexQuery.searchBatch(hot, fxPages, Seq(pat), 100) // warm
    val (hits, jobs) = SparkJobs.count(spark) {
      RegexQuery.searchBatch(hot, fxPages, Seq(pat), 100)
    }
    assert(hits.head.nonEmpty, "fixture should produce matches")
    // candidates (dictionary broadcast, postings shuffle, collect),
    // verify, urls: as many as the single path ran before it became a
    // batch of one
    assert(jobs <= 5, s"a batch of one ran $jobs jobs")
  }
}
