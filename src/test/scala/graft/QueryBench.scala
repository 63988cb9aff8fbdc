package graft

import java.nio.file.Files

import graft.corpus.PagesCorpus
import graft.index.IndexBuilder
import graft.query.Bm25Query

/** Mixed-workload serving load test — the analog of the reference
  * validator's `--load-test` (per-query-class QPS and latency percentiles,
  * /root/reference/src/bin/fast_code_search_validator.rs:692-810): build
  * over the cached corpus, pin hot tables + driver dictionary, then run a
  * labeled query mix and report p50/p95/p99 + QPS PER CLASS (needle /
  * head / conjunctive / disjunctive / filtered / glob / regex / lines),
  * so a serving regression localizes to the query family. Each class
  * also reports its Spark jobs per query (counted by job group), the
  * floor the hot serving path is built to hold at one.
  *
  * Usage: Test/runMain graft.QueryBench [nDocs] [rounds]   (200000, 3)
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 200000L
    val rounds = if (args.length > 1) args(1).toInt else 3
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = s"${System.getProperty("java.io.tmpdir")}/graft-scale-corpus-" +
      s"$nDocs-${ScalingBench.WorkloadVersion}"
    val raw =
      if (Files.exists(java.nio.file.Paths.get(corpus, "_SUCCESS")))
        spark.read.parquet(corpus)
      else PagesCorpus.pages(spark, nDocs, parts = 64).toDF()
    val dir = Files.createTempDirectory("graft-qbench").toString
    val idx = IndexBuilder.build(spark, IndexBuilder.extractPages(raw), dir)
      .cacheHot().cacheDictionary()
    val pages = spark.read.parquet(s"$dir/pages")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pages.count()

    import org.apache.spark.sql.functions.col
    val allow = idx.docs.where(col("doc_id") % 3 === 0).select("doc_id")

    // the labeled mix: (class, run-one-query thunk)
    val workload: Seq[(String, () => Unit)] =
      (0 until 10).map(i => "needle" -> (() => {
        Bm25Query.searchBlocks(idx, PagesCorpus.needleTerm(i), 10).collect(); ()
      })) ++
      (0 until 5).map(i => "head" -> (() => {
        Bm25Query.searchBlocks(idx, PagesCorpus.vocab(i), 10).collect(); ()
      })) ++
      (0 until 10).map(i => "conjunctive" -> (() => {
        Bm25Query.searchBlocks(idx,
          s"${PagesCorpus.vocab(3 + i)} ${PagesCorpus.vocab(40 + 7 * i)}",
          10).collect(); ()
      })) ++
      (0 until 5).map(i => "disjunctive" -> (() => {
        Bm25Query.searchBlocks(idx,
          s"${PagesCorpus.vocab(20 + i)} ${PagesCorpus.vocab(100 + i)}",
          10, conjunctive = false).collect(); ()
      })) ++
      (0 until 3).map(i => "filtered" -> (() => {
        Bm25Query.searchBlocksFiltered(idx,
          s"${PagesCorpus.vocab(5 + i)} ${PagesCorpus.vocab(60 + i)}",
          10, conjunctive = true, allow).collect(); ()
      })) ++
      (0 until 3).map(i => "glob" -> (() => {
        Bm25Query.searchBlocks(idx,
          s"${PagesCorpus.vocab(5 + i)} ${PagesCorpus.vocab(60 + i)}",
          10, include = Seq("https://site-01*.example/**")).collect(); ()
      })) ++
      (0 until 3).map(i => "regex" -> (() => {
        graft.query.RegexQuery.search(idx, pages,
          s"${PagesCorpus.vocab(8 + i)}\\s+\\w+", 100).collect(); ()
      })) ++
      (0 until 3).map(i => "lines" -> (() => {
        Bm25Query.searchWithLines(idx, pages,
          PagesCorpus.vocab(30 + i), 10).collect(); ()
      }))

    def onePass(): Seq[(String, Double, Int)] = workload.map { case (cls, f) =>
      val (ms, jobs) = SparkJobs.count(spark) {
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
      }
      (cls, ms, jobs)
    }
    onePass() // warm (plans, caches, codegen)
    val lat = (0 until rounds).flatMap(_ => onePass())

    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, (p * s.size).toInt))
    }
    val wall = lat.map(_._2).sum / 1000.0
    println(f"[loadtest] n=$nDocs rounds=$rounds queries=${lat.size} " +
      f"qps=${lat.size / wall}%.1f " +
      f"p50=${pct(lat.map(_._2), 0.5)}%.0fms p95=${pct(lat.map(_._2), 0.95)}%.0fms " +
      f"p99=${pct(lat.map(_._2), 0.99)}%.0fms")
    lat.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (cls, xs) =>
      val v = xs.map(_._2)
      println(f"[loadtest:$cls] n=${v.size} p50=${pct(v, 0.5)}%.0fms " +
        f"p95=${pct(v, 0.95)}%.0fms p99=${pct(v, 0.99)}%.0fms " +
        f"jobs/query=${xs.map(_._3).sum.toDouble / v.size}%.1f " +
        f"qps=${v.size / (v.sum / 1000.0)}%.1f")
    }

    // Batched serving: the SAME BM25 workload (needle/head/conj/disj,
    // 30 queries) through ONE Spark job — the scheduling-floor
    // amortization number next to the per-query latencies above.
    val batch: Seq[(String, Boolean)] =
      (0 until 10).map(i => (PagesCorpus.needleTerm(i), true)) ++
      (0 until 5).map(i => (PagesCorpus.vocab(i), true)) ++
      (0 until 10).map(i =>
        (s"${PagesCorpus.vocab(3 + i)} ${PagesCorpus.vocab(40 + 7 * i)}", true)) ++
      (0 until 5).map(i =>
        (s"${PagesCorpus.vocab(20 + i)} ${PagesCorpus.vocab(100 + i)}", false))
    Bm25Query.searchBlocksBatch(idx, batch, 10) // warm
    val bt = (0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      Bm25Query.searchBlocksBatch(idx, batch, 10)
      (System.nanoTime() - t0) / 1e6
    }
    val bBest = bt.min
    println(f"[loadtest:batched] queries=${batch.size} rounds=$rounds " +
      f"best_wall=${bBest}%.0fms amortized=${bBest / batch.size}%.1fms/query " +
      f"qps=${batch.size / (bBest / 1000.0)}%.1f")

    // Round 5: the FULL class mix batched — filtered and boosted queries
    // now ride the same one-job kernel (searchBlocksBatchEx), so the
    // amortization story covers every block-path class, not just plain
    // AND/OR. Rank/filters resolve once per batch.
    import graft.query.BatchQuery
    import org.apache.spark.sql.functions.lit
    val rank = idx.docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        (lit(1.0) + (col("doc_id") % 7).cast("double") * 0.25).as("static_rank"))
    val mixed: Seq[BatchQuery] =
      (0 until 10).map(i => BatchQuery(PagesCorpus.needleTerm(i))) ++
      (0 until 10).map(i => BatchQuery(
        s"${PagesCorpus.vocab(3 + i)} ${PagesCorpus.vocab(40 + 7 * i)}")) ++
      (0 until 5).map(i => BatchQuery(
        s"${PagesCorpus.vocab(20 + i)} ${PagesCorpus.vocab(100 + i)}",
        conjunctive = false)) ++
      (0 until 3).map(i => BatchQuery(
        s"${PagesCorpus.vocab(5 + i)} ${PagesCorpus.vocab(60 + i)}",
        include = Seq("https://site-01*.example/**"))) ++
      (0 until 2).map(i => BatchQuery(PagesCorpus.vocab(9 + i), boosted = true))
    Bm25Query.searchBlocksBatchEx(idx, mixed, 10, Some(rank)) // warm
    val mt = (0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      Bm25Query.searchBlocksBatchEx(idx, mixed, 10, Some(rank))
      (System.nanoTime() - t0) / 1e6
    }
    val mBest = mt.min
    println(f"[loadtest:batched_mixed] queries=${mixed.size} " +
      f"(plain=25 filtered=3 boosted=2) rounds=$rounds " +
      f"best_wall=${mBest}%.0fms amortized=${mBest / mixed.size}%.1fms/query " +
      f"qps=${mixed.size / (mBest / 1000.0)}%.1f")

    // batched LINES class: hits + line records in two jobs total
    val lq = (0 until 3).map(i => BatchQuery(PagesCorpus.vocab(30 + i)))
    Bm25Query.searchWithLinesBatch(idx, pages, lq, 10) // warm
    val lt = (0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      Bm25Query.searchWithLinesBatch(idx, pages, lq, 10)
      (System.nanoTime() - t0) / 1e6
    }
    val lBest = lt.min
    println(f"[loadtest:batched_lines] queries=${lq.size} rounds=$rounds " +
      f"best_wall=${lBest}%.0fms amortized=${lBest / lq.size}%.1fms/query")

    // batched REGEX class (round 6): the one class that still paid its
    // full single-query cost (p50 ~2.6 s) — B patterns through
    // RegexQuery.searchBatch: one shared postings pass (accelerated
    // classes), chunked verify legs, one content pass for all fullscans
    val rq = (0 until 8).map(i => s"${PagesCorpus.vocab(8 + i)}\\s+\\w+") ++
      Seq("(vector|stream)\\s+\\w+", "ba.a")
    graft.query.RegexQuery.searchBatch(idx, pages, rq, 100) // warm
    val rt = (0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      graft.query.RegexQuery.searchBatch(idx, pages, rq, 100)
      (System.nanoTime() - t0) / 1e6
    }
    val rBest = rt.min
    println(f"[loadtest:batched_regex] queries=${rq.size} rounds=$rounds " +
      f"best_wall=${rBest}%.0fms amortized=${rBest / rq.size}%.1fms/query " +
      f"qps=${rq.size / (rBest / 1000.0)}%.1f")

    // RANKED-heavy regex mix (round 7): bothBound literal patterns now
    // ride the SAME shared postings pass (previously one scoredNaive
    // collect job per ranked pattern); the single-path sum is printed
    // alongside so the amortization is visible in one row
    val kq = (0 until 10).map(i => s" ${PagesCorpus.vocab(40 + i)} ")
    graft.query.RegexQuery.searchBatch(idx, pages, kq, 10) // warm
    kq.foreach(p => graft.query.RegexQuery.search(idx, pages, p, 10).collect())
    val kt = (0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      graft.query.RegexQuery.searchBatch(idx, pages, kq, 10)
      (System.nanoTime() - t0) / 1e6
    }
    val st = (0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      kq.foreach(p => graft.query.RegexQuery.search(idx, pages, p, 10).collect())
      (System.nanoTime() - t0) / 1e6
    }
    println(f"[loadtest:batched_regex_ranked] queries=${kq.size} rounds=$rounds " +
      f"best_wall=${kt.min}%.0fms amortized=${kt.min / kq.size}%.1fms/query " +
      f"single_path_sum=${st.min}%.0fms speedup=${st.min / kt.min}%.1fx")
    spark.stop()
    // ~750 MB of per-run scratch; leaked copies filled /tmp in round 5
    ScalingBench.deleteRecursively(dir)
  }
}
