package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointedBuild
import graft.corpus.PagesCorpus
import graft.query.Bm25Query

/** Spark-job budget of `CheckpointedBuild.build`: checkpoint bookkeeping
  * (manifest rows, config check, slice triage, read-back schemas, stats
  * of the returned index) runs no Spark job, so a resume pays jobs only
  * for the units it recomputes.
  */
class CheckpointJobBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val n = 300L

  private def jobsOf[A](f: => A): (A, Int) = SparkJobs.count(spark)(f)

  private def top(ix: graft.index.BuiltIndex, q: String): Seq[(Long, Double)] =
    Bm25Query.searchBlocks(ix, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq

  test("no-op resume of a 4-slice checkpoint runs at most 5 Spark jobs") {
    val dir = Files.createTempDirectory("graft-budget-noop").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    val full = CheckpointedBuild.build(spark, raw, dir, slices = 4)
    val (ix, jobs) = jobsOf(CheckpointedBuild.build(spark, raw, dir, slices = 4))
    info(s"no-op resume: $jobs Spark jobs")
    assert(jobs <= 5, s"no-op resume ran $jobs Spark jobs")
    // the returned index is complete: stats and blocks metadata preset
    assert(ix.stats == full.stats)
    assert(ix.blocksMeta == full.blocksMeta)
    assert(top(ix, PagesCorpus.vocab(2)) == top(full, PagesCorpus.vocab(2)))
  }

  test("resume after one slice changes runs at most half the jobs it used to") {
    val dir = Files.createTempDirectory("graft-budget-stale").toString
    val fresh = Files.createTempDirectory("graft-budget-fresh").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    CheckpointedBuild.build(spark, raw, dir, slices = 4)
    // doc 123 lives in slice 1 of [0, 300) x 4
    val mutated = raw.withColumn("html",
      when(col("doc_id") === 123L,
        lit("budgetmutation fresh content".getBytes("UTF-8")))
        .otherwise(col("html")))
    val (ix, jobs) = jobsOf(CheckpointedBuild.build(spark, mutated, dir, slices = 4))
    // 95 jobs while each manifest row, config check, triage lookup and
    // read-back schema ran Spark jobs of its own (same scenario and
    // session: local[4], 8 shuffle partitions, AQE on)
    info(s"resume after one changed slice: $jobs Spark jobs")
    assert(jobs <= 95 / 2, s"resume after one changed slice ran $jobs Spark jobs")
    val want = CheckpointedBuild.build(spark, mutated, fresh, slices = 4)
    assert(ix.stats == want.stats)
    assert(top(ix, "budgetmutation") == Seq((123L, top(want, "budgetmutation").head._2)))
    assert(top(ix, PagesCorpus.vocab(3)) == top(want, PagesCorpus.vocab(3)))
  }
}
