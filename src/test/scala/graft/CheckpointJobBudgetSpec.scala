package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** The Spark jobs `f` starts, counted by a job group unique to this
    * call, so jobs of suites running alongside are not counted.
    */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger
    val fenceSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenceSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job budget")
      val r = try f finally sc.clearJobGroup()
      // the listener bus delivers events in order: once the fence job's
      // start arrives, every job of `f` has been counted
      sc.setJobGroup(fence, "job budget fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenceSeen.await(60, TimeUnit.SECONDS), "listener events did not arrive")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

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
