package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.CheckpointedBuild
import graft.corpus.PagesCorpus
import graft.index.{BuiltIndex, IndexBuilder}
import graft.streaming.IncrementalIndex

/** An index returned by a build reads `docs`, `terms`, `terms_rev` and
  * `terms_ngrams` with the schemas its writer used: touching them starts
  * no footer-inference job, and each schema is what Spark infers from
  * the files.
  */
class PresetSchemaSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val raw = PagesCorpus.pages(spark, 120, parts = 2).toDF()

  private val tables = Seq("docs", "terms", "terms_rev", "terms_ngrams")

  private def schemas(ix: BuiltIndex) =
    Seq(ix.docs, ix.terms, ix.termsRev, ix.termsNgrams).map(_.schema)

  private def assertPreset(ix: BuiltIndex): Unit = {
    val (got, jobs) = SparkJobs.count(spark)(schemas(ix))
    assert(jobs == 0, s"touching the tables ran $jobs Spark jobs")
    tables.zip(got).foreach { case (t, s) =>
      assert(s == spark.read.parquet(s"${ix.path}/$t").schema, t)
    }
  }

  test("batch build") {
    val dir = Files.createTempDirectory("graft-preset-batch").toString
    assertPreset(IndexBuilder.build(spark, IndexBuilder.extractPages(raw), dir))
  }

  test("checkpointed build") {
    val dir = Files.createTempDirectory("graft-preset-ck").toString
    assertPreset(CheckpointedBuild.build(spark, raw, dir, slices = 2))
  }

  test("compacted stream") {
    val idx = Files.createTempDirectory("graft-preset-stream").toString
    val out = Files.createTempDirectory("graft-preset-compact").toString
    IncrementalIndex.appendBatch(raw, idx, 0L)
    assertPreset(IncrementalIndex.compact(spark, idx, out))
  }
}
