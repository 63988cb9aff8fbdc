package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointedBuild
import graft.corpus.PagesCorpus
import graft.index.IndexBuilder

/** Every Spark job of a build names its stage: its job description is
  * `graft.build.<stage>`, in a batch build and in a checkpointed resume.
  */
class BuildJobDescriptionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-described-$name").toString

  /** Every description names a build stage; returns the stages named. */
  private def stages(what: String, descriptions: Seq[String]): Set[String] = {
    val bad = descriptions.filterNot(d => d != null && d.startsWith("graft.build."))
    assert(bad.isEmpty, s"$what ran jobs described otherwise: ${bad.mkString(", ")}")
    descriptions.map(_.stripPrefix("graft.build.")).toSet
  }

  test("every job of a batch build and of a one-slice resume names its build stage") {
    val raw = PagesCorpus.pages(spark, 300, parts = 4).toDF()
    val (_, batch) = SparkJobs.descriptions(spark)(
      IndexBuilder.build(spark, IndexBuilder.extractPages(raw), tmp("batch")))
    val dict = Set("docs", "terms", "dims", "blocks")
    assert(stages("a batch build", batch) == Set("extract", "tf") ++ dict)

    // new content for doc 123, in slice 1 of [0, 300) x 4
    val mutated = raw.withColumn("html",
      when(col("doc_id") === 123L, lit("described fresh content".getBytes("UTF-8")))
        .otherwise(col("html")))
    val dir = tmp("resume")
    CheckpointedBuild.build(spark, raw, dir, slices = 4)
    val (_, resume) = SparkJobs.descriptions(spark)(
      CheckpointedBuild.build(spark, mutated, dir, slices = 4))
    assert(stages("a one-slice resume", resume) == Set("fingerprint", "tf") ++ dict)
  }
}
