package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkEnv

import graft.corpus.PagesCorpus
import graft.index.IndexBuilder
import graft.query.{BatchPlanned, Bm25Query, HotServing, ImpactReader}

/** What a hot query ships to each task: the resident partitions' lineage
  * and the job function, serialized once per job as the task binary.
  */
class HotTaskBinarySpec extends AnyFunSuite {

  test("a hot single query's serialized task binary is at most 8 KB") {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("graft-task-binary").toString
    IndexBuilder.build(spark, IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 200, parts = 2).toDF()), dir, blockBits = 5, numBuckets = 4)
    val hot = IndexBuilder.load(spark, dir).cacheHot().cacheDictionary()
    val a = Bm25Query.analyze(hot, s"${PagesCorpus.vocab(3)} ${PagesCorpus.vocab(40)}")
    assert(a.terms.nonEmpty)
    val chunk = Array(BatchPlanned(a.terms.map(_.term_id).toArray, a.terms.map(_.idf).toArray,
      conjunctive = true, Nil, Nil, boosted = false))
    // serialized as the DAGScheduler serializes a result stage's binary
    val binary = SparkEnv.get.closureSerializer.newInstance().serialize(
      (hot.hotPartitions.get, HotServing.scoreJob(chunk, 10, ImpactReader(hot))): AnyRef)
    info(s"task binary: ${binary.limit()} bytes")
    assert(binary.limit() <= 8 * 1024)
  }
}
