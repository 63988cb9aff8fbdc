package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkListeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.storage.StorageLevel

import graft.checkpoint.DriverParquet
import graft.corpus.PagesCorpus
import graft.index.IndexBuilder
import graft.query.{BucketFiles, Bm25Query, HotTier}

/** Serving reads the blocks through one reader, [[graft.query.BucketFiles]]:
  * bucket i is the blocks files whose names carry Spark's bucket id i. A
  * file it cannot place fails the first serving read, hot and cold, naming
  * the file; a file named for another bucket than its rows' fails the
  * bucket check of `HotPartition`. A hot tier lost from memory is
  * recomputed from the files. The rows a task reads count as its input.
  */
class BucketFilesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val numBuckets = 4
  private val headOr = (0 until 20).map(PagesCorpus.vocab).mkString(" ")

  /** A freshly built index directory of 4 buckets. */
  private lazy val built: Path = {
    val dir = Files.createTempDirectory("graft-bucket-files")
    IndexBuilder.build(spark, IndexBuilder.extractPages(
      PagesCorpus.pages(spark, 300, parts = 4).toDF()), dir.toString,
      blockBits = 5, numBuckets = numBuckets)
    dir
  }

  /** A copy of the built index whose blocks directory `edit` changed. */
  private def copyWith(edit: Path => Unit): String = {
    val dir = Files.createTempDirectory("graft-bucket-files-edited")
    val files = Files.walk(built)
    try files.forEach { p =>
      val to = dir.resolve(built.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally files.close()
    edit(dir.resolve("blocks"))
    dir.toString
  }

  /** A data file of bucket `b` of `blocks` (not its hidden checksum file). */
  private def fileOf(blocks: Path, b: Int): Path =
    DriverParquet.list(blocks).map(_.getFileName.toString).sorted.find(f =>
      !DriverParquet.hidden(f) && BucketingUtils.getBucketId(f).contains(b)).map(blocks.resolve).get

  /** `f`'s name with bucket id `b`. */
  private def renamed(f: Path, b: Int): String =
    f.getFileName.toString.replaceFirst("_\\d+(\\..*)?$", f"_$b%05d$$1")

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq

  /** Opening `dir` hot, and a query on it cold, each fail with a message
    * that contains every one of `wants`; the failed hot open leaves no
    * tier listener registered and no tier persisted.
    */
  private def failsHotAndCold(dir: String, wants: String*): Unit = {
    def check(mode: String, e: Throwable): Unit = assert(
      messages(e).exists(m => wants.forall(m.contains)), s"$mode: ${messages(e).mkString(" | ")}")
    val sc = spark.sparkContext
    def listeners = SparkListeners.ofClass[HotTier](sc).size
    def tiers = sc.getPersistentRDDs.collect {
      case (id, r) if r.toDebugString.contains("BucketFiles") => id
    }.toSet
    val (listenersBefore, tiersBefore) = (listeners, tiers)
    check("hot", intercept[Exception](IndexBuilder.load(spark, dir).cacheHot()))
    assert(listeners == listenersBefore, "a failed cacheHot() left its HotTier listener registered")
    assert(tiers == tiersBefore, "a failed cacheHot() left its tier persisted")
    check("cold", intercept[Exception](Bm25Query.searchBlocks(
      IndexBuilder.load(spark, dir).cacheDictionary(), headOr, 10, conjunctive = false).collect()))
  }

  test("a blocks file whose name carries no bucket id fails the first serving read, naming it") {
    val dir = copyWith(blocks => Files.copy(fileOf(blocks, 1), blocks.resolve("part-extra.zstd.parquet")))
    failsHotAndCold(dir, "/blocks/part-extra.zstd.parquet ", "carries bucket id none")
  }

  test("a blocks file whose bucket id is past the index's buckets fails the first serving read, naming it") {
    var name = ""
    val dir = copyWith { blocks =>
      val f = fileOf(blocks, 1)
      name = renamed(f, numBuckets)
      Files.move(f, blocks.resolve(name))
    }
    failsHotAndCold(dir, s"/blocks/$name ", s"carries bucket id $numBuckets")
  }

  test("a blocks file named for another bucket fails the bucket check") {
    val dir = copyWith { blocks =>
      val f = fileOf(blocks, 1)
      Files.move(f, blocks.resolve("moved-" + renamed(f, 2)))
    }
    failsHotAndCold(dir, "blocks bucket 2 holds block")
  }

  test("a hot tier that lost its cached partitions recomputes them from the bucket files") {
    val hot = IndexBuilder.load(spark, built.toString).cacheHot().cacheDictionary()
    val rdd = hot.hotTier.get.rdd
    assert(rdd.toDebugString.contains("BucketFiles"), rdd.toDebugString)
    def contents = rdd.map(p => (p.rows.map(r => (r.term_id, r.block_id, r.n, r.block_max)).toSeq,
      p.docIds.toSeq, p.urls.toSeq)).collect().toSeq
    val before = contents
    val want = Bm25Query.searchBlocks(hot, headOr, 10, conjunctive = false).collect().toSeq
    assert(before.exists(_._1.nonEmpty) && want.nonEmpty)
    // the cached partitions are gone, as with a lost executor, and the
    // tier stays persisted: the next job recomputes them from the files
    rdd.unpersist(blocking = true)
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    assert(contents == before)
    assert(Bm25Query.searchBlocks(hot, headOr, 10, conjunctive = false).collect().toSeq == want)
  }

  test("a cold query's scoring job counts the bucket rows it read as its input") {
    import spark.implicits._
    val sc = spark.sparkContext
    val ix = IndexBuilder.load(spark, built.toString).cacheDictionary()
    val recordsRead = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        recordsRead.put(e.stageInfo.stageId, e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    val (_, jobs) = try SparkJobs.jobs(spark)(
      Bm25Query.searchBlocks(ix, headOr, 10, conjunctive = false).collect())
    finally sc.removeSparkListener(listener)
    val wand = jobs.filter(_.properties.getProperty("spark.job.description") == "graft.query.wand")
    assert(wand.size == 1)
    val ids = ix.terms.where(col("term").isin(headOr.split(" "): _*))
      .select("term_id").as[Long].collect().toSeq
    val rows = new BucketFiles(ix, Some(ids)).count()
    assert(rows > 0)
    assert(wand.head.stageIds.map(recordsRead.get).sum == rows)
  }
}
