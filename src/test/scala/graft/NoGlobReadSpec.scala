package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.checkpoint.CheckpointedBuild
import graft.corpus.PagesCorpus
import graft.streaming.IncrementalIndex

/** A checkpointed build, its resume and a streamed index's compaction
  * read their units through explicit path lists. A glob path makes Spark probe it for a streaming-sink
  * metadata directory, and the probe logs a `FileNotFoundException` at
  * WARN ("Assume no metadata directory") on every such read.
  */
class NoGlobReadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** The WARN messages Spark's metadata probe logs while `f` runs. */
  private def probeWarnings(f: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink").asInstanceOf[Logger]
    val seen = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("metadata-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try f finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    seen.asScala.toSeq.filter(_.contains("Assume no metadata directory"))
  }

  test("a 3-slice checkpointed build and its resume log no metadata-probe WARN") {
    val dir = Files.createTempDirectory("graft-noglob").toString
    val raw = PagesCorpus.pages(spark, 200L, parts = 2).toDF()
    val warned = probeWarnings {
      CheckpointedBuild.build(spark, raw, dir, slices = 3)
      CheckpointedBuild.build(spark, raw, dir, slices = 3)
      CheckpointedBuild.manifest(spark, dir).collect()
    }
    assert(warned.isEmpty, warned.mkString("\n"))
    // the probe is what a glob read of the same units logs
    val glob = probeWarnings(spark.read.parquet(s"$dir/docs_raw/slice=*").collect())
    assert(glob.nonEmpty)
  }

  test("streamed batches and their compaction log no metadata-probe WARN") {
    val dir = Files.createTempDirectory("graft-noglob-stream").toString
    val pages = PagesCorpus.pages(spark, 60L, parts = 2).select("doc_id", "url", "text")
    val warned = probeWarnings {
      IncrementalIndex.appendBatch(pages.where("doc_id < 40"), dir, 0L)
      IncrementalIndex.appendBatch(pages.where("doc_id >= 30"), dir, 1L)
      val ix = IncrementalIndex.compact(spark, dir, s"$dir/compacted")
      assert(ix.stats.num_docs == IncrementalIndex.currentPages(spark, dir).count())
    }
    assert(warned.isEmpty, warned.mkString("\n"))
  }
}
