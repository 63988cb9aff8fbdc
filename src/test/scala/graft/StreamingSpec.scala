package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.checkpoint.CheckpointedBuild
import graft.corpus.PagesCorpus
import graft.index.BuiltIndex
import graft.streaming.IncrementalIndex
import graft.tokenize.Tokenizer

/** Streaming incremental maintenance (reference ST1/ST2 semantics:
  * watcher-driven re-index, append-only, latest state wins); compaction
  * is a checkpointed build of the current pages.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** (term, doc_id, tf) of a compacted index: its tf rows with the
    * dictionary's term strings.
    */
  private def tfOf(ix: BuiltIndex): DataFrame =
    ix.tfRows.select("term_id", "doc_id", "tf")
      .join(ix.terms.select("term_id", "term"), "term_id")
      .select("term", "doc_id", "tf")

  private def committedAt(dir: String): Map[(String, Int), Long] =
    CheckpointedBuild.manifest(spark, dir).collect().map(r =>
      (r.getAs[String]("stage"), r.getAs[Int]("part")) -> r.getAs[Long]("committed_at")).toMap

  test("a stream dir of the old layout fails, naming it, before any job") {
    import spark.implicits._
    Seq("stream_tf", "stream_docs").foreach { table =>
      val idx = Files.createTempDirectory("graft-stream-old").toString
      Seq(("alpha", 1L, 2, 0L)).toDF("term", "doc_id", "tf", "batch")
        .write.parquet(s"$idx/$table/batch=0")
      Seq[(String, () => Any)](
        "currentPages" -> (() => IncrementalIndex.currentPages(spark, idx)),
        "compact" -> (() => IncrementalIndex.compact(spark, idx, s"$idx/compacted"))).foreach {
        case (call, run) =>
          val (e, jobs) = SparkJobs.count(spark)(intercept[IllegalStateException](run()))
          assert(e.getMessage.contains(idx) && e.getMessage.contains(table) &&
            e.getMessage.contains("re-ingested"), s"$call: ${e.getMessage}")
          assert(jobs == 0, call)
      }
    }
  }

  test("incremental stream ingests new files and updates overwrite old state") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-stream-src").toString
    val idx = Files.createTempDirectory("graft-stream-idx").toString
    // every wave compacts into the same directory
    val out = Files.createTempDirectory("graft-stream-compact").toString

    // wave 1: docs 0..49
    val wave1 = PagesCorpus.pages(spark, 50, parts = 2)
      .select("doc_id", "url", "text")
    wave1.write.mode(SaveMode.Overwrite).parquet(s"$src/wave1")
    val schema = wave1.schema

    val q1 = IncrementalIndex.start(spark, s"$src/wave*", idx, schema)
    q1.awaitTermination()

    // the compacted tf triples equal a direct tokenization
    val tf1 = tfOf(IncrementalIndex.compact(spark, idx, out))
    val batchTf1 = wave1.where(graft.extract.Extract.safe(col("text")))
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).cast("int").as("tf"))
    assert(tf1.count() == batchTf1.count())
    assert(tf1.except(batchTf1).isEmpty && batchTf1.except(tf1).isEmpty)
    // read now: the next compaction rewrites the files behind tf1
    val d5a = tf1.where(col("doc_id") === 5).orderBy("term")
      .collect().map(_.toString).toSeq

    // wave 2: docs 50..79 arrive + doc 1 is MODIFIED (new content)
    val wave2 = PagesCorpus.pages(spark, 80, parts = 2)
      .where(col("doc_id") >= 50)
      .select("doc_id", "url", "text")
      .unionAll(Seq((1L, PagesCorpus.url(1),
        "completely new body with replacement tokens only"))
        .toDF("doc_id", "url", "text"))
    wave2.write.mode(SaveMode.Overwrite).parquet(s"$src/wave2")

    val q2 = IncrementalIndex.start(spark, s"$src/wave*", idx, schema)
    q2.awaitTermination()

    // compaction: streamed state -> full serving index, query-identical
    // to a single-node oracle over the SAME latest-wins state
    val served = IncrementalIndex.compact(spark, idx, out)
    val tf2 = tfOf(served)
    // new docs present
    assert(tf2.where(col("doc_id") === 60).count() > 0)
    // modified doc: latest wins — old tokens gone, new tokens present
    val doc1Terms = tf2.where(col("doc_id") === 1)
      .select("term").as[String].collect().toSet
    assert(doc1Terms == Set("completely", "new", "body", "with",
      "replacement", "tokens", "only"))
    // unmodified docs unchanged
    val d5b = tf2.where(col("doc_id") === 5).orderBy("term")
      .collect().map(_.toString).toSeq
    assert(d5a == d5b)
    // docs dimension tracks latest doc_len
    val dl = served.docs.where(col("doc_id") === 1).select("doc_len").head().getLong(0)
    assert(dl == 7L)

    val docsNow = IncrementalIndex.currentPages(spark, idx).count()
    assert(served.stats.num_docs == docsNow)
    val hits = graft.query.Bm25Query
      .searchBlocks(served, "replacement tokens", 10).collect()
    assert(hits.map(_.doc_id).toSeq == Seq(1L))
    // a term from doc 1's OLD body that appears nowhere else must be gone
    val tf2Terms = tf2.where(col("doc_id") === 1).count()
    assert(tf2Terms == 7L)
  }

  test("a re-compaction after one doc changes in a stable docId range re-tokenizes one slice") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-stream-slice").toString
    val out = Files.createTempDirectory("graft-stream-slice-out").toString
    val pages = PagesCorpus.pages(spark, 200, parts = 2).select("doc_id", "url", "text")
    IncrementalIndex.appendBatch(pages, idx, 0L)
    IncrementalIndex.compact(spark, idx, out, blockBits = 6)
    val before = committedAt(out)
    val text51 = IncrementalIndex.currentPages(spark, idx).where(col("doc_id") === 51)
      .select("text").as[String].head()

    // doc 50 changes; doc 51's update fails the safety gate (a NUL
    // byte), so its prior version stays current; both are in slice 2
    // of 8 over [0, 200)
    IncrementalIndex.appendBatch(Seq(
        (50L, PagesCorpus.url(50), "completely new body with replacement tokens only"),
        (51L, PagesCorpus.url(51), "binary\u0000payload"))
      .toDF("doc_id", "url", "text"), idx, 1L)
    val current = IncrementalIndex.currentPages(spark, idx)
    assert(current.where(col("doc_id") === 51).select("text").as[String].head() == text51)
    val compacted = IncrementalIndex.compact(spark, idx, out, blockBits = 6)

    val reconcile = CheckpointedBuild.manifest(spark, out).where(col("stage") === "reconcile")
      .select("lineage").as[String].collect().toSeq
    assert(reconcile == Seq("valid=7 stale=1 removed=0"))
    val after = committedAt(out)
    (0 until 8).foreach { p =>
      assert((after(("tf", p)) == before(("tf", p))) == (p != 2), s"tf slice $p")
    }
    assert(graft.query.Bm25Query.searchBlocks(compacted, "replacement tokens", 10)
      .collect().map(_.doc_id).toSeq == Seq(50L))

    // the result equals a fresh checkpointed build of the same pages
    val freshDir = Files.createTempDirectory("graft-stream-slice-fresh").toString
    val fresh = CheckpointedBuild.build(spark, current, freshDir, blockBits = 6)
    def blocks(ix: BuiltIndex): Seq[String] = spark.read.parquet(s"${ix.path}/blocks")
      .select(col("term_id"), col("block_id"), col("n"), hex(col("docs_enc")),
        hex(col("impacts_enc")), col("block_max"))
      .collect().map(_.toString).sorted.toSeq
    def terms(ix: BuiltIndex): Seq[String] = ix.terms.select("term_id", "term", "df", "idf")
      .collect().map(_.toString).sorted.toSeq
    assert(blocks(compacted).nonEmpty && blocks(compacted) == blocks(fresh))
    assert(terms(compacted) == terms(fresh))
    assert(compacted.stats == fresh.stats)
  }
}
