package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.DriverBroadcasts
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.checkpoint.{BuildSpine, CheckpointedBuild, DriverParquet, TfInput}
import graft.corpus.PagesCorpus
import graft.index.{BuiltIndex, IndexBuilder, IndexStats, LongDoubleMap}
import graft.query.{BatchQuery, Bm25Query}
import graft.streaming.IncrementalIndex

/** Every build mode runs one stage runner: the batch build, a compacted
  * stream of the same pages and checkpointed builds at one and three
  * slices write the same index and one manifest row per stage unit; the one-row
  * tables are written and read on the driver; a build and cold queries
  * leave no broadcast behind.
  */
class BuildSpineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val raw = PagesCorpus.pages(spark, 300, parts = 4).toDF()

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-spine-$name").toString

  private def canon(dir: String, table: String, cols: String*): Seq[String] =
    spark.read.parquet(s"$dir/$table").select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  /** The postings decoded from the blocks of the index at `dir`. */
  private def postingsOf(dir: String): Seq[String] =
    IndexBuilder.load(spark, dir).postings.collect().map(_.toString).sorted.toSeq

  private def blocksBytes(dir: String) =
    spark.read.parquet(s"$dir/blocks").collect().map { r =>
      (r.getAs[Long]("term_id"), r.getAs[Long]("block_id")) ->
        ((r.getAs[Int]("n"), r.getAs[Array[Byte]]("docs_enc").toSeq,
          r.getAs[Array[Byte]]("impacts_enc").toSeq, r.getAs[Double]("block_max")))
    }.toMap

  private def units(dir: String): Set[(String, Int)] =
    CheckpointedBuild.manifest(spark, dir).collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Int]("part"))).toSet

  private def parquetSchema(dir: String): MessageType = {
    val f = Files.list(Paths.get(dir))
    val file = try f.iterator().asScala
      .find(p => !DriverParquet.hidden(p.getFileName.toString)).get
    finally f.close()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file.toUri), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  private lazy val batchDir = {
    val d = tmp("batch")
    IndexBuilder.build(spark, IndexBuilder.extractPages(raw), d, blockBits = 6)
    d
  }

  test("batch, compacted, 1- and 3-slice checkpointed builds write the same index") {
    val batch = IndexBuilder.load(spark, batchDir)
    val stream = tmp("stream")
    IncrementalIndex.appendBatch(raw, stream, 0L)
    val compacted = tmp("compacted")
    IncrementalIndex.compact(spark, stream, compacted, blockBits = 6)
    val ck1 = tmp("ck1")
    CheckpointedBuild.build(spark, raw, ck1, slices = 1, blockBits = 6)
    val ck3 = tmp("ck3")
    CheckpointedBuild.build(spark, raw, ck3, slices = 3, blockBits = 6)

    val want = blocksBytes(batchDir)
    assert(want.nonEmpty)
    Seq(compacted, ck1, ck3).foreach { d =>
      assert(canon(d, "docs", "doc_id", "url", "doc_len") ==
        canon(batchDir, "docs", "doc_id", "url", "doc_len"), d)
      assert(canon(d, "terms", "term_id", "term", "df", "idf") ==
        canon(batchDir, "terms", "term_id", "term", "df", "idf"), d)
      assert(postingsOf(d) == postingsOf(batchDir), d)
      assert(IndexBuilder.load(spark, d).stats == batch.stats, d)
      assert(blocksBytes(d) == want, d)
    }

    // one manifest row per stage unit
    val spine = Set("docs", "terms", "dims", "blocks", "stats").map(_ -> 0)
    assert(units(batchDir) == spine + ("tf" -> 0))
    // a compaction is a checkpointed build of the default 8 slices; tf is
    // the one per-unit stage
    assert(units(compacted) == spine + ("config" -> 0) ++ (0 until 8).map("tf" -> _))
    assert(units(ck1) == spine ++ Set("tf", "config").map(_ -> 0))
    assert(units(ck3) == spine + ("config" -> 0) ++ (0 until 3).map("tf" -> _))
    // blocks are the one posting layout
    Seq(batchDir, compacted, ck1, ck3).foreach(d => assert(!Files.exists(Paths.get(d, "postings")), d))
  }

  test("a term_id shared by two terms fails the collision guard and commits no terms") {
    import spark.implicits._
    val dir = tmp("collision")
    // tf rows as the tokenizer writes them (each term's string at its
    // first row), but "alpha" and "beta" both carry term_id 7
    val tf = Seq[(String, Long, Long, Int, Int)](("alpha", 7L, 0L, 1, 2), ("gamma", 9L, 0L, 1, 2),
      ("beta", 7L, 1L, 2, 2)).toDF("term", "term_id", "doc_id", "tf", "doc_len")
    val docs = Seq((0L, "https://a.example/0"), (1L, "https://a.example/1")).toDF("doc_id", "url")
    val e = intercept[IllegalArgumentException](
      new BuildSpine(spark, dir).run(TfInput(tf, "tf"), docs))
    assert(e.getMessage.contains("term_id (xxhash64) collision in dictionary"), e.getMessage)
    assert(!CheckpointedBuild.isCommitted(s"$dir/terms"))
  }

  test("an empty input builds the same empty index in every front end") {
    val empty = raw.limit(0)
    val built = Seq(
      IndexBuilder.build(spark, IndexBuilder.extractPages(empty), tmp("empty-batch"), blockBits = 6),
      CheckpointedBuild.build(spark, empty, tmp("empty-ck"), slices = 3, blockBits = 6),
      // a stream with no batch yet
      IncrementalIndex.compact(spark, tmp("empty-stream"), tmp("empty-compacted"), blockBits = 6))
    val q = s"${PagesCorpus.vocab(2)} ${PagesCorpus.vocab(7)}"
    built.foreach { ix =>
      assert(ix.stats == IndexStats(0L, 0L, 0.0, 0L, 0L), ix.path)
      val cold = IndexBuilder.load(spark, ix.path)
      val hot = IndexBuilder.load(spark, ix.path).cacheHot().cacheDictionary()
      // a query of two terms and a short one (every doc, unranked)
      for (i <- Seq(cold, hot); query <- Seq(q, "ab"))
        assert(Bm25Query.searchBlocks(i, query, 10).collect().isEmpty, s"${ix.path} $query")
    }
  }

  test("a batch index keeps its pages and today's table columns") {
    val ix = IndexBuilder.load(spark, batchDir)
    assert(spark.read.parquet(s"$batchDir/pages").columns.toSeq == Seq("doc_id", "url", "text"))
    assert(ix.docs.columns.toSeq == Seq("doc_id", "url", "doc_len"))
    assert(ix.terms.columns.toSeq == Seq("term", "df", "term_id", "idf"))
    assert(ix.postings.columns.toSeq == Seq("term_id", "doc_id", "impact"))
    assert(ix.blockFiles.columns.toSeq ==
      Seq("term_id", "block_id", "n", "docs_enc", "impacts_enc", "block_max"))
    assert(spark.read.parquet(s"$batchDir/stats").columns.toSeq ==
      Seq("num_docs", "total_tokens", "avgdl", "num_terms", "num_postings"))
    assert(ix.tfRows.columns.toSeq == Seq("term_id", "doc_id", "tf", "doc_len"))
    // tf is read back from the blocks: the build deletes its tf table; no
    // build keeps dictionary partials, and dims commits into terms_rev
    Seq("tf", "terms_part", "dims", "blocks_enc").foreach(t =>
      assert(!Files.exists(Paths.get(batchDir, t)), t))
  }

  test("driver-written stats and blocks_meta have the parquet schema of Spark's writer") {
    import spark.implicits._
    val st = spark.read.parquet(s"$batchDir/stats").as[IndexStats].head()
    val statsViaSpark = tmp("stats-spark")
    Seq(st).toDS().write.mode("overwrite").parquet(statsViaSpark)
    assert(parquetSchema(s"$batchDir/stats") == parquetSchema(statsViaSpark))
    val meta = spark.read.parquet(s"$batchDir/blocks_meta")
      .as[(Int, Int, String)].head()
    val metaViaSpark = tmp("meta-spark")
    Seq(meta).toDF("num_buckets", "block_bits", "impact_codec")
      .coalesce(1).write.mode("overwrite").parquet(metaViaSpark)
    assert(parquetSchema(s"$batchDir/blocks_meta") == parquetSchema(metaViaSpark))
    assert(meta == ((8, 6, "tfdl")))
  }

  /** A copy of the batch index, changed by `damage`. */
  private def damaged(name: String)(damage: String => Unit): String = {
    val dir = tmp(name)
    val src = Paths.get(batchDir)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val to = Paths.get(dir).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    damage(dir)
    dir
  }

  /** Loading `dir` fails on the driver, naming the path and the rebuild. */
  private def refused(dir: String): Unit = {
    val (e, jobs) = SparkJobs.count(spark)(
      intercept[IllegalStateException](IndexBuilder.load(spark, dir)))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("rebuilt"), e.getMessage)
    assert(jobs == 0)
  }

  test("a missing or unreadable blocks_meta fails the load before any job") {
    refused(damaged("no-meta")(d => DriverParquet.remove(Paths.get(d, "blocks_meta"))))
    refused(damaged("bad-meta") { d =>
      val file = DriverParquet.list(Paths.get(d, "blocks_meta"))
        .find(p => !DriverParquet.hidden(p.getFileName.toString)).get
      Files.write(file, "not parquet".getBytes("UTF-8"))
    })
    // a path the driver-side reads cannot see is refused too
    Seq("hdfs://namenode/idx", s"file:$batchDir").foreach { p =>
      intercept[IllegalArgumentException](IndexBuilder.load(spark, p))
    }
  }

  test("a blocks_meta row with a null codec fails the load before any job") {
    // a null codec, the f64 impact doubles and the q8 quantized impacts of
    // older builds, an unknown one
    Seq("null-codec" -> null, "f64-codec" -> "f64", "q8-codec" -> "q8",
        "unknown-codec" -> "zz9").foreach {
      case (name, codec) => refused(damaged(name) { d =>
        DriverParquet.writeTable(spark, Paths.get(d, "blocks_meta"), BuiltIndex.BlocksMetaSchema,
          Row(8, 6, codec))
      })
    }
  }

  test("a batch index with a leftover tf table loads and decodes its tf from the blocks") {
    val tfOf = (ix: BuiltIndex) => ix.tfRows.collect().map(_.toString).sorted.toSeq
    val batch = IndexBuilder.load(spark, batchDir)
    // a tf table of other rows, as an older build or a crashed one leaves
    val dir = damaged("leftover-tf")(d => IndexBuilder.termFrequencies(
      spark.read.parquet(s"$d/pages").where(col("doc_id") < 50)).write.parquet(s"$d/tf"))
    val ix = IndexBuilder.load(spark, dir)
    assert(tfOf(ix) == tfOf(batch))
    assert(tfOf(ix).size.toLong == batch.stats.num_postings)
    val q = s"${PagesCorpus.vocab(2)} ${PagesCorpus.vocab(7)}"
    assert(Bm25Query.searchBlocks(ix, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq ==
      Bm25Query.searchBlocks(batch, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq)
  }

  test("an index without terms_rev fails the load before any job") {
    refused(damaged("no-terms-rev")(d => DriverParquet.remove(Paths.get(d, "terms_rev"))))
  }

  test("a build and cold boosted and filtered queries leave no broadcast behind") {
    val ours: Any => Boolean = {
      case _: LongDoubleMap | _: Array[Long] | _: Array[Double] => true
      case _ => false
    }
    def settled(start: Int): Boolean = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (DriverBroadcasts.count(ours) > start && System.nanoTime() < deadline)
        Thread.sleep(20)
      DriverBroadcasts.count(ours) <= start
    }
    val start = DriverBroadcasts.count(ours)
    val dir = tmp("broadcasts")
    val ix = IndexBuilder.build(spark, IndexBuilder.extractPages(raw), dir, blockBits = 6)
    assert(settled(start), "the build left its idf broadcast")
    val rank = ix.docs.select(col("doc_id"),
      (lit(1.0) + (col("doc_id") % 7).cast("double") * 0.25).as("static_rank"))
    val w = PagesCorpus.vocab
    (0 until 5).foreach { i =>
      Bm25Query.searchBlocksBoosted(ix, s"${w(2 + i)} ${w(7)}", 10, rank).collect()
      Bm25Query.searchBlocksBatchEx(ix, Seq(BatchQuery(s"${w(2 + i)} ${w(7)}",
        include = Seq(s"https://site-0${i}*.example/**"))), 10)
    }
    assert(settled(start), "cold queries left their boost or filter broadcasts")
  }
}
