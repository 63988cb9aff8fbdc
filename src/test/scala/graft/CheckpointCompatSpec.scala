package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._

import graft.checkpoint.{CheckpointedBuild, DriverParquet, ManifestRow}
import graft.corpus.PagesCorpus
import graft.index.{IndexBuilder, IndexStats}
import graft.query.Bm25Query

/** The driver-written manifest stays compatible both ways: checkpoints
  * whose rows came from Spark's writer resume, Spark reads the rows this
  * build writes, and the rows themselves are unchanged.
  */
class CheckpointCompatSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val n = 300L

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-compat-$name").toString

  private def commits(dir: String, stage: String): Map[Int, Long] =
    CheckpointedBuild.manifest(spark, dir).where(col("stage") === stage)
      .collect().map(r => r.getAs[Int]("part") -> r.getAs[Long]("committed_at")).toMap

  private def reconcile(dir: String): String =
    CheckpointedBuild.manifest(spark, dir).where(col("stage") === "reconcile")
      .collect().map(_.getAs[String]("lineage")).mkString("|")

  private def canon(dir: String, table: String, cols: Seq[String]): Seq[String] =
    spark.read.parquet(s"$dir/$table").select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  private def parquetSchema(dir: String): MessageType = {
    val f = Files.list(Paths.get(dir))
    val file = try f.iterator().asScala
      .find(p => !DriverParquet.hidden(p.getFileName.toString)).get
    finally f.close()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file.toUri), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  test("manifest rows written by Spark's writer resume; a tf row without " +
      "a fingerprint column triages stale") {
    import spark.implicits._
    val dir = tmp("spark-rows")
    val fresh = tmp("spark-rows-fresh")
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    CheckpointedBuild.build(spark, raw, dir, slices = 4)
    // rewrite every row the way earlier builds committed it
    // (Seq(row).toDS().write); tf_3 as a row from before fingerprints
    CheckpointedBuild.manifest(spark, dir).as[ManifestRow].collect().foreach { m =>
      val ds = Seq(m).toDS().toDF()
      (if (m.stage == "tf" && m.part == 3) ds.drop("fingerprint") else ds)
        .write.mode("overwrite").parquet(s"$dir/manifest/${m.stage}_${m.part}")
    }
    assert(!spark.read.parquet(s"$dir/manifest/tf_3").columns.contains("fingerprint"))
    val before = commits(dir, "tf")

    val idx = CheckpointedBuild.build(spark, raw, dir, slices = 4)
    val after = commits(dir, "tf")
    (0 until 3).foreach(p => assert(after(p) == before(p), s"valid slice $p rebuilt"))
    assert(after(3) != before(3), "a tf row without fingerprint must be rebuilt")
    assert(reconcile(dir) == "valid=3 stale=1 removed=0")

    val want = CheckpointedBuild.build(spark, raw, fresh, slices = 4)
    Seq("docs" -> Seq("doc_id", "url", "doc_len"),
        "terms" -> Seq("term_id", "term", "df", "idf"),
        "postings" -> Seq("term_id", "doc_id", "impact"),
        "blocks" -> Seq("term_id", "block_id", "n", "block_max"))
      .foreach { case (t, cols) => assert(canon(dir, t, cols) == canon(fresh, t, cols), t) }
    assert(idx.stats == want.stats)
    val q = PagesCorpus.vocab(2)
    assert(Bm25Query.searchBlocks(idx, q, 10).collect().toSeq ==
      Bm25Query.searchBlocks(want, q, 10).collect().toSeq)
  }

  test("a leftover hidden temp file under manifest/ is ignored") {
    val dir = tmp("leftover")
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    CheckpointedBuild.build(spark, raw, dir, slices = 4)
    // what a crash between the temp write and its rename leaves behind,
    // here with a row that would make slice 0 stale if it were read
    val leftover = s"$dir/manifest/.tf_0-leftover.tmp"
    DriverParquet.write(spark, Paths.get(leftover), Encoders.product[ManifestRow].schema,
      Seq(Row.fromTuple(ManifestRow("tf", 0, 999L, 0L, "bogus", 0L, "bogus"))))
    val before = commits(dir, "tf")
    assert(!CheckpointedBuild.manifest(spark, dir).collect()
      .exists(_.getAs[String]("lineage") == "bogus"))

    CheckpointedBuild.build(spark, raw, dir, slices = 4)
    assert(commits(dir, "tf") == before)
    assert(reconcile(dir) == "valid=4 stale=0 removed=0")
    assert(Files.exists(Paths.get(leftover)))
    assert(!CheckpointedBuild.manifest(spark, dir).collect()
      .exists(_.getAs[String]("lineage") == "bogus"))
  }

  test("manifest rows match those of the Spark-writer builds, file schema included") {
    import spark.implicits._
    val dir = tmp("golden")
    CheckpointedBuild.build(spark, PagesCorpus.pages(spark, 100L, parts = 2).toDF(),
      dir, slices = 2)
    val got = CheckpointedBuild.manifest(spark, dir).collect().map(r =>
      (r.getAs[String]("stage"), r.getAs[Int]("part"), r.getAs[Long]("rows"),
        r.getAs[String]("lineage"), r.getAs[String]("fingerprint"))).toSet
    // the same 100-doc, 2-slice build with every row written by Spark's
    // writer (update when the tokenizer, extractor or corpus change)
    val want = Set(
      ("blocks", 0, 1993L, "blocks_enc/unit=*", ""),
      ("blocks_enc", 0, 1993L, "tf:doc_id:[0,8192)+terms", ""),
      ("config", 0, 0L, "tok=1;extract=6;bm25=1.2,0.75;blockBits=13;tfSchema=3", ""),
      ("docs", 0, 100L, "tf/slice=*", ""),
      ("postings", 0, 11227L, "tf/slice=0+terms", ""),
      ("postings", 1, 11269L, "tf/slice=1+terms", ""),
      ("stats", 0, 1L, "docs+terms+postings", ""),
      ("terms", 0, 1993L, "terms_part/slice=*", ""),
      ("terms_part", 0, 1844L, "tf/slice=0", ""),
      ("terms_part", 1, 1845L, "tf/slice=1", ""),
      ("tf", 0, 11227L, "doc_id:[0,50)", "d2c2ac7ee7e617c2"),
      ("tf", 1, 11269L, "doc_id:[50,100)", "8ae3ab0856fb646"))
    assert(got == want)

    // a driver-written row has the parquet schema Spark's writer gives it
    val m = spark.read.parquet(s"$dir/manifest/tf_0").as[ManifestRow].head()
    val viaSpark = tmp("golden-spark")
    Seq(m).toDS().write.mode("overwrite").parquet(viaSpark)
    assert(parquetSchema(s"$dir/manifest/tf_0") == parquetSchema(viaSpark))
    assert(spark.read.parquet(viaSpark).as[ManifestRow].head() == m)
    assert(CheckpointedBuild.manifest(spark, dir).schema == CheckpointedBuild.ManifestSchema)
    // and so has the driver-written stats row
    val st = spark.read.parquet(s"$dir/stats").as[IndexStats].head()
    val statsViaSpark = tmp("golden-stats")
    Seq(st).toDS().write.mode("overwrite").parquet(statsViaSpark)
    assert(parquetSchema(s"$dir/stats") == parquetSchema(statsViaSpark))
  }

  test("pinned terms schema is the schema both builds write") {
    val ck = tmp("terms-ck")
    val batch = tmp("terms-batch")
    val raw = PagesCorpus.pages(spark, 100L, parts = 2).toDF()
    CheckpointedBuild.build(spark, raw, ck, slices = 2)
    IndexBuilder.build(spark, IndexBuilder.extractPages(raw), batch)
    Seq(ck, batch).foreach(d =>
      assert(spark.read.parquet(s"$d/terms").schema == IndexBuilder.TermsSchema))
  }

  test("resumed index presets the stats and blocks metadata on disk") {
    val dir = tmp("preset")
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    CheckpointedBuild.build(spark, raw, dir, slices = 4, blockBits = 7)
    val resumed = CheckpointedBuild.build(spark, raw, dir, slices = 4, blockBits = 7)
    val loaded = IndexBuilder.load(spark, dir)
    assert(resumed.stats == loaded.stats)
    assert(resumed.blocksMeta == loaded.blocksMeta)
    assert(resumed.blocksMeta.map(_._2).contains(7))
    assert(resumed.impactCodec == loaded.impactCodec)
  }
}
