package graft

import java.nio.file.Files

import scala.reflect.runtime.universe.TypeTag

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.{SparkClosures, SparkException, TaskContext}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.corpus.PagesCorpus
import graft.index.{BuiltIndex, IndexBuilder}
import graft.query._

/** What one serving call hands Spark: named task functions that Spark's
  * closure cleaner returns from at once, jobs that name their query layer,
  * and result Datasets equal to `createDataset`'s. One index directory is
  * opened hot (`cacheHot().cacheDictionary()`) and cold (neither, so a
  * cold query also scans the dictionary).
  */
class ServingCallSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val w = (i: Int) => PagesCorpus.vocab(i)

  /** (hot, cold) over one freshly built directory. */
  private lazy val opened: (BuiltIndex, BuiltIndex) = {
    val pages = IndexBuilder.extractPages(PagesCorpus.pages(spark, 300, parts = 4).toDF())
    val dir = Files.createTempDirectory("graft-serving-call").toString
    IndexBuilder.build(spark, pages, dir, blockBits = 5, numBuckets = 4)
    (IndexBuilder.load(spark, dir).cacheHot().cacheDictionary(), IndexBuilder.load(spark, dir))
  }

  private lazy val text = spark.read.parquet(s"${opened._2.path}/pages")

  private def rankOf(ix: BuiltIndex) = ix.docs.where(col("doc_id") % 3 === 0)
    .select(col("doc_id"), lit(2.0).as("static_rank"))

  private val conj = s"${w(3)} ${w(40)}"
  private val nowhere = Seq("https://nowhere.example/**")

  test("the hot job, the side-input zip and map and the cold transient map are not closures to Spark") {
    val (hot, cold) = opened
    val (numBuckets, blockBits) = hot.blocksMeta
    val chunk = Array(BatchPlanned(Array(1L), Array(1.0), conjunctive = true, Nil, Nil,
      boosted = false, filter = 0))
    val impacts = ImpactReader(hot)
    val side = SideInput(Seq(hot.docs.select("doc_id")), None, numBuckets, blockBits)
    val functions = Seq(
      "hot job" -> HotServing.scoreJob(chunk, 10, impacts),
      "side-input zip" -> SparkClosures.zipFunction(
        HotServing.zipped(hot.hotPartitions.get, side, chunk, 10, impacts)),
      "side-input record map" -> SideInput.record,
      "cold transient map" -> HotServing.transientPartition(numBuckets))
    functions.foreach { case (what, f) => assert(!SparkClosures.isClosure(f), what) }
    // the control: a Scala lambda is one
    assert(SparkClosures.isClosure((it: Iterator[Int]) => it.size + numBuckets))

    val (hits, jobs) = SparkJobs.count(spark)(
      Bm25Query.searchBlocks(hot, conj, 10).collect())
    assert(hits.nonEmpty && jobs == 1)

    // a cold call without side input: its scoring job is no SQL execution
    // and reads the blocks through the bucket reader, not a file scan
    val (coldHits, started) = SparkJobs.jobs(spark)(
      Bm25Query.searchBlocks(cold, conj, 10).collect())
    val wand = started.filter(_.properties.getProperty("spark.job.description") ==
      "graft.query.wand")
    assert(coldHits.nonEmpty && wand.size == 1)
    assert(wand.head.properties.getProperty("spark.sql.execution.id") == null)
    val lineage = wand.head.stageInfos.flatMap(_.rddInfos.map(_.name))
    assert(lineage.contains("BucketFiles") && !lineage.contains("FileScanRDD"),
      lineage.mkString(", "))
  }

  test("loading and querying an index hot and cold leaves the catalog's tables and the session's conf") {
    val path = opened._2.path
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val (tablesBefore, confBefore) = (tables, spark.conf.getAll)
    val cold = IndexBuilder.load(spark, path)
    val hot = IndexBuilder.load(spark, path).cacheHot()
    for (ix <- Seq(hot, cold)) {
      assert(Bm25Query.searchBlocks(ix, conj, 10).collect().nonEmpty)
      assert(Bm25Query.searchBlocksBatchEx(ix, Seq(BatchQuery(conj), BatchQuery(w(4),
        include = Seq("https://site-00*.example/**"))), 10).head.nonEmpty)
    }
    assert(tables == tablesBefore)
    assert(spark.conf.getAll == confBefore)
  }

  test("a named function that captures an unserializable value fails on the driver") {
    val sc = spark.sparkContext
    val held = new Object
    val f = Named((_: TaskContext, it: Iterator[Int]) => it.size + held.hashCode)
    val e = intercept[SparkException](sc.runJob(sc.parallelize(1 to 4, 2), f))
    assert(e.getMessage.contains("Task not serializable"), e.getMessage)
  }

  test("every job of a hot or cold query, a cold batch and a hot lines query names its query layer") {
    val (hot, cold) = opened
    text.schema // the pages table's schema read is a job of its own
    val batch = Seq(BatchQuery(conj), BatchQuery(w(4), include = Seq("https://site-00*.example/**")),
      BatchQuery(PagesCorpus.needleTerm(1)), BatchQuery("ab"), BatchQuery("zzznothere"))
    val calls = Seq[(String, () => Any)](
      "hot searchBlocks" -> (() => Bm25Query.searchBlocks(hot, conj, 10).collect()),
      "hot searchBlocksBoosted" -> (() =>
        Bm25Query.searchBlocksBoosted(hot, conj, 10, rankOf(cold)).collect()),
      "cold searchBlocks" -> (() => Bm25Query.searchBlocks(cold, conj, 10).collect()),
      "cold searchBlocksBatchEx" -> (() => Bm25Query.searchBlocksBatchEx(cold, batch, 10)),
      "hot searchWithLines" -> (() => Bm25Query.searchWithLines(hot, text, conj, 5).collect()))
    val layers = calls.map { case (what, call) =>
      val (_, described) = SparkJobs.descriptions(spark)(call())
      val bad = described.filterNot(d => d != null && d.startsWith("graft.query."))
      assert(described.nonEmpty && bad.isEmpty, s"$what ran jobs described otherwise: $bad")
      what -> described.map(_.stripPrefix("graft.query.")).toSet
    }.toMap
    assert(layers("hot searchBlocks") == Set("wand"))
    assert(layers("cold searchBlocks") == Set("analyze", "wand", "urls"))
    assert(layers("hot searchWithLines") == Set("wand", "lines"))
  }

  /** `got` has `A`'s encoder schema, nullability included, and the rows
    * `createDataset` gives over the same values.
    */
  private def sameAsCreateDataset[A <: Product : TypeTag](what: String, got: Dataset[A]): Seq[A] = {
    val enc = Encoders.product[A]
    assert(got.schema == enc.schema, what)
    val values = got.collect().toSeq
    val want = spark.createDataset(values)(enc)
    assert(got.toDF().collect().toSeq == want.toDF().collect().toSeq, what)
    assert(values == want.collect().toSeq, what)
    values
  }

  test("result Datasets have the encoder's schema and createDataset's rows, empty or not") {
    val (hot, cold) = opened
    for (ix <- Seq(hot, cold)) {
      def hits(what: String, ds: Dataset[Hit]) = sameAsCreateDataset(what, ds)
      assert(hits("searchBlocks", Bm25Query.searchBlocks(ix, conj, 10)).nonEmpty)
      assert(hits("searchBlocks, no hit", Bm25Query.searchBlocks(ix, "zzznothere", 10)).isEmpty)
      assert(hits("short query", Bm25Query.searchBlocks(ix, "ab", 10)).size == 10)
      assert(hits("short query, no doc",
        Bm25Query.searchBlocks(ix, "ab", 10, include = nowhere)).isEmpty)
      assert(hits("regex", RegexQuery.search(ix, text, s"${w(8)}\\s+\\w+", 10)).nonEmpty)
      assert(hits("regex, no match", RegexQuery.search(ix, text, "zzznothere\\d", 10)).isEmpty)
      assert(sameAsCreateDataset("lines", Bm25Query.searchWithLines(ix, text, conj, 5)).nonEmpty)
      assert(sameAsCreateDataset("lines, no hit",
        Bm25Query.searchWithLines(ix, text, "zzznothere", 5)).isEmpty)
    }
  }
}
