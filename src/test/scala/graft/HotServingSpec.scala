package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.SparkListenerBlockUpdated
import org.apache.spark.sql.functions._
import org.apache.spark.storage.{BlockUpdatedInfo, RDDBlockId, StorageLevel}

import graft.corpus.PagesCorpus
import graft.index.{BuiltIndex, IndexBuilder}
import graft.query.{BatchQuery, Bm25Query, Hit, LineHit}

/** Hot serving: one index directory opened twice, hot
  * (`cacheHot().cacheDictionary()`, queries on the resident partitions)
  * and cold (`cacheDictionary()` only: the Dataset path). Every hit must be bit-identical — doc_id,
  * url, score bits and rank — on both impact codecs, with a bucket count
  * different from the shuffle partitions and a small block width; and a
  * hot query or batch must be one Spark job.
  */
class HotServingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val numBuckets = 5
  private val blockBits = 5
  private val w = (i: Int) => PagesCorpus.vocab(i)

  private lazy val pages = IndexBuilder.extractPages(
    PagesCorpus.pages(spark, 400, parts = 4).toDF())

  /** (hot, cold) over one freshly built directory per impact codec. */
  private lazy val opened: Map[String, (BuiltIndex, BuiltIndex)] =
    Seq("f64", "q8").map { codec =>
      val dir = Files.createTempDirectory(s"graft-hot-$codec").toString
      IndexBuilder.build(spark, pages, dir, blockBits = blockBits,
        numBuckets = numBuckets, quantizeImpacts = codec == "q8")
      codec -> ((IndexBuilder.load(spark, dir).cacheHot().cacheDictionary(),
        IndexBuilder.load(spark, dir).cacheDictionary()))
    }.toMap

  private def bits(hits: Seq[Hit]): Seq[(Long, String, Long, Int)] =
    hits.map(h => (h.doc_id, h.url, java.lang.Double.doubleToLongBits(h.score), h.rank))

  private def lineBits(hits: Seq[LineHit]) =
    hits.map(h => (h.doc_id, h.url, java.lang.Double.doubleToLongBits(h.score),
      h.rank, h.line_number, h.match_start, h.match_end, h.snippet))
      .sortBy(h => (h._4, h._5))

  private val headOr = BatchQuery((0 until 20).map(w).mkString(" "), conjunctive = false)
  private val inc = Seq("https://site-00*.example/**")
  private val exc = Seq("https://site-01*.example/**")
  private val nowhere = Seq("https://nowhere.example/**")

  /** Needle, conjunctive, disjunctive, head-OR and glob-filtered queries,
    * plus an empty allow set, an unresolvable and a short query.
    */
  private val queries: Seq[BatchQuery] =
    (0 until 4).map(i => BatchQuery(PagesCorpus.needleTerm(i))) ++
    (0 until 4).map(b => BatchQuery(s"${w(3 + b)} ${w(40 + 7 * b)}")) ++
    (0 until 3).map(b => BatchQuery(s"${w(20 + b)} ${w(100 + b)}", conjunctive = false)) ++
    Seq(headOr,
      BatchQuery(s"${w(2)} ${w(7)}", include = inc),
      BatchQuery(w(4), exclude = exc),
      BatchQuery(s"${w(5)} ${w(9)}", conjunctive = false, include = inc, exclude = exc),
      BatchQuery(s"${w(2)} ${w(7)}", include = nowhere),
      BatchQuery("zzznothere"),
      BatchQuery("ab"))

  private def single(ix: BuiltIndex, q: BatchQuery): Seq[Hit] =
    Bm25Query.searchBlocks(ix, q.query, 10, q.conjunctive, q.include, q.exclude)
      .collect().toSeq

  for (codec <- Seq("f64", "q8")) {
    test(s"$codec: hot single queries equal the Dataset path bit for bit") {
      val (hot, cold) = opened(codec)
      assert(hot.hotPartitions.nonEmpty && cold.hotPartitions.isEmpty)
      // the head query takes the adaptive OR bootstrap on the cold side
      val dfSum = Bm25Query.analyze(cold, headOr.query).terms.map(_.df).sum
      assert(dfSum > Bm25Query.AdaptiveCandidateThreshold, s"df sum $dfSum")
      queries.foreach { q =>
        assert(bits(single(hot, q)) == bits(single(cold, q)), q.toString)
      }
      assert(single(hot, queries.head).nonEmpty && single(hot, headOr).size == 10)
      val Seq(included, excluded, _, empty) = queries.slice(12, 16)
      assert(single(hot, included).nonEmpty, "glob query must have hits")
      assert(single(hot, empty).isEmpty && single(hot, BatchQuery(empty.query)).nonEmpty,
        "empty allow set")
      assert(bits(single(hot, included)) !=
        bits(single(hot, BatchQuery(included.query))), "include must bite")
      assert(bits(single(hot, excluded)) !=
        bits(single(hot, BatchQuery(excluded.query))), "exclude must bite")
    }

    test(s"$codec: hot searchWithLines equals the Dataset path") {
      val (hot, cold) = opened(codec)
      val text = spark.read.parquet(s"${cold.path}/pages")
      Seq(s"${w(3)} ${w(40)}", PagesCorpus.needleTerm(1), w(30)).foreach { q =>
        val got = Bm25Query.searchWithLines(hot, text, q, 5).collect().toSeq
        assert(lineBits(got) == lineBits(Bm25Query.searchWithLines(cold, text, q, 5)
          .collect().toSeq), q)
        assert(got.nonEmpty, q)
      }
    }

    test(s"$codec: chunked hot batches with boosts equal the Dataset path") {
      val (hot, cold) = opened(codec)
      val rank = cold.docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          (lit(1.0) + (col("doc_id") % 7).cast("double") * 0.25).as("static_rank"))
      val batch = queries ++ Seq(
        BatchQuery(s"${w(2)} ${w(7)}", boosted = true),
        BatchQuery(s"${w(6)} ${w(11)}", conjunctive = false, boosted = true),
        BatchQuery(s"${w(2)} ${w(7)}", include = inc, boosted = true))
      // k x buckets x 3: three queries per chunk
      val bound = 10L * numBuckets * 3
      val got = Bm25Query.searchBlocksBatchEx(hot, batch, 10, Some(rank),
        maxCollectRows = bound)
      val want = Bm25Query.searchBlocksBatchEx(cold, batch, 10, Some(rank),
        maxCollectRows = bound)
      batch.indices.foreach(i => assert(bits(got(i)) == bits(want(i)), batch(i).toString))
      // boosted singles stay on the Dataset path: an independent check
      val boosted = Bm25Query.searchBlocksBoosted(cold, batch(queries.size).query, 10, rank)
      assert(bits(got(queries.size)) == bits(boosted.collect().toSeq))
      assert(got(queries.size).nonEmpty && bits(got(queries.size)) !=
        bits(single(hot, BatchQuery(batch(queries.size).query))), "boost must bite")
    }

    test(s"$codec: hot partition p holds bucket p's blocks and exactly its docs") {
      val (hot, cold) = opened(codec)
      import spark.implicits._
      val (n, shift) = hot.blocksMeta.get
      assert(n == numBuckets && shift == blockBits)
      // the bucket formula is the blocks table's own bucketing
      val bucket = (c: org.apache.spark.sql.Column) => pmod(hash(c), lit(n))
      assert(cold.blocks.select(bucket(col("block_id")) === spark_partition_id())
        .as[Boolean].collect().forall(identity))
      val docBucket = cold.docs.select(col("doc_id"), col("url"),
          bucket(shiftright(col("doc_id"), shift)))
        .as[(Long, String, Int)].collect()
      val parts = hot.hotPartitions.get
      assert(parts.getNumPartitions == n)
      val placed = parts.mapPartitionsWithIndex { (p, it) =>
        it.flatMap(h => h.docIds.zip(h.urls).map { case (d, u) => (d, u, p) })
      }.collect()
      assert(placed.sortBy(_._1).toSeq == docBucket.sortBy(_._1).toSeq)
      val blockBuckets = parts.mapPartitionsWithIndex { (p, it) =>
        it.flatMap(_.rows.map(r => (r.block_id, p)))
      }.collect()
      assert(blockBuckets.nonEmpty && blockBuckets.forall { case (b, p) =>
        docBucket.exists(d => (d._1 >> shift) == b && d._3 == p)
      })
    }
  }

  test("a hot query, a hot glob query and a 32-query hot batch are one Spark job each") {
    val (hot, cold) = opened("f64")
    val plain = queries(4)
    val glob = queries(12)
    val batch = (queries.take(15) ++ queries.take(15) ++ queries.take(2)).take(32)
    assert(batch.size == 32)
    def jobs(ix: BuiltIndex) = Seq(
      SparkJobs.count(spark)(single(ix, plain))._2,
      SparkJobs.count(spark)(single(ix, glob))._2,
      SparkJobs.count(spark)(Bm25Query.searchBlocksBatchEx(ix, batch, 10))._2)
    jobs(hot) // warm: the first hot run ships its closure classes
    val h = jobs(hot)
    info(s"jobs (plain, glob, 32-query batch): hot $h, Dataset path ${jobs(cold)}")
    assert(h == Seq(1, 1, 1))
  }

  test("a hot index with a partition out of memory serves on the Dataset path") {
    val (hot, cold) = opened("f64")
    val tier = hot.hotTier.get
    // the report an executor sends when it evicts bucket 0 to disk (the
    // tier reads no block manager id)
    def report(level: StorageLevel): Unit = tier.onBlockUpdated(
      SparkListenerBlockUpdated(new BlockUpdatedInfo(null,
        RDDBlockId(tier.rdd.id, 0), level, 0L, 1L)))
    val q = queries(4)
    try {
      report(StorageLevel.DISK_ONLY)
      assert(hot.hotPartitions.isEmpty)
      val (hits, jobs) = SparkJobs.count(spark)(single(hot, q))
      assert(hits.nonEmpty && bits(hits) == bits(single(cold, q)))
      assert(jobs > 1, "a spilled hot tier must not run the one-job path")
    } finally report(StorageLevel.MEMORY_AND_DISK)
    assert(hot.hotPartitions.nonEmpty)
  }
}
