package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.SparkListenerBlockUpdated
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import org.apache.spark.storage.{BlockUpdatedInfo, RDDBlockId, StorageLevel}

import graft.corpus.PagesCorpus
import graft.index.{BuiltIndex, IndexBuilder}
import graft.query.{BatchQuery, Bm25Query, Hit, LineHit}

/** Hot serving: one index directory opened twice, hot
  * (`cacheHot().cacheDictionary()`, queries on the resident partitions)
  * and cold (`cacheDictionary()` only: transient partitions of the query
  * terms' rows of each bucket's files). Every hit must be bit-identical — doc_id, url, score bits and rank — with a bucket count
  * different from the shuffle partitions and a small block width; and a
  * hot query or batch must be one Spark job. Hot and cold share the
  * bucket scorer, so their hits are also checked against the declarative
  * path (`searchNaive`, `searchBoosted`).
  */
class HotServingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val numBuckets = 5
  private val blockBits = 5
  private val w = (i: Int) => PagesCorpus.vocab(i)

  private lazy val pages = IndexBuilder.extractPages(
    PagesCorpus.pages(spark, 400, parts = 4).toDF())

  /** (hot, cold) over one freshly built directory. */
  private lazy val opened: (BuiltIndex, BuiltIndex) = {
    val dir = Files.createTempDirectory("graft-hot").toString
    IndexBuilder.build(spark, pages, dir, blockBits = blockBits, numBuckets = numBuckets)
    (IndexBuilder.load(spark, dir).cacheHot().cacheDictionary(),
      IndexBuilder.load(spark, dir).cacheDictionary())
  }

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

  /** A static rank over a third of the docs. */
  private def rankOf(ix: BuiltIndex) = ix.docs.where(col("doc_id") % 3 === 0)
    .select(col("doc_id"),
      (lit(1.0) + (col("doc_id") % 7).cast("double") * 0.25).as("static_rank"))

  private def single(ix: BuiltIndex, q: BatchQuery): Seq[Hit] =
    Bm25Query.searchBlocks(ix, q.query, 10, q.conjunctive, q.include, q.exclude)
      .collect().toSeq

  /** The declarative reference of `q`: hot and cold queries share the
    * bucket scorer, so each is also checked against this path.
    */
  private def declarative(ix: BuiltIndex, q: BatchQuery, rank: DataFrame = null,
      k: Int = 10): Seq[Hit] =
    (if (q.boosted) Bm25Query.searchBoosted(ix, q.query, k, rank, q.conjunctive,
      q.include, q.exclude)
    else Bm25Query.searchNaive(ix, q.query, k, q.conjunctive, q.include, q.exclude))
      .collect().toSeq

  /** Every line record belongs to a hit of the declarative top-k. */
  private def linesWithin(lines: Seq[LineHit], hits: Seq[Hit]): Boolean = {
    val want = bits(hits).toSet
    lines.forall(h => want((h.doc_id, h.url, java.lang.Double.doubleToLongBits(h.score), h.rank)))
  }

  test("tfdl: hot single queries equal the Dataset path bit for bit") {
    val (hot, cold) = opened
    assert(hot.hotPartitions.nonEmpty && cold.hotPartitions.isEmpty)
    queries.foreach { q =>
      assert(bits(single(hot, q)) == bits(single(cold, q)), q.toString)
      assert(bits(single(cold, q)) == bits(declarative(cold, q)), q.toString)
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

  test("tfdl: hot searchWithLines equals the Dataset path") {
    val (hot, cold) = opened
    val text = spark.read.parquet(s"${cold.path}/pages")
    Seq(s"${w(3)} ${w(40)}", PagesCorpus.needleTerm(1), w(30)).foreach { q =>
      val got = Bm25Query.searchWithLines(hot, text, q, 5).collect().toSeq
      assert(lineBits(got) == lineBits(Bm25Query.searchWithLines(cold, text, q, 5)
        .collect().toSeq), q)
      assert(got.nonEmpty, q)
      assert(linesWithin(got, declarative(cold, BatchQuery(q), k = 5)), q)
    }
  }

  test("tfdl: chunked hot batches with boosts equal the Dataset path") {
    val (hot, cold) = opened
    val rank = rankOf(cold)
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
    batch.indices.foreach { i =>
      assert(bits(got(i)) == bits(want(i)), batch(i).toString)
      assert(bits(want(i)) == bits(declarative(cold, batch(i), rank)), batch(i).toString)
    }
    // a cold boosted single runs the Dataset runner: an independent check
    val boosted = Bm25Query.searchBlocksBoosted(cold, batch(queries.size).query, 10, rank)
    assert(bits(got(queries.size)) == bits(boosted.collect().toSeq))
    assert(got(queries.size).nonEmpty && bits(got(queries.size)) !=
      bits(single(hot, BatchQuery(batch(queries.size).query))), "boost must bite")
  }

  test("tfdl: hot searchBlocksFiltered equals the Dataset path; a bucket without allowed docs returns none") {
    val (hot, cold) = opened
    val (n, shift) = hot.blocksMeta
    val bucketOf = (doc: Column) => pmod(hash(shiftright(doc, shift)), lit(n))
    val twoBuckets = cold.docs.where(bucketOf(col("doc_id")) < 2).select("doc_id")
    val sets = Seq(
      cold.docs.where(col("doc_id") % 3 === 0).select("doc_id"),
      cold.docs.where(col("doc_id") % 3 =!= 0).select("doc_id"),
      twoBuckets)
    def filtered(ix: BuiltIndex, q: BatchQuery, allowed: DataFrame) =
      Bm25Query.searchBlocksFiltered(ix, q.query, 10, q.conjunctive, allowed)
        .collect().toSeq
    val inTwo = twoBuckets.collect().map(_.getLong(0)).toSet
    for (allowed <- sets; q <- queries.slice(4, 12)) {
      val got = filtered(hot, q, allowed)
      assert(bits(got) == bits(filtered(cold, q, allowed)), q.toString)
      // the declarative reference: the allowed docs' naive scores
      val want = Bm25Query.scoredNaive(cold, q.query, q.conjunctive).get
        .join(allowed, Seq("doc_id"), "left_semi")
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(h => (h.doc_id, h.score)) == want, q.toString)
      if (allowed eq twoBuckets) assert(got.forall(h => inTwo(h.doc_id)), q.toString)
    }
    // buckets 2-4 receive no allowed doc, yet hold hits of the
    // unfiltered query: the filter must bite there
    val q = queries(11)
    assert(single(hot, q).exists(h => !inTwo(h.doc_id)))
    assert(filtered(hot, q, twoBuckets).nonEmpty)
  }

  test("tfdl: hot partition p holds bucket p's blocks and exactly its docs") {
    val (hot, cold) = opened
    import spark.implicits._
    val (n, shift) = hot.blocksMeta
    assert(n == numBuckets && shift == blockBits)
    // the bucket formula is Spark's bucketing: every block row sits in a
    // file named for bucket pmod(hash(block_id), n)
    val bucket = (c: Column) => pmod(hash(c), lit(n))
    val named = cold.blockFiles.select(bucket(col("block_id")), input_file_name())
      .as[(Int, String)].collect()
    assert(named.nonEmpty && named.forall { case (b, f) =>
      BucketingUtils.getBucketId(new org.apache.hadoop.fs.Path(f).getName).contains(b)
    })
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

  test("a hot query, a hot glob query and a 32-query hot batch are one Spark job each") {
    val (hot, cold) = opened
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
    val c = jobs(cold)
    info(s"jobs (plain, glob, 32-query batch): hot $h, Dataset path $c")
    assert(h == Seq(1, 1, 1))
    // the Dataset path: candidates + urls; the glob pairs' doc filters
    // are a map stage of the candidates job
    assert(c == Seq(2, 2, 2))
    val boosted = s"${w(2)} ${w(7)}"
    def boostedJobs(ix: BuiltIndex) = SparkJobs.count(spark)(
      Bm25Query.searchBlocksBoosted(ix, boosted, 10, rankOf(cold)).collect())._2
    def filteredJobs(ix: BuiltIndex) = SparkJobs.count(spark)(
      Bm25Query.searchBlocksFiltered(ix, boosted, 10, conjunctive = true,
        cold.docs.where(col("doc_id") % 3 === 0).select("doc_id")).collect())._2
    val counts = Seq(boostedJobs(hot), filteredJobs(hot), boostedJobs(cold), filteredJobs(cold))
    info(s"jobs (boosted, doc-set filtered): hot ${counts.take(2)}, Dataset path ${counts.drop(2)}")
    // the rank set and the doc set ship as a map stage of the same job
    assert(counts == Seq(1, 1, 2, 2))
  }

  /** (hot, cold) over 4 buckets of 2^13-doc blocks over 400 docs: every
    * block is block 0, so one bucket holds rows and three are empty.
    */
  private lazy val oneBucket: (BuiltIndex, BuiltIndex) = {
    val dir = Files.createTempDirectory("graft-hot-one-bucket").toString
    IndexBuilder.build(spark, pages, dir, numBuckets = 4)
    (IndexBuilder.load(spark, dir).cacheHot().cacheDictionary(),
      IndexBuilder.load(spark, dir).cacheDictionary())
  }

  test("a hot query runs one task per bucket that holds block rows") {
    val (hot, cold) = oneBucket
    assert(hot.blocksMeta == ((4, 13)))
    val q = queries(4)
    single(hot, q) // warm: the first hot run ships its closure classes
    val (hits, tasks) = SparkJobs.resultTasks(spark)(single(hot, q))
    assert(tasks == Seq(1))
    assert(hits.nonEmpty && bits(hits) == bits(single(cold, q)))
    // a call with a side input runs every bucket: each checks its slice
    // of the rank set
    val rank = rankOf(cold)
    val (boosted, boostTasks) = SparkJobs.resultTasks(spark)(
      Bm25Query.searchBlocksBoosted(hot, q.query, 10, rank).collect().toSeq)
    assert(boostTasks == Seq(4))
    assert(bits(boosted) == bits(declarative(cold, q.copy(boosted = true), rank)))
  }

  test("a bad rank row of a doc in a bucket without block rows fails hot and cold alike") {
    import spark.implicits._
    val (hot, cold) = oneBucket
    val (n, shift) = hot.blocksMeta
    val occupied = graft.query.HotPartition.bucketOf(0L, n)
    // a doc id whose block falls in an empty bucket: it can never score
    val d = Iterator.from(1).map(_.toLong).find(b => graft.query.HotPartition.bucketOf(b, n) !=
      occupied).get << shift
    val rank = rankOf(cold)
    val duplicated = rank.union(Seq((d, 1.0), (d, 2.0)).toDF("doc_id", "static_rank"))
    val negative = rank.union(Seq((d, -1.0)).toDF("doc_id", "static_rank"))
    for ((ix, mode) <- Seq((hot, "hot"), (cold, "cold"));
         (bad, message) <- Seq((duplicated, s"rank set has a duplicate doc_id $d"),
           (negative, "static_rank must be non-negative"))) {
      val e = intercept[Exception](
        Bm25Query.searchBlocksBoosted(ix, queries(4).query, 10, bad).collect())
      assert(e.getMessage.contains(message), s"$mode: ${e.getMessage}")
    }
  }

  test("a hot index with a partition out of memory serves on the Dataset path") {
    val (hot, cold) = opened
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
      assert(bits(hits) == bits(declarative(cold, q)))
      assert(jobs > 1, "a spilled hot tier must not run the one-job path")
    } finally report(StorageLevel.MEMORY_AND_DISK)
    assert(hot.hotPartitions.nonEmpty)
  }
}
