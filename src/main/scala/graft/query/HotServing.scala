package graft.query

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

import graft.Par
import graft.index.{BuiltIndex, PostingCodec}

/** One driver-analyzed query of a batch: its resolved term ids and their
  * idfs, mode, url globs, whether it takes the batch's rank set, and the
  * index of the doc filter of the call's [[SideInput]] that restricts it
  * (-1: none). Url globs are such a filter on a cold index; a hot bucket
  * resolves them against its own urls instead.
  */
private[graft] case class BatchPlanned(termIds: Array[Long], idfs: Array[Double],
    conjunctive: Boolean, include: Seq[String], exclude: Seq[String],
    boosted: Boolean, filter: Int = -1)

/** How a bucket task reads the impacts of a block row: each recomputed
  * from the posting's tf and doc_len, the idf of the row's term (as the
  * query's analysis resolved it) and the index's avgdl, on the hot and
  * the cold path alike.
  */
private[graft] final case class ImpactReader(avgdl: Double) {
  def of(q: BatchPlanned): BlockRow => Array[Double] = r =>
    PostingCodec.decodeTfDlImpacts(r.impacts_enc, r.n, q.idfs(q.termIds.indexOf(r.term_id)), avgdl)
}

private[graft] object ImpactReader {
  def apply(index: BuiltIndex): ImpactReader = ImpactReader(index.stats.avgdl)
}

/** The one bucket scorer of the block path: a chunk of analyzed queries
  * is answered by ONE Spark job over one [[HotPartition]] per blocks
  * bucket. On a hot index (see [[BuiltIndex.cacheHot]]) those are the
  * resident partitions, with the urls of their docs; on a cold one they
  * are transient, built from the rows of the chunk's terms in each
  * bucket's files, without urls (url globs then arrive as doc filters of
  * the side input, and the caller looks the winners' urls up). Both read
  * through [[BucketFiles]]. Per bucket and query, a task gathers only that
  * query's block rows in (block_id, term_id) order, turns its url globs
  * into the sorted allow array of the bucket's own docs, runs the merge
  * kernel ([[Bm25Query.processPartition]]) and returns the survivors. The
  * driver merges them with the frozen tie-break (score desc, doc_id asc)
  * — the batched per-partition top-k of the cache-efficient top-k
  * aggregation pattern (VLDB 2023). A doc set or rank set arrives as the
  * call's [[SideInput]], zipped with the partitions: its shuffle is a map
  * stage of the same job.
  *
  * Exact: a block bucket holds every block of its docId ranges and the
  * urls and side-input records of exactly those docs, so the local allow
  * array is the global one restricted to the bucket.
  *
  * Every function a call hands Spark (the job's, the side-input zip's and
  * record map's and the cold transient map's) is a [[Named]] function,
  * and the job goes through the `(TaskContext, Iterator)` overload of
  * `runJob`, so the scoring job of a call without side input, hot or
  * cold, makes Spark's closure cleaner parse no class file. A call with a
  * side input still takes the side input's Dataset `rdd`, and that adds a
  * map of Spark's own, which the cleaner parses on each such call. The
  * job carries the description `graft.query.wand`.
  */
private[graft] object HotServing {

  /** How long [[tier]] waits for the executors' reports of the blocks it
    * just cached to reach the driver's listener.
    */
  private val ReportWaitNs = TimeUnit.SECONDS.toNanos(10)

  /** A survivor of one bucket: (query index, doc_id, score, url). */
  type Survivor = (Int, Long, Double, String)

  /** The resident partitions of `index`, cached and materialized:
    * bucket p's files ([[BucketFiles]]) zipped with the docs partitioned
    * by the bucket of `doc_id >> blockBits` (the same Murmur3 pmod as
    * bucketBy), so partition p holds bucket p's blocks and the urls of
    * exactly the docs those blocks can name. MEMORY_AND_DISK with the
    * lineage kept: a lost executor re-reads its buckets' files.
    * None, with nothing left cached, when some partition did not fit in
    * memory: see [[HotTier]]; a failed materializing job leaves nothing
    * cached or registered either, and is rethrown. The materializing job
    * also counts each partition's block rows: a query job without side
    * input then runs only the partitions that hold some
    * ([[HotTier.occupied]]).
    */
  def tier(index: BuiltIndex): Option[HotTier] = {
    val spark = index.spark
    import spark.implicits._
    val (numBuckets, blockBits) = index.blocksMeta
    val docs = index.docs.select(col("doc_id"), col("url")).as[(Long, String)].rdd
      .partitionBy(new DocBucketPartitioner(numBuckets, blockBits))
    val rdd = new BucketFiles(index).zipPartitions(docs)(Named {
      (b: Iterator[BlockRow], d: Iterator[(Long, String)]) =>
        Iterator.single(HotPartition(TaskContext.getPartitionId(), numBuckets, b, d))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val sc = spark.sparkContext
    val t = new HotTier(rdd)
    sc.addSparkListener(t)
    def release(): Unit = { sc.removeSparkListener(t); rdd.unpersist(blocking = false) }
    val rows = try sc.runJob(rdd, Named { (_: TaskContext, it: Iterator[HotPartition]) =>
      it.map(_.rows.length).sum
    }) catch { case e: Throwable => release(); throw e }
    t.occupied = rows.indices.filter(rows(_) > 0)
    val deadline = System.nanoTime() + ReportWaitNs
    while (!t.reported && System.nanoTime() < deadline) Thread.sleep(1)
    if (t.resident) Some(t) else { release(); None }
  }

  /** One transient partition per bucket: its rows of `termIds`, no urls. */
  private[graft] def transient(index: BuiltIndex, termIds: Seq[Long]): RDD[HotPartition] =
    new BucketFiles(index, Some(termIds)).mapPartitionsWithIndex(transientPartition(index.blocksMeta._1))

  /** The function that turns bucket `p`'s block rows into its transient
    * partition.
    */
  private[graft] def transientPartition(
      numBuckets: Int): Named[Int, Iterator[BlockRow], Iterator[HotPartition]] =
    Named((p: Int, b: Iterator[BlockRow]) =>
      Iterator.single(HotPartition(p, numBuckets, b, Iterator.empty)))

  /** The top-k hits of each query of `chunk`, in chunk order: one job
    * over the bucket partitions `buckets` of `parts`, or over every
    * partition zipped with the side input if any. A bucket left out must
    * hold no block row: it could yield no survivor for any query. With a
    * side input none is left out, so every bucket checks its slice of the
    * rank set ([[BucketSide]]) as the cold path does.
    */
  private[query] def run(index: BuiltIndex, parts: RDD[HotPartition], buckets: Seq[Int],
      chunk: Array[BatchPlanned], k: Int, side: Option[SideInput]): Array[Vector[Hit]] = {
    val impacts = ImpactReader(index)
    val sc = index.spark.sparkContext
    val survivors = Par.described(index.spark, "graft.query.wand") {
      side match {
        case None => sc.runJob(parts, scoreJob(chunk, k, impacts), buckets)
        case Some(s) => sc.runJob(zipped(parts, s, chunk, k, impacts),
          Named((_: TaskContext, it: Iterator[Survivor]) => it.toArray))
      }
    }
    val byQuery = survivors.flatten.groupBy(_._1)
    chunk.indices.map { qi =>
      byQuery.getOrElse(qi, Array.empty[Survivor])
        .sortBy { case (_, d, s, _) => (-s, d) }.take(k)
        .zipWithIndex.map { case ((_, d, s, u), i) => Hit(d, u, s, i + 1) }
        .toVector
    }.toArray
  }

  /** The job function of a call without side input: the survivors of
    * each bucket partition it runs.
    */
  private[graft] def scoreJob(chunk: Array[BatchPlanned], k: Int,
      impacts: ImpactReader): Named[TaskContext, Iterator[HotPartition], Array[Survivor]] =
    Named((_: TaskContext, it: Iterator[HotPartition]) =>
      it.flatMap(score(_, BucketSide.Empty, chunk, k, impacts)).toArray)

  /** Survivors of every bucket, each partition zipped with its slice of
    * the side input.
    */
  private[graft] def zipped(parts: RDD[HotPartition], side: SideInput,
      chunk: Array[BatchPlanned], k: Int, impacts: ImpactReader): RDD[Survivor] = {
    val nFilters = side.nFilters
    parts.zipPartitions(side.records)(Named {
      (h: Iterator[HotPartition], r: Iterator[(Long, (Int, Double))]) =>
        val bs = BucketSide(r, nFilters)
        h.flatMap(score(_, bs, chunk, k, impacts))
    })
  }

  /** Survivors of one bucket. */
  private def score(part: HotPartition, side: BucketSide, chunk: Array[BatchPlanned],
      k: Int, impacts: ImpactReader): Iterator[Survivor] = {
    val globbed = mutable.HashMap.empty[(Seq[String], Seq[String]), Array[Long]]
    chunk.indices.iterator.flatMap { qi =>
      val q = chunk(qi)
      // ascending term_id: within a block group the kernel sums impacts
      // in that canonical order
      val ranges = q.termIds.sorted.map(part.rangeOf)
      val present = ranges.count { case (from, until) => until > from }
      lazy val allow =
        if (q.filter >= 0) side.allow(q.filter)
        else if (q.include.isEmpty && q.exclude.isEmpty) null
        else globbed.getOrElseUpdate((q.include, q.exclude),
          part.docsWhere(PathFilter.matcher(q.include, q.exclude)))
      if (present == 0 || (q.conjunctive && present < ranges.length) ||
          (allow != null && allow.isEmpty)) Iterator.empty
      else {
        // a stable sort by block_id keeps term_id order within a block
        val rows = ranges.flatMap { case (from, until) =>
          part.rows.slice(from, until)
        }.sortBy(_.block_id)
        val hits =
          if (q.boosted) Bm25Query.processPartition(rows.iterator, q.termIds.length, k,
            q.conjunctive, impacts.of(q), allow, side.rankIds, side.rankVals, side.maxRank)
          else Bm25Query.processPartition(rows.iterator, q.termIds.length, k,
            q.conjunctive, impacts.of(q), allow)
        hits.map { case (d, s) => (qi, d, s, part.url(d)) }
      }
    }
  }
}

/** A function Spark runs in tasks, under a class name of its own. Spark's
  * closure cleaner (`SparkContext.clean`) parses, on every call, the class
  * file that declares each Scala lambda (or `$anonfun$` class) it is
  * handed, and `runJob`'s `Iterator => U` overload wraps its argument in
  * a lambda of `SparkContext`'s own. Handed an instance of this class, the
  * cleaner returns at once (Spark SQL's operators skip it the same way,
  * through `mapPartitionsInternal`). The wrapped `f` is serialized whole
  * with the task: it must capture only serializable values, which the
  * scheduler checks on the driver when it serializes the task binary.
  */
private[graft] final class Named[A, B, C](f: (A, B) => C) extends ((A, B) => C) with Serializable {
  def apply(a: A, b: B): C = f(a, b)
}

private[graft] object Named {
  def apply[A, B, C](f: (A, B) => C): Named[A, B, C] = new Named(f)
}

/** A one-argument [[Named]] function, for `RDD.map`. */
private[graft] final class Named1[A, B](f: A => B) extends (A => B) with Serializable {
  def apply(a: A): B = f(a)
}

/** The resident partitions of a hot index and where executors hold them.
  * Executors report every block they store, evict to disk or drop, and
  * this listener keeps the latest report per partition. The hot path
  * runs only while every partition is in memory: a partition spilled to
  * disk would be read back whole, all its block rows and urls, by every
  * query, where the cold path reads only its terms' rows of each bucket.
  */
private[graft] final class HotTier(val rdd: RDD[HotPartition]) extends SparkListener {
  private val rddId = rdd.id
  private val numPartitions = rdd.getNumPartitions
  private val inMemory = new ConcurrentHashMap[Int, java.lang.Boolean]()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(`rddId`, p) =>
        inMemory.put(p, e.blockUpdatedInfo.storageLevel.useMemory)
      case _ =>
    }

  /** Every partition has been reported at least once. */
  def reported: Boolean = inMemory.size == numPartitions

  /** Every partition is held in executor memory. */
  def resident: Boolean = reported && !inMemory.containsValue(false)

  /** The partitions that hold block rows, counted as [[HotServing.tier]]
    * materializes them: a query job without side input runs only these.
    */
  @volatile var occupied: Seq[Int] = 0 until numPartitions
}
