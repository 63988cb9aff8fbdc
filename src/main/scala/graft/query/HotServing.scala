package graft.query

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.collection.mutable

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

import graft.index.BuiltIndex

/** One driver-analyzed query of a batch: its resolved term ids, mode, url
  * globs and whether it takes the batch's boost.
  */
private[query] case class BatchPlanned(termIds: Array[Long],
    conjunctive: Boolean, include: Seq[String], exclude: Seq[String],
    boosted: Boolean)

/** Serving over the resident partitions of a hot index (see
  * [[BuiltIndex.cacheHot]]): a chunk of analyzed queries is answered by
  * ONE `SparkContext.runJob`, with no Catalyst planning per query. Per
  * bucket and query, a task gathers only that query's block rows in
  * (block_id, term_id) order, turns its url globs into the sorted allow
  * array of the bucket's own docs, runs the same merge kernel as the
  * Dataset path ([[Bm25Query.processPartition]]) and returns the
  * survivors with their urls. The driver merges them with the frozen
  * tie-break (score desc, doc_id asc) — the batched per-partition top-k
  * of the cache-efficient top-k aggregation pattern (VLDB 2023).
  *
  * Exact: a block bucket holds every block of its docId ranges and the
  * urls of exactly those docs, so the local allow array is the global
  * one restricted to the bucket. The adaptive OR bootstrap is not run
  * (it only tightens pruning), as on the batch path.
  */
private[graft] object HotServing {

  /** Type of the boost a batch shares: sorted doc ids, their ranks and
    * the largest rank (>= 1), each shipped once per executor.
    */
  type Boost = (Broadcast[Array[Long]], Broadcast[Array[Double]], Double)

  /** How long [[tier]] waits for the executors' reports of the blocks it
    * just cached to reach the driver's listener.
    */
  private val ReportWaitNs = TimeUnit.SECONDS.toNanos(10)

  /** The resident partitions of `index`, cached and materialized:
    * partition p of the bucketed blocks scan zipped with the docs
    * partitioned by the bucket of `doc_id >> blockBits` (the same Murmur3
    * pmod as bucketBy), so partition p holds bucket p's blocks and the
    * urls of exactly the docs those blocks can name. MEMORY_AND_DISK
    * with the lineage kept: a lost executor recomputes its buckets.
    * None, with nothing left cached, when some partition did not fit in
    * memory: see [[HotTier]].
    */
  def tier(index: BuiltIndex, numBuckets: Int, blockBits: Int): Option[HotTier] = {
    val spark = index.spark
    import spark.implicits._
    val blocks = index.blocks.select("term_id", "block_id", "n", "docs_enc",
      "impacts_enc", "block_max").as[BlockRow].rdd
    require(blocks.getNumPartitions == numBuckets,
      s"hot partitions need the $numBuckets-bucket blocks scan, got " +
      s"${blocks.getNumPartitions} partitions")
    val docs = index.docs.select(col("doc_id"), col("url")).as[(Long, String)].rdd
      .partitionBy(new Partitioner {
        def numPartitions: Int = numBuckets
        def getPartition(doc: Any): Int =
          HotPartition.bucketOf(doc.asInstanceOf[Long] >> blockBits, numBuckets)
      })
    val rdd = blocks.zipPartitions(docs) { (b, d) =>
      Iterator.single(HotPartition(TaskContext.getPartitionId(), numBuckets, b, d))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val sc = spark.sparkContext
    val t = new HotTier(rdd)
    sc.addSparkListener(t)
    rdd.count()
    val deadline = System.nanoTime() + ReportWaitNs
    while (!t.reported && System.nanoTime() < deadline) Thread.sleep(1)
    if (t.resident) Some(t)
    else {
      sc.removeSparkListener(t)
      rdd.unpersist(blocking = false)
      None
    }
  }

  /** The top-k hits of each query of `chunk`, in chunk order. */
  private[query] def run(index: BuiltIndex, hot: RDD[HotPartition],
      chunk: Array[BatchPlanned], k: Int, boost: Boost): Array[Vector[Hit]] = {
    val q8 = index.impactCodec == "q8"
    val survivors = index.spark.sparkContext.runJob(hot,
      (it: Iterator[HotPartition]) => it.flatMap(score(_, chunk, k, q8, boost)).toArray)
    val byQuery = survivors.flatten.groupBy(_._1)
    chunk.indices.map { qi =>
      byQuery.getOrElse(qi, Array.empty[(Int, Long, Double, String)])
        .sortBy { case (_, d, s, _) => (-s, d) }.take(k)
        .zipWithIndex.map { case ((_, d, s, u), i) => Hit(d, u, s, i + 1) }
        .toVector
    }.toArray
  }

  /** Survivors (query index, doc_id, score, url) of one bucket. */
  private def score(part: HotPartition, chunk: Array[BatchPlanned], k: Int,
      q8: Boolean, boost: Boost): Iterator[(Int, Long, Double, String)] = {
    val allowed = mutable.HashMap.empty[(Seq[String], Seq[String]), Array[Long]]
    chunk.indices.iterator.flatMap { qi =>
      val q = chunk(qi)
      // ascending term_id: within a block group the kernel sums impacts
      // in that canonical order
      val ranges = q.termIds.sorted.map(part.rangeOf)
      val present = ranges.count { case (from, until) => until > from }
      if (present == 0 || (q.conjunctive && present < ranges.length)) Iterator.empty
      else {
        // a stable sort by block_id keeps term_id order within a block
        val rows = ranges.flatMap { case (from, until) =>
          part.rows.slice(from, until)
        }.sortBy(_.block_id)
        val filter =
          if (q.include.isEmpty && q.exclude.isEmpty) null
          else allowed.getOrElseUpdate((q.include, q.exclude),
            part.docsWhere(PathFilter.matcher(q.include, q.exclude)))
        val b = if (q.boosted) boost else null
        Bm25Query.processPartition(rows.iterator.map(r => (r, filter)),
          q.termIds.length, k, q.conjunctive, Double.NegativeInfinity, q8,
          boostIds = if (b == null) null else b._1.value,
          boostVals = if (b == null) null else b._2.value,
          maxBoost = if (b == null) 1.0 else b._3)
          .map { case (d, s) => (qi, d, s, part.url(d)) }
      }
    }
  }
}

/** The resident partitions of a hot index and where executors hold them.
  * Executors report every block they store, evict to disk or drop, and
  * this listener keeps the latest report per partition. The hot path
  * runs only while every partition is in memory: a partition spilled to
  * disk would be read back whole, all its block rows and urls, by every
  * query, where the Dataset path prunes parquet row groups by term_id.
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
}
