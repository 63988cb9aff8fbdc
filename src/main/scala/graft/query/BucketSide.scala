package graft.query

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

/** Places a doc in the blocks bucket of its block, `bucketOf(doc_id >>
  * blockBits)`: the bucket whose block rows can name it.
  */
private[graft] final class DocBucketPartitioner(val numPartitions: Int, blockBits: Int)
    extends Partitioner {
  def getPartition(doc: Any): Int =
    HotPartition.bucketOf(doc.asInstanceOf[Long] >> blockBits, numPartitions)
}

/** The side inputs of one serving call, keyed by doc id and partitioned
  * like the blocks buckets: record `(doc_id, (f, 0.0))` admits the doc to
  * doc filter `f < nFilters`, record `(doc_id, (nFilters, rank))` is a
  * row of the rank set. Zipped partition by partition with the blocks
  * being scored, it reaches each bucket through a narrow dependency.
  */
private[graft] final case class SideInput(records: RDD[(Long, (Int, Double))], nFilters: Int)

private[graft] object SideInput {

  /** The doc filters (each a `doc_id` column) and the rank set
    * `(doc_id, static_rank)`, placed in `numBuckets` blocks buckets of
    * `2^blockBits` doc ids per block.
    */
  def apply(filters: Seq[DataFrame], rank: Option[DataFrame],
      numBuckets: Int, blockBits: Int): SideInput = {
    val tagged = filters.zipWithIndex.map { case (f, i) =>
      f.select(col("doc_id").cast("long"), lit(i), lit(0.0))
    } ++ rank.map(_.select(col("doc_id").cast("long"), lit(filters.size),
      col("static_rank").cast("double")))
    SideInput(tagged.reduce(_ union _).rdd.map(record)
      .partitionBy(new DocBucketPartitioner(numBuckets, blockBits)), filters.size)
  }

  /** A tagged row `(doc_id, f, rank)` as its side-input record. */
  private[graft] val record: Named1[Row, (Long, (Int, Double))] =
    new Named1((r: Row) => (r.getLong(0), (r.getInt(1), r.getDouble(2))))
}

/** One bucket's slice of a [[SideInput]]: the sorted, distinct allow
  * array of each doc filter (empty when no allowed doc falls in this
  * bucket: the filter admits nothing here) and the bucket's rank set as
  * sorted ids, their ranks and the largest rank (>= 1, the rank of an
  * absent doc).
  */
private[graft] final class BucketSide private (allows: Array[Array[Long]],
    val rankIds: Array[Long], val rankVals: Array[Double], val maxRank: Double) {
  def allow(filter: Int): Array[Long] = allows(filter)
}

private[graft] object BucketSide {

  val Empty = new BucketSide(Array.empty, null, null, 1.0)

  /** Sort one bucket's side-input records. A doc lives in exactly one
    * bucket and a call with a side input runs every bucket, hot or cold,
    * so the rank-set checks here are the global ones: a duplicated doc_id
    * would let the merge pick either of its ranks, and a negative rank
    * would break its pruning bounds.
    */
  def apply(records: Iterator[(Long, (Int, Double))], nFilters: Int): BucketSide = {
    val docs = Array.fill(nFilters)(mutable.ArrayBuilder.make[Long])
    val ranked = mutable.ArrayBuffer.empty[(Long, Double)]
    records.foreach { case (d, (f, v)) =>
      if (f < nFilters) docs(f) += d else ranked += ((d, v))
    }
    val allows = docs.map { b =>
      val a = b.result()
      java.util.Arrays.sort(a)
      a.distinct
    }
    val sorted = ranked.toArray.sortBy(_._1)
    val ids = sorted.map(_._1)
    val vals = sorted.map(_._2)
    var i = 1
    while (i < ids.length) {
      require(ids(i) != ids(i - 1), s"rank set has a duplicate doc_id ${ids(i)}")
      i += 1
    }
    require(vals.forall(_ >= 0.0), "static_rank must be non-negative")
    new BucketSide(allows, ids, vals, if (vals.isEmpty) 1.0 else math.max(1.0, vals.max))
  }
}
