package graft.query

import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** One blocks bucket as [[HotServing]] scores it: the bucket's block rows
  * sorted by (term_id, block_id) with a term_id -> row-range index, and
  * the url of every doc whose block falls in the same bucket. A query
  * reads only its terms' row ranges. Resident in executor memory on a hot
  * index (see [[graft.index.BuiltIndex.cacheHot]]), where url globs and
  * urls resolve locally, so the hot path needs no scan, no shuffle and no
  * second job for urls; transient and without urls for a cold query,
  * built from the bucket's rows of its terms ([[BucketFiles]]).
  */
final class HotPartition private (
    termIds: Array[Long],
    termStart: Array[Int],
    val rows: Array[BlockRow],
    val docIds: Array[Long],
    val urls: Array[String]) extends Serializable {

  /** Row range [from, until) of `termId` in [[rows]]; empty when the
    * term has no block in this bucket.
    */
  def rangeOf(termId: Long): (Int, Int) = {
    val i = java.util.Arrays.binarySearch(termIds, termId)
    if (i < 0) (0, 0) else (termStart(i), termStart(i + 1))
  }

  /** Url of a doc of this bucket, "" when the docs table lacks it (the
    * Dataset path's url attach does the same).
    */
  def url(docId: Long): String = {
    val i = java.util.Arrays.binarySearch(docIds, docId)
    if (i < 0) "" else urls(i)
  }

  /** Ids of this bucket's docs whose url passes `keep`, ascending. */
  def docsWhere(keep: String => Boolean): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < docIds.length) {
      if (keep(urls(i))) out += docIds(i)
      i += 1
    }
    out.result()
  }
}

object HotPartition {

  /** The bucket Spark assigns a block id: pmod(murmur3(block_id, seed 42),
    * numBuckets), the partition id `bucketBy(numBuckets, "block_id")`
    * writes the block's rows to.
    */
  def bucketOf(blockId: Long, numBuckets: Int): Int = {
    val h = Murmur3_x86_32.hashLong(blockId, 42) % numBuckets
    if (h < 0) h + numBuckets else h
  }

  /** Assemble bucket `bucket` from its block rows and its docs. Every
    * block row must hash to `bucket`: a file named for another bucket
    * would silently drop candidates, so a mismatch fails loudly.
    */
  def apply(bucket: Int, numBuckets: Int,
      blocks: Iterator[BlockRow], docs: Iterator[(Long, String)]): HotPartition = {
    val rows = blocks.toArray.sortBy(r => (r.term_id, r.block_id))
    rows.find(r => bucketOf(r.block_id, numBuckets) != bucket).foreach(r => throw new IllegalStateException(
      s"blocks bucket $bucket holds block ${r.block_id} of bucket ${bucketOf(r.block_id, numBuckets)}"))
    val termIds = Array.newBuilder[Long]
    val termStart = Array.newBuilder[Int]
    var i = 0
    while (i < rows.length) {
      if (i == 0 || rows(i).term_id != rows(i - 1).term_id) {
        termIds += rows(i).term_id; termStart += i
      }
      i += 1
    }
    termStart += rows.length
    val byDoc = docs.toArray.sortBy(_._1)
    new HotPartition(termIds.result(), termStart.result(), rows,
      byDoc.map(_._1), byDoc.map(_._2))
  }
}
