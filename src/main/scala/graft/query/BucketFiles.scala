package graft.query

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, Operators}
import org.apache.spark.{Partition, TaskContext, TaskInputMetrics}
import org.apache.spark.rdd.RDD

import graft.checkpoint.DriverParquet
import graft.index.{BuiltIndex, PostingBlocks}

/** The block rows of an index, one partition per blocks bucket: task i
  * reads bucket i's files ([[BuiltIndex.bucketFiles]]) with
  * [[DriverParquet]], planning no query. Its lineage is the file list, so
  * a lost partition re-reads them. With `terms`, a task skips the row
  * groups whose `term_id` statistics rule out every term and filters the
  * rows it reads (parquet's record filter made a file's read far slower).
  * Each file's rows returned and its size count as the task's input, as
  * for Spark's own file scans.
  */
private[graft] final class BucketFiles(index: BuiltIndex, terms: Option[Seq[Long]] = None)
    extends RDD[BlockRow](index.spark.sparkContext, Nil) {
  @transient private val files = index.bucketFiles
  private val termIds = terms.map(_.distinct.sorted.toArray)

  override protected def getPartitions: Array[Partition] =
    files.indices.map(i => new BucketFiles.Bucket(i, files(i)): Partition).toArray

  override def compute(split: Partition, context: TaskContext): Iterator[BlockRow] = {
    val rowGroups = termIds.fold(FilterCompat.NOOP)(ids => FilterCompat.get(FilterApi.in[
      java.lang.Long, Operators.LongColumn](FilterApi.longColumn("term_id"), ids.map(Long.box).toSet.asJava)))
    split.asInstanceOf[BucketFiles.Bucket].files.iterator.flatMap { f =>
      val rows = DriverParquet.readFile(Paths.get(f), PostingBlocks.Schema, rowGroups).iterator
        .map(r => BlockRow(r.getLong(0), r.getLong(1), r.getInt(2), r.getAs[Array[Byte]](3),
          r.getAs[Array[Byte]](4), r.getDouble(5)))
        .filter(r => termIds.forall(java.util.Arrays.binarySearch(_, r.term_id) >= 0)).toVector
      TaskInputMetrics.add(context, rows.size, Files.size(Paths.get(f)))
      rows
    }
  }
}

private[graft] object BucketFiles {
  final class Bucket(val index: Int, val files: Seq[String]) extends Partition
}
