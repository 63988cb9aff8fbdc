package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.checkpoint.CheckpointedBuild
import graft.extract.Extract
import graft.index.{BuiltIndex, IndexBuilder, PostingBlocks}

/** Incremental index maintenance via Structured Streaming — the Spark
  * re-expression of the reference's watcher pipeline:
  *
  *  - file-watcher source with debounce
  *    (/root/reference/src/search/watcher.rs:16-160) -> streaming file
  *    source + trigger interval;
  *  - append-only upsert: a modified file is simply re-ingested and its
  *    pages APPENDED; stale versions are tolerated, deletes are no-ops
  *    (engine.rs:2676-2681, main.rs:270-277) — we keep exactly those
  *    semantics: the read view takes the LATEST batch per doc;
  *  - save-after-N-updates checkpointing (config.rs:150) -> the streaming
  *    checkpoint location (exactly-once per micro-batch).
  *
  * The stream only appends pages; it tokenizes nothing. Compaction runs
  * the one indexing pipeline, a [[CheckpointedBuild]] over the current
  * pages, as the reference's watcher upsert and resume re-drive its one
  * pipeline.
  *
  * Layout under `indexDir`:
  *   stream_pages/batch=<id>/ — per-micro-batch extracted, safety-gated
  *                              pages (doc_id, url, text, batch) —
  *                              appended, never rewritten
  */
object IncrementalIndex {

  /** The schema of a `stream_pages` batch, pinned for read-backs. */
  private val PagesSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType),
    StructField("text", StringType), StructField("batch", LongType)))

  /** Per-batch ingest: extract (when the batch has html) -> safety gate,
    * appended under the batch id. A page the gate rejects is not
    * written, so a rejected update leaves the doc's prior version
    * current. Pure function of the batch content.
    */
  def appendBatch(batch: DataFrame, indexDir: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val pages =
      if (batch.columns.contains("html")) IndexBuilder.extractPages(batch)
      else batch
    pages.where(Extract.safe(col("text")))
      .select(col("doc_id").cast("long"), col("url"), col("text"), lit(batchId).as("batch"))
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(s"$indexDir/stream_pages/batch=$batchId")
  }

  /** Start the maintenance stream over a directory of page parquet files.
    * `Trigger.AvailableNow` drains everything present then stops (the test
    * mode); pass a ProcessingTime trigger for a long-lived watcher.
    */
  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      schema: StructType,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$indexDir/_stream_checkpoint")
      .foreachBatch { (b: DataFrame, id: Long) => appendBatch(b, indexDir, id) }
      .start()

  /** The `batch=<id>` directories of `indexDir/stream_pages`, listed on
    * the driver (none before the first batch). Reads take them as an
    * explicit path list: a glob path makes Spark probe it for a
    * streaming-sink metadata directory, which logs a
    * `FileNotFoundException` at WARN on every read. Each batch's rows
    * carry their `batch` column.
    *
    * A stream directory of an older layout, which held its batches
    * tokenized (`stream_*` tf and docs tables instead of pages), fails
    * here, before any job: its pages were not kept, so it must be
    * re-ingested.
    */
  private def batchDirs(spark: SparkSession, indexDir: String): Seq[String] = {
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).map(_.getPath.getName)
      .find(t => t.startsWith("stream_") && t != "stream_pages").foreach { t =>
        throw new IllegalStateException(s"stream $indexDir holds $t batches of an older " +
          "layout, not stream_pages: the stream must be re-ingested")
      }
    val p = new Path(s"$indexDir/stream_pages")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(b => b.isDirectory && b.getPath.getName.startsWith("batch="))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Current pages `(doc_id, url, text)` of the stream: the latest batch
    * wins per doc (the reference keeps stale postings around until a full
    * rebuild; taking the latest version at read time is the same contract
    * with the staleness removed).
    */
  def currentPages(spark: SparkSession, indexDir: String): DataFrame = {
    val dirs = batchDirs(spark, indexDir)
    val pages =
      if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), PagesSchema)
      else spark.read.schema(PagesSchema).parquet(dirs: _*)
    val latest = pages.groupBy("doc_id").agg(max("batch").as("batch"))
    pages.join(latest, Seq("doc_id", "batch")).select("doc_id", "url", "text")
  }

  /** Compact the stream into a full SERVING index (terms, compressed
    * bucketed blocks, stats) at `outDir` — the analog of the reference's
    * periodic full save after watcher updates (save_on_watcher_update,
    * config.rs:150). It is a [[CheckpointedBuild]] of [[currentPages]]:
    * compacting again into the same `outDir` re-tokenizes only the docId
    * slices whose pages changed, while the docId range stays the same;
    * appends that widen the range re-slice and re-tokenize every slice.
    */
  def compact(spark: SparkSession, indexDir: String, outDir: String,
      blockBits: Int = PostingBlocks.DefaultBlockBits): BuiltIndex = {
    val pages = currentPages(spark, indexDir).persist(StorageLevel.MEMORY_AND_DISK)
    try CheckpointedBuild.build(spark, pages, outDir, blockBits = blockBits)
    finally pages.unpersist(blocking = false)
  }
}
