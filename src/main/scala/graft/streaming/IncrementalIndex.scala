package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.extract.Extract

/** Incremental index maintenance via Structured Streaming — the Spark
  * re-expression of the reference's watcher pipeline:
  *
  *  - file-watcher source with debounce
  *    (/root/reference/src/search/watcher.rs:16-160) -> streaming file
  *    source + trigger interval;
  *  - append-only upsert: a modified file is simply re-indexed and its
  *    postings APPENDED; stale postings are tolerated, deletes are no-ops
  *    (engine.rs:2676-2681, main.rs:270-277) — we keep exactly those
  *    semantics: the merged view takes the LATEST batch per doc;
  *  - save-after-N-updates checkpointing (config.rs:150) -> the streaming
  *    checkpoint location (exactly-once per micro-batch).
  *
  * Layout under `indexDir`:
  *   stream_tf/batch=<id>/   — per-micro-batch tf rows (term, doc_id, tf,
  *                             doc_len, batch) — appended, never rewritten
  *   stream_docs/batch=<id>/ — per-batch (doc_id, url, doc_len, batch)
  */
object IncrementalIndex {

  /** Per-batch ingest: extract -> safety gate -> tokenize -> tf, appended
    * under the batch id. Pure function of the batch content.
    */
  def appendBatch(batch: DataFrame, indexDir: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val hasHtml = batch.columns.contains("html")
    val pages =
      if (hasHtml)
        batch.withColumn("text", Extract.extractText(col("html")))
          .where(col("text").isNotNull)
      else batch
    val clean = pages.where(Extract.safe(col("text")))
      .select(col("doc_id"), col("url"), col("text"))
    // doc-local tf histogram — zero-shuffle. DENSE v2 schema on purpose:
    // the latest-wins read view can drop the rows that carry a term's only
    // non-null string while keeping other rows of the term, so the sparse
    // v3 string recovery is unsound across batch supersedes.
    val tf = graft.index.IndexBuilder.termFrequenciesDense(clean)
      .withColumn("batch", lit(batchId))
    tf.write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(s"$indexDir/stream_tf/batch=$batchId")
    clean.select("doc_id", "url")
      .join(tf.groupBy("doc_id").agg(first("doc_len").as("doc_len")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("doc_len"))
      .withColumn("batch", lit(batchId))
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/stream_docs/batch=$batchId")
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

  /** Cache for the per-directory "does any batch lack doc_len" verdict:
    * ONE entry per indexDir holding (last-seen batch count, verdict),
    * replaced whenever the count changes (stream dirs are append-only, so
    * a new batch re-evaluates; existing batches never change schema). A
    * single slot per dir also means a long-running stream doesn't
    * accumulate one stale entry per batch ever observed.
    */
  private val healCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Boolean)]

  /** True when some stream_tf batch predates the doc_len column. Decided
    * from the per-batch parquet FOOTER schemas — driver-side metadata
    * reads, no Spark job, no data scan (the previous
    * `where(doc_len.isNull).isEmpty` probe executed a full scan of every
    * batch on every serving-path read).
    */
  private def needsHealing(spark: SparkSession, indexDir: String): Boolean = {
    val batches = batchDirs(spark, indexDir, "stream_tf")
    healCache.get(indexDir) match {
      case Some((n, verdict)) if n == batches.length => verdict
      case _ =>
        val verdict = batches.exists { b =>
          !spark.read.parquet(b).schema.fieldNames.contains("doc_len")
        }
        healCache.put(indexDir, (batches.length, verdict))
        verdict
    }
  }

  /** The `batch=<id>` directories of `indexDir/table`, listed on the
    * driver. Reads take them as an explicit path list: a glob path makes
    * Spark probe it for a streaming-sink metadata directory, which logs a
    * `FileNotFoundException` at WARN on every read. Each batch's rows
    * carry their `batch` column.
    */
  private def batchDirs(spark: SparkSession, indexDir: String, table: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(b => b.isDirectory && b.getPath.getName.startsWith("batch="))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Merged current view of the streamed index: latest batch wins per
    * doc (the reference keeps stale postings around until a full rebuild;
    * exposing latest-wins at read time is the same contract with the
    * staleness removed at query time instead of compaction time).
    */
  def currentTf(spark: SparkSession, indexDir: String): DataFrame = {
    // mergeSchema: a long-lived stream dir may mix v1 batches (no
    // doc_len) with v2 batches. v1 rows are healed EXACTLY — doc_len is
    // by definition the per-(doc, batch) sum of tf, so a window sum
    // reconstructs it; v2 rows keep their carried value (coalesce). An
    // all-v2 dir short-circuits past the window (no extra shuffle) — the
    // verdict comes from batch footer schemas, not a data scan.
    val tf = spark.read.option("mergeSchema", "true")
      .parquet(batchDirs(spark, indexDir, "stream_tf"): _*)
    val withLen =
      if (!tf.columns.contains("doc_len"))
        tf.withColumn("doc_len", sum("tf").over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "batch")))
      else if (!needsHealing(spark, indexDir)) tf
      else tf.withColumn("doc_len", coalesce(col("doc_len"), sum("tf").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "batch"))))
    val latest = withLen.groupBy("doc_id").agg(max("batch").as("batch"))
    withLen.join(latest, Seq("doc_id", "batch"))
      .select("term", "doc_id", "tf", "doc_len")
  }

  def currentDocs(spark: SparkSession, indexDir: String): DataFrame = {
    val d = spark.read.parquet(batchDirs(spark, indexDir, "stream_docs"): _*)
    val latest = d.groupBy("doc_id").agg(max("batch").as("batch"))
    d.join(latest, Seq("doc_id", "batch")).select("doc_id", "url", "doc_len")
  }

  /** Compact the streamed state into a full SERVING index (terms,
    * compressed bucketed blocks, stats) at `outDir` — the
    * analog of the reference's periodic full save after watcher updates
    * (save_on_watcher_update, config.rs:150): the stream keeps the
    * latest-wins tf/docs deltas cheap to append; compaction turns them
    * into the query-optimal layout whenever serving wants to refresh.
    */
  def compact(spark: SparkSession, indexDir: String, outDir: String,
      blockBits: Int = graft.index.PostingBlocks.DefaultBlockBits,
      numBuckets: Int = -1): graft.index.BuiltIndex =
    graft.index.IndexBuilder.buildFromTf(spark,
      currentTf(spark, indexDir), currentDocs(spark, indexDir),
      outDir, blockBits, numBuckets)
}
