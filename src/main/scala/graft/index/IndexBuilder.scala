package graft.index

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.checkpoint.{BuildSpine, DriverParquet, TfInput}
import graft.extract.Extract
import graft.tokenize.Tokenizer

/** Global index statistics (persisted as a single-row table). */
case class IndexStats(
    num_docs: Long,
    total_tokens: Long,
    avgdl: Double,
    num_terms: Long,
    num_postings: Long)

/** Handle on a built (or loaded) index directory:
  *
  *   {path}/docs      (doc_id, url, doc_len)           — per-doc metadata
  *   {path}/terms     (term_id, term, df, idf)         — term dictionary
  *   {path}/terms_rev (term_rev, term_id)              — suffix-lookup dim
  *   {path}/terms_ngrams (gram, term_id)               — infix-lookup dim
  *   {path}/blocks    (term_id, block_id, n, docs_enc,
  *                     impacts_enc, block_max)         — the one posting layout
  *   {path}/blocks_meta single [[BlocksMeta]] row
  *   {path}/stats     single IndexStats row
  *   {path}/manifest  one row per committed build unit (BuildSpine)
  *
  * blocks/terms/docs are sorted within files (term_id / term / doc_id)
  * so the query-side `IN (...)` filters prune parquet row groups via
  * min/max stats — the distributed analog of the reference's hash lookup
  * (/root/reference/src/index/trigram.rs:130-145) — and blocks are
  * additionally BUCKETED by block_id, each file named for its bucket (see
  * [[bucketFiles]]). This is the one layout an index has: opening a
  * directory checks it on the driver ([[BuiltIndex.readLayout]]), and any
  * other fails to load.
  */
class BuiltIndex(val spark: SparkSession, val path: String) {
  BuiltIndex.requireLocal(path)

  /** (num_buckets, block_bits) the blocks were written with, read on the
    * driver as the index is opened: an index of any other layout fails
    * here.
    */
  val blocksMeta: (Int, Int) = BuiltIndex.readLayout(path)

  lazy val docs: DataFrame = read("docs", IndexBuilder.DocsSchema)
  lazy val terms: DataFrame = read("terms", IndexBuilder.TermsSchema)

  /** `(term_id, doc_id, impact)` decoded from the block files, read as
    * plain parquet (the decode needs no one-task-per-bucket scan), joined
    * with the dictionary's idf: each impact is recomputed from the
    * posting's tf and doc_len, the idf and avgdl exactly as the block
    * path does.
    */
  lazy val postings: DataFrame = PostingBlocks.decode(
    blockFiles.join(terms.select("term_id", "idf"), "term_id"), stats.avgdl)

  /** The encoded block rows behind [[postings]], for a reader that joins
    * before it decodes.
    */
  private[graft] lazy val blockFiles: DataFrame = read("blocks", PostingBlocks.Schema)

  /** A table of this index, read with the schema its builder writes:
    * inferring it from the file footers would cost a Spark job per table.
    */
  private def read(table: String, schema: StructType): DataFrame =
    spark.read.schema(BuiltIndex.nullable(schema)).parquet(s"$path/$table")

  /** Reversed-term dimension (term_rev, term_id), files sorted by
    * term_rev: suffix dictionary lookups (`%foo` from regex literal
    * analysis) become sorted-range predicates that prune row groups —
    * the mirror of the sorted `terms` files serving prefix ranges.
    */
  lazy val termsRev: DataFrame = read("terms_rev", IndexBuilder.TermsRevSchema)

  /** Character-trigram dimension (gram, term_id), files sorted by gram:
    * infix dictionary lookups (`%foo%` from regex literal analysis)
    * become pushed In(gram) probes that prune row groups instead of a
    * full containment scan of the dictionary.
    */
  lazy val termsNgrams: DataFrame = read("terms_ngrams", IndexBuilder.TermsNgramsSchema)

  /** `(term_id, doc_id, tf, doc_len)`, one row per posting, decoded from
    * the block files: blocks store each posting's tf and doc_len, so every
    * index — batch, checkpointed or compacted — has this one tf reader. A
    * checkpoint keeps its `tf/slice=p` units as its resume state and a
    * batch build drops its `tf` table; neither is read here.
    */
  lazy val tfRows: DataFrame = PostingBlocks.decodeTf(blockFiles)

  /** `bucketFiles(i)`: the visible `blocks` files whose names carry Spark
    * bucket id i, listed once, at the first serving read. A file whose
    * name carries no id of a bucket fails it, naming the file: no task
    * would read it. Serving reads the blocks through these lists
    * ([[graft.query.BucketFiles]]), not through the catalog.
    */
  private[graft] lazy val bucketFiles: IndexedSeq[Seq[String]] = {
    val n = blocksMeta._1
    val byBucket = DriverParquet.list(Paths.get(path, "blocks"))
      .filterNot(f => DriverParquet.hidden(f.getFileName.toString)).groupBy { f =>
        val id = BucketingUtils.getBucketId(f.getFileName.toString)
        id.filter(_ < n).getOrElse(throw new IllegalStateException(s"blocks file $f of index " +
          s"$path is in none of its $n buckets: its name carries bucket id ${id.getOrElse("none")}"))
      }
    (0 until n).map(b => byBucket.getOrElse(b, Nil).map(_.toString).sorted)
  }

  /** The stats row, read on the driver. */
  lazy val stats: IndexStats = BuiltIndex.readStats(path)

  /** Pin the hot query-path tables in executor memory (spill-to-disk) and
    * materialize them — the serving-mode analog of the reference holding
    * its whole index in RAM (README.md:517 'pre-indexed in RAM'). Scale
    * note: blocks+terms are the compressed index (a small fraction of the
    * corpus); at cluster scale this is the standard hot-tier cache.
    *
    * The hot tier holds the `terms` and `docs` tables and one resident
    * `HotPartition` per blocks bucket: its block rows indexed by term_id
    * plus the urls of its docs, persisted MEMORY_AND_DISK with its lineage
    * kept, so a lost executor recomputes it from its bucket's files. With
    * the partitions in memory, every batchable chunk of
    * `Bm25Query.searchBlocksBatchEx` — and so `searchBlocks` (plain or
    * url-glob filtered), `searchBlocksBoosted`, `searchBlocksFiltered` and
    * `searchWithLines`, each a batch of one — runs as ONE Spark job with
    * no SQL planning; a doc set or rank set joins it as a side input
    * partitioned like the buckets, whose shuffle is a stage of that job.
    * `searchNaive` and short queries keep the Dataset path. If some
    * partition does not fit in memory, or is later evicted to disk,
    * queries run as on a cold index: each bucket's files read for the
    * query's terms, scored by the same per-bucket scorer, since a spilled
    * partition is read back whole per query. Every index has this one
    * layout; an index of an older one fails at load and must be rebuilt.
    * On the 2000-doc perfbench `serve` corpus the partitions, terms and
    * docs take about 1.8 MB of executor memory.
    */
  def cacheHot(): this.type = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    terms.persist(level)
    docs.persist(level)
    // materialize the caches CONCURRENTLY (guide §2.6) — they are
    // independent scans, and serially each paid its own planning+schedule
    // round trip; the hot partitions are one more leg
    graft.Par.all(spark)(
      () => terms.count(),
      () => docs.count(),
      () => if (hot.isEmpty) hot = graft.query.HotServing.tier(this))
    this
  }

  @volatile private var hot: Option[graft.query.HotTier] = None

  /** The resident per-bucket partitions, while [[cacheHot]] holds all of
    * them in executor memory.
    */
  private[graft] def hotPartitions: Option[RDD[graft.query.HotPartition]] =
    hot.filter(_.resident).map(_.rdd)

  /** The hot tier [[cacheHot]] built, resident or not. */
  private[graft] def hotTier: Option[graft.query.HotTier] = hot

  /** Optional driver-resident dictionary for serving mode: query analysis
    * becomes a map lookup instead of a Spark job (one of the 3-4 fixed
    * driver jobs each query pays). Only sensible when the dictionary fits
    * the driver — the reference holds its whole trigram map in RAM
    * (trigram.rs:63-71); at 10^9+ terms keep the pruned parquet lookup
    * (terms files are sorted by term, so the pushed In(term) filter reads
    * a handful of row groups) or shard the dictionary.
    *
    * Driver budget: each entry is roughly 150-200 bytes on-heap (String
    * key + boxed tuple + HashMap node), so the 5M default is ~1 GB — safe
    * inside a default 16g driver. Web-scale vocabularies (1e8-1e9 terms)
    * exceed any driver heap and must stay on the pruned parquet path;
    * the previous 50M default was a driver OOM waiting to happen.
    */
  @volatile private var hotDict: Map[String, (Long, Long, Double)] = null

  def cacheDictionary(maxTerms: Long = BuiltIndex.DefaultMaxDriverTerms): this.type = {
    if (stats.num_terms <= maxTerms) {
      import spark.implicits._
      hotDict = terms.select("term", "term_id", "df", "idf")
        .as[(String, Long, Long, Double)].collect()
        .map { case (t, id, df, idf) => t -> ((id, df, idf)) }.toMap
    } else {
      BuiltIndex.log.info(
        s"dictionary has ${stats.num_terms} terms > maxTerms=$maxTerms; " +
        "query analysis stays on the pruned parquet path (sorted terms " +
        "files, pushed In(term) filter)")
    }
    this
  }

  /** Driver dictionary lookup, None when not cached. */
  def lookupTerms(tokens: Seq[String]): Option[Seq[(String, Long, Long, Double)]] = {
    val d = hotDict
    if (d == null) None
    else Some(tokens.flatMap(t => d.get(t).map { case (id, df, idf) =>
      (t, id, df, idf)
    }))
  }
}

/** The `blocks_meta` row: the bucketed layout and the impact codec. */
case class BlocksMeta(num_buckets: Int, block_bits: Int, impact_codec: String)

object BuiltIndex {
  /** `s` with every field nullable — what a parquet read-back reports. */
  private[graft] def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** The dictionary dimensions of `terms`: reversed terms and the
    * distinct character trigrams of each term.
    */
  private[graft] def termsRevOf(terms: DataFrame): DataFrame =
    terms.select(reverse(col("term")).as("term_rev"), col("term_id"))
  private[graft] def termsNgramsOf(terms: DataFrame): DataFrame =
    terms.select(explode(expr(
      """array_distinct(CASE WHEN length(term) >= 3
        |THEN transform(sequence(1, length(term) - 2),
        |               i -> substring(term, i, 3))
        |ELSE array() END)""".stripMargin)).as("gram"), col("term_id"))

  /** Index paths are local filesystem paths without a URI scheme: the
    * one-row tables, commit markers and manifest are read and written on
    * the driver through java.nio, which would not see an index on a
    * remote filesystem.
    */
  private[graft] def requireLocal(path: String): Unit =
    require(new org.apache.hadoop.fs.Path(path).toUri.getScheme == null,
      s"index path $path is not a local filesystem path")

  /** Schemas of the one-row tables, as Spark's writer derives them. */
  private[graft] val StatsSchema: StructType = Encoders.product[IndexStats].schema
  private[graft] val BlocksMetaSchema: StructType = Encoders.product[BlocksMeta].schema

  /** The stats row of the index at `path`, read on the driver. */
  private[graft] def readStats(path: String): IndexStats = {
    val r = DriverParquet.read(Paths.get(path, "stats"), StatsSchema).headOption
      .getOrElse(throw new IllegalStateException(s"no stats row in $path"))
    IndexStats(r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))
  }

  /** (num_buckets, block_bits) of the index at `path`, read on the
    * driver before any Spark job. An index has one layout: bucketed
    * blocks described by a `blocks_meta` row that names the impact codec
    * "tfdl" ([[PostingCodec]]), beside the `terms_rev` and `terms_ngrams`
    * dimensions. Anything else — no, an unreadable or an incomplete
    * `blocks_meta` row, another codec (the f64 impact doubles or the q8
    * quantized impacts of older builds, or an unknown one), or a missing
    * dimension — fails the load; such an index must be rebuilt.
    */
  private[graft] def readLayout(path: String): (Int, Int) = {
    def stale(why: String, cause: Throwable = null) = new IllegalStateException(
      s"index $path $why: it is not of the current index layout and must be rebuilt", cause)
    Seq("terms_rev", "terms_ngrams").find(t => !Files.isDirectory(Paths.get(path, t)))
      .foreach(t => throw stale(s"has no $t table"))
    val rows =
      try DriverParquet.read(Paths.get(path, "blocks_meta"), BlocksMetaSchema)
      catch { case NonFatal(e) => throw stale("has an unreadable blocks_meta table", e) }
    val layout = rows.headOption.filterNot(r => (0 until 3).exists(r.isNullAt))
      .map(r => ((r.getInt(0), r.getInt(1)), r.getString(2)))
      .getOrElse(throw stale("has no blocks_meta row with an impact codec"))
    if (layout._2 != ImpactCodec)
      throw stale(s"has blocks of impact codec ${layout._2}, not $ImpactCodec")
    layout._1
  }

  /** The impact codec of the blocks, recorded in `blocks_meta`. */
  private[graft] val ImpactCodec = "tfdl"

  /** Default cap for the driver-resident dictionary (~1 GB on-heap at
    * ~200 bytes/entry — see [[BuiltIndex.cacheDictionary]]).
    */
  val DefaultMaxDriverTerms = 5000000L

  private[index] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[BuiltIndex])
}

/** Distributed inverted-index build — the Spark re-expression of the
  * reference's single-writer batch pipeline
  * (/root/reference/src/search/background_indexer.rs:634-860):
  * discovery walk -> parquet scan; rayon map phases -> narrow codegen'd
  * stages; RwLock merge -> groupBy shuffles with map-side partial agg;
  * bincode save -> partitioned parquet tables.
  */
object IndexBuilder {

  /** Dictionary size up to which the blocks encode ships (term_id, idf)
    * as a broadcast map — ~16B/entry plus overhead, so 2M terms is a
    * ~100MB broadcast, inside the standard executor budget. Beyond it
    * the idf attach pays one shuffle keyed by the 8-byte term_id.
    */
  val DictBroadcastMaxTerms = 2000000L

  /** T1 tokenize (embeddings.rs:342-348) + A1 tf aggregation, `(doc_id,
    * text) -> (term sparse, term_id, doc_id, tf, doc_len)` (tf schema v3)
    * WITHOUT a shuffle: the groups are doc-local (each doc lives in one
    * input row), so a typed flatMap computes each doc's token histogram
    * in one narrow stage, allocation-lean (Tokenizer.termFrequencies).
    *
    * doc_len (the doc's kept-token count) rides along on every row, so
    * the blocks encode computes BM25 impacts without re-joining tf to the
    * docs dimension; parquet RLE makes the repeated column nearly free.
    * Every derived table only needs the 8-byte term_id, so the term
    * STRING is emitted ONCE PER PARTITION (first sight, tracked by an
    * open-addressed id set), null on every repeat: the dictionary recovers
    * the strings with `min/max(term)` over the id groups, and min≠max is
    * the collision guard's signal. term_id is the SAME xxhash64(seed 42)
    * as the Catalyst function ([[Tokenizer.termId]], parity-tested).
    *
    * This is the one tf pass: the batch build runs it over its pages, a
    * checkpointed build (and so a stream's compaction) per docId slice.
    * Each unit is tokenized whole from its pages, so every unit carries
    * at least one string of each of its terms.
    */
  def termFrequencies(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val seen = new graft.tokenize.SeenTermIds
        rows.flatMap { case (id, text) =>
          val tc = Tokenizer.termFrequencies(text)
          val dl = tc.total
          tc.iterator.map { case (t, c) =>
            val tid = Tokenizer.termId(t)
            (if (seen.add(tid)) t else null, tid, id, c, dl)
          }
        }
      }.toDF("term", "term_id", "doc_id", "tf", "doc_len")
  }

  /** Schemas of the `docs` and `terms` tables, pinned for read-backs so
    * that no read infers them from file footers — a Spark job per read.
    */
  private[graft] val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType),
    StructField("doc_len", LongType)))
  private[graft] val TermsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("term_id", LongType), StructField("idf", DoubleType)))

  /** Schemas of the derived dictionary dimensions `terms_rev` and
    * `terms_ngrams` (written by the build's dims stage).
    */
  private[graft] val TermsRevSchema: StructType = StructType(Seq(
    StructField("term_rev", StringType), StructField("term_id", LongType)))
  private[graft] val TermsNgramsSchema: StructType = StructType(Seq(
    StructField("gram", StringType), StructField("term_id", LongType)))

  /** Batch build from a pages-shaped DataFrame `(doc_id LONG, url STRING,
    * text STRING)`; callers with raw html use [[extractPages]] first.
    *
    * The [[BuildSpine]] front end with one tf unit. It keeps what only a
    * batch build does: the extracted, safety-gated pages materialize ONCE
    * at `{outDir}/pages` (extraction and the safety scan are the build's
    * most expensive per-byte work, and the tf pass and line-level serving
    * both read them), then the tf pass writes `{outDir}/tf` once for every
    * derived table to read back, and the build deletes it once they all
    * committed: the blocks carry each posting's tf ([[BuiltIndex.tfRows]]).
    * A batch build starts afresh, a `tf` left by a crashed one included;
    * it never resumes an earlier one. `outDir` is a local filesystem path
    * ([[BuiltIndex.requireLocal]]).
    */
  def build(spark: SparkSession, pagesDf: DataFrame, outDir: String,
      blockBits: Int = PostingBlocks.DefaultBlockBits,
      numBuckets: Int = -1): BuiltIndex = {
    val spine = new BuildSpine(spark, outDir).reset()
    // Par.spread: a single-file corpus otherwise runs the safety UDF —
    // and every downstream stage reading the written pages — as one task
    val pages = graft.Par.described(spark, "graft.build.extract") {
      graft.Par.spread(pagesDf.select(col("doc_id"), col("url"), col("text")))
        .where(Extract.safe(col("text")))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$outDir/pages")
      spark.read.parquet(s"$outDir/pages")
    }
    val tf = spine.commitTf(0, s"$outDir/tf", termFrequencies(pages), "pages")()
    val built = spine.run(TfInput(tf, "tf"),
      pages.select("doc_id", "url"), blockBits, numBuckets)
    // every stage that reads tf has committed and blocks hold each
    // posting's tf and doc_len: tf is the one table a batch index drops
    // (its manifest row stays, as the lineage record)
    DriverParquet.remove(Paths.get(outDir, "tf"))
    built
  }

  /** S4 extraction front end: raw pages (url, warc_ts, html, ...) ->
    * (doc_id, url, text) with binary rows rejected (null text dropped).
    */
  def extractPages(pagesRaw: DataFrame): DataFrame =
    pagesRaw
      .withColumn("text_x", Extract.extractText(col("html")))
      .where(col("text_x").isNotNull)
      .select(col("doc_id"), col("url"), col("text_x").as("text"))

  /** The index built at `path`, a local filesystem path
    * ([[BuiltIndex.requireLocal]]).
    */
  def load(spark: SparkSession, path: String): BuiltIndex =
    new BuiltIndex(spark, path)
}
