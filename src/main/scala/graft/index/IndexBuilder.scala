package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.checkpoint.{BuildSpine, DriverParquet, TfInput, TfUnit}
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
  * additionally BUCKETED by block_id (see [[blocks]]).
  */
class BuiltIndex(val spark: SparkSession, val path: String) {
  BuiltIndex.requireLocal(path)
  lazy val docs: DataFrame = read("docs", IndexBuilder.DocsSchema)
  lazy val terms: DataFrame = read("terms", IndexBuilder.TermsSchema)

  /** `(term_id, doc_id, impact)` decoded from the block files, read as
    * plain parquet: the decode needs no one-task-per-bucket scan. On a
    * "q8" index the impacts are the quantized ones the block path scores.
    */
  lazy val postings: DataFrame = PostingBlocks.decode(blockFiles, impactCodec)

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
  lazy val termsRev: DataFrame =
    dimension("terms_rev", IndexBuilder.TermsRevSchema, BuiltIndex.termsRevOf)

  /** Character-trigram dimension (gram, term_id), files sorted by gram:
    * infix dictionary lookups (`%foo%` from regex literal analysis)
    * become pushed In(gram) probes that prune row groups instead of a
    * full containment scan of the dictionary.
    */
  lazy val termsNgrams: DataFrame =
    dimension("terms_ngrams", IndexBuilder.TermsNgramsSchema, BuiltIndex.termsNgramsOf)

  /** A dictionary dimension; an index written before it existed derives
    * it from `terms` on the fly (correct, unpruned).
    */
  private def dimension(table: String, schema: StructType,
      derive: DataFrame => DataFrame): DataFrame =
    if (Files.exists(Paths.get(path, table))) read(table, schema) else derive(terms)

  /** Raw token-frequency rows (term, doc_id, tf[, doc_len]) — the build
    * intermediate every derived table re-reads on rebuilds. Batch builds
    * write it at {path}/tf; checkpointed builds at {path}/tf/slice=p,
    * which the same read covers via partition discovery (commit markers
    * are underscore-prefixed and ignored by the reader).
    */
  lazy val tfRows: DataFrame = spark.read.parquet(s"$path/tf")

  /** ((num_buckets, block_bits), impact codec) from `blocks_meta`, read on
    * the driver: no Spark job.
    */
  private lazy val meta: (Option[(Int, Int)], String) = BuiltIndex.readBlocksMeta(path)

  /** (num_buckets, block_bits) recorded at build time; None for a legacy
    * (pre-bucketed) blocks layout.
    */
  lazy val blocksMeta: Option[(Int, Int)] = meta._1

  /** Block width of a legacy index, which records none, found from one
    * block past block 0: the shift that maps its first doc id to its
    * block id (one Spark job). When every posting lies in block 0, a
    * shift of 63 maps every doc id there too.
    */
  private[graft] lazy val legacyBlockBits: Int =
    blockFiles.where(col("block_id") > 0).select("block_id", "docs_enc").head(1)
      .headOption.fold(63) { r =>
        val block = r.getLong(0)
        val doc = PostingCodec.decodeDocIds(r.getAs[Array[Byte]](1), 1)(0)
        (0 until 63).find(s => (doc >> s) == block).getOrElse(throw
          new IllegalStateException(s"block $block cannot hold doc $doc in $path"))
      }

  /** Impact encoding of the blocks table: "f64" (bit-exact scores) or
    * "q8" (8-bit quantized, ~8x smaller impact payloads).
    */
  lazy val impactCodec: String = meta._2

  /** Whether the blocks table carries the bucketed-by-block_id contract
    * (query merge may then skip its per-query Exchange).
    */
  def blocksBucketed: Boolean = blocksMeta.isDefined

  /** The blocks table. Bucketed layout: registered in the session catalog
    * so the scan plans ONE TASK PER BUCKET — all (term_id, block_id)
    * groups of a docId range complete inside a single task, no per-query
    * shuffle. `autoBucketedScan` must stay DISABLED for this session:
    * Spark would otherwise fall back to size-based file splitting for
    * plans with no distribution requirement (ours is a mapPartitions
    * merge), which can split a block group across tasks and silently drop
    * conjunctive candidates.
    */
  lazy val blocks: DataFrame = blocksMeta match {
    case Some((numBuckets, _)) =>
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val t = BuiltIndex.blocksTableName(path)
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $t (
           |  term_id BIGINT, block_id BIGINT, n INT,
           |  docs_enc BINARY, impacts_enc BINARY,
           |  block_max DOUBLE)
           |USING PARQUET
           |CLUSTERED BY (block_id) SORTED BY (term_id, block_id)
           |INTO $numBuckets BUCKETS
           |LOCATION '$path/blocks'""".stripMargin)
      spark.table(t)
    case None => spark.read.parquet(s"$path/blocks")
  }
  /** The stats row, read on the driver. */
  lazy val stats: IndexStats = BuiltIndex.readStats(path)

  /** Pin the hot query-path tables in executor memory (spill-to-disk) and
    * materialize them — the serving-mode analog of the reference holding
    * its whole index in RAM (README.md:517 'pre-indexed in RAM'). Scale
    * note: blocks+terms are the compressed index (a small fraction of the
    * corpus); at cluster scale this is the standard hot-tier cache.
    *
    * For a bucketed index the hot tier holds the `terms` and `docs`
    * tables and one resident `HotPartition` per blocks bucket: its block
    * rows indexed by term_id plus the urls of its docs, persisted
    * MEMORY_AND_DISK with its lineage kept, so a lost executor recomputes
    * it from the parquet files. With the partitions in memory, every
    * batchable chunk of `Bm25Query.searchBlocksBatchEx` — and so
    * `searchBlocks` (plain or url-glob filtered), `searchBlocksBoosted`,
    * `searchBlocksFiltered` and `searchWithLines`, each a batch of one —
    * runs as ONE Spark job with no SQL planning; a doc set or rank set
    * joins it as a side input partitioned like the buckets, whose shuffle
    * is a stage of that job. `searchNaive` and short queries keep the
    * Dataset path, which reads blocks from parquet. If some partition
    * does not fit in memory, or is later
    * evicted to disk, queries take the Dataset path too, since a spilled
    * partition is read back whole per query. An
    * unbucketed index caches the `blocks` table instead of the partitions.
    * On the 2000-doc perfbench `serve` corpus the partitions, terms and
    * docs take about 3.4 MB of executor memory, where caching the blocks
    * table with terms and docs takes 4.0 MB.
    */
  def cacheHot(): this.type = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    if (blocksMeta.isEmpty) blocks.persist(level)
    terms.persist(level)
    docs.persist(level)
    impactCodec // read once here; the hot path consults it per query
    // materialize the caches CONCURRENTLY (guide §2.6) — they are
    // independent scans, and serially each paid its own planning+schedule
    // round trip; the hot partitions are one more leg
    graft.Par.all(spark)(
      () => if (blocksMeta.isEmpty) blocks.count(),
      () => terms.count(),
      () => docs.count(),
      () => blocksMeta.filter(_ => hot.isEmpty).foreach { case (n, bits) =>
        hot = graft.query.HotServing.tier(this, n, bits)
      })
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
    * remote filesystem and load it as a legacy one instead of failing.
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

  /** ((num_buckets, block_bits), impact codec) of the index at `path`,
    * read on the driver. A missing `blocks_meta` is a legacy index:
    * unbucketed, "f64" (as is a row from before the codec column). One
    * that exists but cannot be read fails: a "q8" index read as "f64"
    * would serve wrong scores.
    */
  private[graft] def readBlocksMeta(path: String): (Option[(Int, Int)], String) = {
    val dir = Paths.get(path, "blocks_meta")
    if (!Files.exists(dir)) (None, "f64")
    else {
      val r = DriverParquet.read(dir, BlocksMetaSchema).headOption
        .getOrElse(throw new IllegalStateException(s"no blocks_meta row in $path"))
      (Some((r.getInt(0), r.getInt(1))), Option(r.getString(2)).getOrElse("f64"))
    }
  }

  /** Default cap for the driver-resident dictionary (~1 GB on-heap at
    * ~200 bytes/entry — see [[BuiltIndex.cacheDictionary]]).
    */
  val DefaultMaxDriverTerms = 5000000L

  private[index] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[BuiltIndex])

  /** Session-catalog name for the bucketed blocks table at `path` (stable
    * across sessions so a load re-registers the same table).
    */
  def blocksTableName(path: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_blocks_${h.take(16)}"
  }
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

  /** v2 tf schema (term dense per row) — kept for the STREAMING path:
    * latest-wins batch views can drop the rows carrying a term's only
    * non-null string while keeping other rows of the same term, which
    * would break the sparse-string recovery above. Batch builds (where
    * the whole tf table is one consistent snapshot) use the sparse v3.
    */
  def termFrequenciesDense(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val tc = Tokenizer.termFrequencies(text)
        val dl = tc.total
        tc.iterator.map { case (t, c) => (t, id, c, dl) }
      }.toDF("term", "doc_id", "tf", "doc_len")
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
    * `terms_ngrams` (written by the build's terms stage).
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
    * derived table to read back. A batch build starts afresh; it never
    * resumes an earlier one. `outDir` is a local filesystem path
    * ([[BuiltIndex.requireLocal]]).
    */
  def build(spark: SparkSession, pagesDf: DataFrame, outDir: String,
      blockBits: Int = PostingBlocks.DefaultBlockBits,
      numBuckets: Int = -1,
      quantizeImpacts: Boolean = false): BuiltIndex = {
    val spine = new BuildSpine(spark, outDir).reset(keepTf = false)
    // Par.spread: a single-file corpus otherwise runs the safety UDF —
    // and every downstream stage reading the written pages — as one task
    graft.Par.spread(pagesDf.select(col("doc_id"), col("url"), col("text")))
      .where(Extract.safe(col("text")))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$outDir/pages")
    val pages = spark.read.parquet(s"$outDir/pages")
    val tf = spine.commitTf(0, s"$outDir/tf", termFrequencies(pages), "pages")()
    spine.run(TfInput(Seq(TfUnit(0, "tf", tf)), tf, "tf"),
      pages.select("doc_id", "url"), blockBits, numBuckets, quantizeImpacts)
  }

  /** Build the index tables from token-frequency rows — v3 `(term sparse,
    * term_id, doc_id, tf, doc_len)`, v2 `(term, doc_id, tf, doc_len)` or
    * legacy v1 `(term, doc_id, tf)` — and a docs dimension `(doc_id, url,
    * doc_len)` whose doc lengths are kept: streaming compaction
    * (IncrementalIndex.compact) and rebuilds from a written tf table.
    *
    * The [[BuildSpine]] front end with the rows as one unit, brought to
    * the v3 shape first (doc_len joined from the docs dimension, `term_id
    * = xxhash64(term)` with the string on every row), so the dictionary
    * has one code path. Past `maxBroadcastTerms` dictionary terms the idf
    * attach takes an id-keyed shuffle join instead of a broadcast.
    */
  def buildFromTf(spark: SparkSession, tfR: DataFrame, docsDim: DataFrame,
      outDir: String,
      blockBits: Int = PostingBlocks.DefaultBlockBits,
      numBuckets: Int = -1,
      quantizeImpacts: Boolean = false,
      maxBroadcastTerms: Long = DictBroadcastMaxTerms): BuiltIndex = {
    val withLen =
      if (tfR.columns.contains("doc_len")) tfR
      else tfR.join(docsDim.select("doc_id", "doc_len"), Seq("doc_id"))
    val tf = (if (withLen.columns.contains("term_id")) withLen
      else withLen.withColumn("term_id", xxhash64(col("term"))))
      .select("term", "term_id", "doc_id", "tf", "doc_len")
    val spine = new BuildSpine(spark, outDir).reset(keepTf = true)
    spine.run(TfInput(Seq(TfUnit(0, "tf", tf)), tf, "tf"), docsDim, blockBits,
      numBuckets, quantizeImpacts, maxBroadcastTerms)
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
