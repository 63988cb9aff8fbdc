package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  *   {path}/postings  (term_id, doc_id, impact)        — uncompressed rows
  *   {path}/blocks    (term_id, block_id, n, docs_enc,
  *                     impacts_enc, block_max)         — production artifact
  *   {path}/stats     single IndexStats row
  *
  * postings/terms/docs are sorted within files (term_id / term / doc_id)
  * so the query-side `IN (...)` filters prune parquet row groups via
  * min/max stats — the distributed analog of the reference's hash lookup
  * (/root/reference/src/index/trigram.rs:130-145) — and blocks are
  * additionally BUCKETED by block_id (see [[blocks]]).
  */
class BuiltIndex(val spark: SparkSession, val path: String) {
  lazy val docs: DataFrame = read("docs", presetDocsSchema)
  lazy val terms: DataFrame = read("terms", IndexBuilder.TermsSchema)
  lazy val postings: DataFrame = spark.read.parquet(s"$path/postings")

  /** A table of this index, with `schema` when the builder preset the
    * read schemas; otherwise inferred from the file footers (a Spark job).
    */
  private def read(table: String, schema: => StructType): DataFrame =
    if (presetDocsSchema != null) spark.read.schema(schema).parquet(s"$path/$table")
    else spark.read.parquet(s"$path/$table")

  /** Reversed-term dimension (term_rev, term_id), files sorted by
    * term_rev: suffix dictionary lookups (`%foo` from regex literal
    * analysis) become sorted-range predicates that prune row groups —
    * the mirror of the sorted `terms` files serving prefix ranges. A
    * pre-round-4 index without the artifact derives it on the fly
    * (correct, unpruned).
    */
  lazy val termsRev: DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/terms_rev")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) read("terms_rev", IndexBuilder.TermsRevSchema)
    else terms.select(
      org.apache.spark.sql.functions.reverse(
        org.apache.spark.sql.functions.col("term")).as("term_rev"),
      org.apache.spark.sql.functions.col("term_id"))
  }

  /** Character-trigram dimension (gram, term_id), files sorted by gram:
    * infix dictionary lookups (`%foo%` from regex literal analysis)
    * become pushed In(gram) probes that prune row groups instead of a
    * full containment scan of the dictionary. A pre-round-5 index
    * without the artifact derives it on the fly (correct, unpruned).
    */
  lazy val termsNgrams: DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/terms_ngrams")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) read("terms_ngrams", IndexBuilder.TermsNgramsSchema)
    else terms.select(
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          """array_distinct(CASE WHEN length(term) >= 3
            |THEN transform(sequence(1, length(term) - 2),
            |               i -> substring(term, i, 3))
            |ELSE array() END)""".stripMargin)).as("gram"),
      org.apache.spark.sql.functions.col("term_id"))
  }

  /** Raw token-frequency rows (term, doc_id, tf[, doc_len]) — the build
    * intermediate every derived table re-reads on rebuilds. Batch builds
    * write it at {path}/tf; checkpointed builds at {path}/tf/slice=p,
    * which the same read covers via partition discovery (commit markers
    * are underscore-prefixed and ignored by the reader).
    */
  lazy val tfRows: DataFrame = spark.read.parquet(s"$path/tf")

  /** Builder-side presets (round 8): a fresh build KNOWS its stats,
    * blocks metadata and the schemas it wrote — re-reading the
    * just-written single-row tables cost 4 driver jobs per build, and
    * inferring a table's schema from its footers costs one more per
    * table. Loads from disk still lazy-read and infer as before.
    */
  @volatile private var presetBlocksMeta: Option[(Int, Int)] = null
  @volatile private var presetStats: IndexStats = null
  @volatile private var presetCodec: String = null
  @volatile private var presetDocsSchema: StructType = null
  private[graft] def preset(meta: Option[(Int, Int)], st: IndexStats,
      codec: String, docsSchema: StructType): this.type = {
    presetBlocksMeta = meta; presetStats = st; presetCodec = codec
    presetDocsSchema = BuiltIndex.nullable(docsSchema); this
  }

  /** (num_buckets, block_bits) recorded at build time; None for a legacy
    * (pre-bucketed) blocks layout.
    */
  lazy val blocksMeta: Option[(Int, Int)] =
    if (presetBlocksMeta != null) presetBlocksMeta
    else try {
      val r = spark.read.parquet(s"$path/blocks_meta").head()
      Some((r.getInt(0), r.getInt(1)))
    } catch { case _: Throwable => None }

  /** Impact encoding of the blocks table: "f64" (bit-exact scores) or
    * "q8" (8-bit quantized, ~8x smaller impact payloads).
    */
  lazy val impactCodec: String =
    if (presetCodec != null) presetCodec
    else try {
      val df = spark.read.parquet(s"$path/blocks_meta")
      if (df.columns.contains("impact_codec"))
        df.head().getAs[String]("impact_codec")
      else "f64"
    } catch { case _: Throwable => "f64" }

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
  lazy val stats: IndexStats =
    if (presetStats != null) presetStats
    else {
      import spark.implicits._
      spark.read.parquet(s"$path/stats").as[IndexStats].head()
    }

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
    * `searchBlocks` (plain or url-glob filtered), `searchBlocksBoosted`
    * and `searchWithLines`, each a batch of one — runs as ONE Spark job
    * with no SQL planning. `searchNaive`, `searchBlocksFiltered` with an
    * arbitrary doc set, filters or rank sets past the broadcast ceiling
    * and short queries keep the Dataset path, which reads blocks from
    * parquet. If some partition does not fit in memory, or is later
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
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = IndexBuilder.buildEc
    val blocksLeg = blocksMeta match {
      case None => Future(blocks.count()); case Some(_) => Future.unit
    }
    val hotLeg = blocksMeta.filter(_ => hot.isEmpty).map { case (n, bits) =>
      Future(graft.query.HotServing.tier(this, n, bits))
    }
    Seq(blocksLeg, Future(terms.count()), Future(docs.count()))
      .foreach(Await.result(_, Duration.Inf))
    hotLeg.foreach(f => hot = Await.result(f, Duration.Inf))
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

object BuiltIndex {
  /** `s` with every field nullable — what a parquet read-back reports. */
  private[graft] def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

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

  /** Small daemon pool for overlapping the build's independent write
    * actions (guide §2.6): Spark happily runs several jobs at once inside
    * one application, and the per-action driver work (planning, codegen,
    * parquet commit) of one write then overlaps the cluster execution of
    * another. 4 threads bounds the concurrency to the build's actual
    * independent-action count.
    */
  private[index] lazy val buildEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-build-${n.getAndIncrement()}")
            t.setDaemon(true); t
          }
        }))

  /** Dictionary size up to which the postings stage ships (term_id, idf)
    * as a broadcast-hash join — ~16B/entry plus overhead, so 2M terms is
    * a ~100MB broadcast, inside the standard executor budget. Beyond it
    * the idf attach pays one shuffle keyed by the 8-byte term_id.
    */
  val DictBroadcastMaxTerms = 2000000L

  /** Build from a pages-shaped DataFrame. Expects columns
    * (doc_id LONG, url STRING, text STRING); callers with raw html use
    * [[extractPages]] first.
    *
    * Multi-pass design (scale-correct): the token-frequency table is
    * materialized once to parquet, then every derived table (doc lengths,
    * dictionary, postings, blocks) reads it back — no recomputation of the
    * tokenize+shuffle at 100 TB, no executor-memory cache dependency.
    */
  /** T1 tokenize (embeddings.rs:342-348) + A1 tf aggregation,
    * `(doc_id, text) -> (term, doc_id, tf, doc_len)` WITHOUT a shuffle:
    * the groups of the tf aggregation are doc-local (each doc lives in
    * exactly one input row), so the Exchange Catalyst plans for
    * `groupBy(term, doc_id)` is provably redundant — a typed flatMap
    * computes each doc's token histogram in place, one narrow stage.
    * Measured 4-5x faster than explode+groupBy at 100k docs; the tf
    * stage was the dominant build cost.
    *
    * doc_len (the doc's kept-token count) rides along on every row: it is
    * known for free inside the same histogram, and carrying it here lets
    * the postings stage compute BM25 impacts WITHOUT re-joining tf to the
    * docs dimension on doc_id — that join was a second full shuffle of
    * the (large) tf table. Parquet RLE makes the repeated-per-doc column
    * nearly free on disk.
    *
    * The histogram itself is allocation-lean (Tokenizer.termFrequencies):
    * no lowered full-text copy, no String per token occurrence, no boxed
    * counts — the tf stage is memory-bandwidth-bound, so heap bytes
    * touched per doc is the per-node scaling lever.
    */
  /** v3 tf schema (term sparse, term_id, doc_id, tf, doc_len): the term
    * STRING was ~half the tf bytes through the memory bus (the build's
    * binding resource on a single node — BENCH/BASELINE.md), and every
    * derived table only needs the 8-byte term_id. The string is emitted
    * ONCE PER PARTITION (first sight, tracked by an open-addressed id
    * set), null on every repeat — parquet definition levels make the null
    * runs nearly free, and the dictionary recovers the strings with
    * `min/max(term)` over the id groups (each partition guarantees one
    * non-null occurrence per term it contains, so min/max never see an
    * all-null group). term_id is computed with the SAME xxhash64(seed 42)
    * as the Catalyst function ([[Tokenizer.termId]], parity-tested), so
    * declarative consumers can re-derive it; min≠max in a group is the
    * collision guard's loud-failure signal.
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

  /** Build + write the term dictionary `(term, df, term_id, idf)` (files
    * sorted by term so query-time In(term) prunes row groups) from either
    * tf schema, with the xxhash64 collision guard; returns the dictionary
    * row count. Shared by the batch and checkpointed builds.
    *
    *   - v3 tf (sparse strings + precomputed id): ONE groupBy(term_id) —
    *     df is the group size, the string is min(term) (every partition
    *     emits each of its terms' strings once, so groups are never
    *     all-null); a hash collision (two strings, one id) surfaces as
    *     min≠max, checked via an Observation metric riding on the write
    *     (no second pass, unlike the v2 post-write table check).
    *   - v2 tf (dense strings): groupBy(term) + post-write check of the
    *     small dictionary table (one id, two rows).
    */
  def writeDictionary(spark: SparkSession, tfR: DataFrame, numDocs: Long,
      termsDir: String): Long = {
    val n = writeDictionaryMain(spark, tfR, numDocs, termsDir)
    writeDictionaryDims(spark, termsDir)
    n
  }

  /** Schema of the `terms` table `(term, df, term_id, idf)` (both tf
    * schemas produce it), pinned for read-backs so that no read of the
    * dictionary infers it from file footers — a Spark job per read.
    */
  private[graft] val TermsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("term_id", LongType), StructField("idf", DoubleType)))

  /** Schemas of the derived dictionary dimensions written below. */
  private[graft] val TermsRevSchema: StructType = StructType(Seq(
    StructField("term_rev", StringType), StructField("term_id", LongType)))
  private[graft] val TermsNgramsSchema: StructType = StructType(Seq(
    StructField("gram", StringType), StructField("term_id", LongType)))

  /** Derived dictionary dimensions — shared by the batch writer above and
    * the checkpointed per-slice terms stage (CheckpointedBuild stage 3b).
    */
  def writeDictionaryDims(spark: SparkSession, termsDir: String): Unit = {
    writeTermsRev(spark, termsDir)
    writeTermsNgrams(spark, termsDir)
  }

  /** Reversed-term dimension (suffix regex lookups, see
    * BuiltIndex.termsRev) — one tiny job over the dictionary itself.
    */
  private[index] def writeTermsRev(spark: SparkSession, termsDir: String): Unit =
    spark.read.schema(TermsSchema).parquet(termsDir)
      .select(reverse(col("term")).as("term_rev"), col("term_id"))
      .sortWithinPartitions("term_rev")
      .write.mode("overwrite").parquet(s"${termsDir}_rev")

  /** Character-trigram dimension (INFIX regex lookups, round 5): one
    * (gram, term_id) row per distinct trigram of each dictionary term,
    * files sorted by gram so a pushed In(gram) probe prunes row groups —
    * the reference's trigram trick (trigram.rs:130-162) applied to the
    * DICTIONARY (orders of magnitude smaller than the corpus). `%foo%`
    * lookups previously paid a full containment scan of terms.
    */
  private[index] def writeTermsNgrams(spark: SparkSession, termsDir: String): Unit =
    spark.read.schema(TermsSchema).parquet(termsDir)
      .select(explode(expr(
        """array_distinct(CASE WHEN length(term) >= 3
          |THEN transform(sequence(1, length(term) - 2),
          |               i -> substring(term, i, 3))
          |ELSE array() END)""".stripMargin)).as("gram"), col("term_id"))
      .sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(s"${termsDir}_ngrams")

  private def writeDictionaryMain(spark: SparkSession, tfR: DataFrame,
      numDocs: Long, termsDir: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    if (tfR.columns.contains("term_id")) {
      tfR.groupBy("term_id").agg(
          count(lit(1)).as("df"),
          min("term").as("term"), max("term").as("term_mx"))
        .withColumn("idf", Bm25.idfCol(numDocs, col("df")))
        .observe(obs, count(lit(1)).as("n"),
          sum(when(col("term").isNull ||
            col("term") =!= col("term_mx"), 1L).otherwise(0L)).as("bad"))
        .select("term", "df", "term_id", "idf")
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(termsDir)
      val bad = obs.get("bad") match {
        case null => 0L
        case x => x.asInstanceOf[Long]
      }
      require(bad == 0L,
        "term_id (xxhash64) collision in dictionary — two terms share an id")
      obs.get("n").asInstanceOf[Long]
    } else {
      tfR.groupBy("term")
        .agg(count(lit(1)).as("df"))
        .withColumn("term_id", xxhash64(col("term")))
        .withColumn("idf", Bm25.idfCol(numDocs, col("df")))
        .observe(obs, count(lit(1)).as("n"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(termsDir)
      // collision guard: xxhash64 collisions at 1e9+ terms would silently
      // merge two terms' postings; fail the build loudly instead. One
      // extra agg over the (already small) dictionary table.
      val collided = spark.read.parquet(termsDir).groupBy("term_id")
        .agg(count(lit(1)).as("c")).where(col("c") > 1).limit(1).count()
      require(collided == 0L,
        "term_id (xxhash64) collision in dictionary — two terms share an id")
      obs.get("n").asInstanceOf[Long]
    }
  }

  def build(spark: SparkSession, pagesDf: DataFrame, outDir: String,
      blockBits: Int = PostingBlocks.DefaultBlockBits,
      numBuckets: Int = -1,
      quantizeImpacts: Boolean = false): BuiltIndex = {
    // S5: content safety gate (content_safety_check, utils.rs:174-211).
    // The extracted+filtered pages materialize ONCE: extraction (charset
    // decode) and the safety scan are the most expensive per-byte work in
    // the build, and every downstream consumer (tf pass, docs dimension,
    // line-level serving) would otherwise re-run them — at corpus scale
    // that is a second full scan of the input.
    // big intermediates are zstd (better ratio than the snappy default;
    // the build is bandwidth-bound, so fewer bytes written+read back wins
    // over the extra compressor CPU)
    // Par.spread: a single-file corpus otherwise runs the safety UDF —
    // and every downstream stage reading the written pages — as one task.
    // The row count rides as an Observation: it IS numDocs (docs = clean
    // pages), letting the dictionary write start without waiting for the
    // docs-dimension write (buildFromTf knownNumDocs).
    val pagesObs = org.apache.spark.sql.Observation()
    graft.Par.spread(pagesDf.select(col("doc_id"), col("url"), col("text")))
      .where(Extract.safe(col("text")))
      .observe(pagesObs, count(lit(1)).as("n"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$outDir/pages")
    val numDocsKnown = pagesObs.get("n").asInstanceOf[Long]
    val docsClean = spark.read.parquet(s"$outDir/pages")

    val tf = termFrequencies(docsClean)
    tf.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$outDir/tf")
    val tfR = spark.read.parquet(s"$outDir/tf")

    // A6: doc lengths (first() per doc — every row of a doc carries the
    // same doc_len); docs dimension keeps zero-token docs (doc_len=0).
    val docLens = tfR.groupBy("doc_id").agg(first("doc_len").as("doc_len"))
    val docs = docsClean.select("doc_id", "url")
      .join(docLens, Seq("doc_id"), "left")
      .na.fill(0L, Seq("doc_len"))
    buildFromTf(spark, tfR, docs, outDir, blockBits, numBuckets,
      quantizeImpacts, knownNumDocs = numDocsKnown)
  }

  /** Build the derived index tables (docs/terms/postings/blocks/stats)
    * from token-frequency rows — v3 `(term sparse, term_id, doc_id, tf,
    * doc_len)`, v2 `(term, doc_id, tf, doc_len)` or legacy v1 `(term,
    * doc_id, tf)` — and a docs dimension `(doc_id, url, doc_len)`; the
    * shared tail of the batch build and the streaming compaction
    * (IncrementalIndex.compact).
    */
  def buildFromTf(spark: SparkSession, tfR: DataFrame, docsDim: DataFrame,
      outDir: String,
      blockBits: Int = PostingBlocks.DefaultBlockBits,
      numBuckets: Int = -1,
      quantizeImpacts: Boolean = false,
      maxBroadcastTerms: Long = DictBroadcastMaxTerms,
      knownNumDocs: Long = -1L): BuiltIndex = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = IndexBuilder.buildEc
    val buckets =
      if (numBuckets > 0) numBuckets
      else spark.sessionState.conf.numShufflePartitions

    // A5 stats ride along as Observation metrics on the docs write (no
    // extra scan). avgdl = total_tokens / num_docs (exact: integer sums
    // below 2^53 are order-independent in double). The write runs as a
    // future: when the caller already knows numDocs (the batch build
    // observes it on the pages write — docs are exactly the clean
    // pages), the dictionary write below OVERLAPS the docs write; the
    // stats that need the docs metrics (avgdl for impacts) await it
    // right after.
    val docsObs = org.apache.spark.sql.Observation()
    // sorted within files so the per-query url attach (doc_id IN top-k)
    // prunes row groups instead of scanning the whole dimension
    val fDocs = Future {
      docsDim
        .observe(docsObs, count(lit(1)).as("n"), sum("doc_len").as("tt"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(s"$outDir/docs")
    }
    val numDocs =
      if (knownNumDocs >= 0L) knownNumDocs
      else { Await.result(fDocs, Duration.Inf)
        docsObs.get("n").asInstanceOf[Long] }

    // A4/A2: term dictionary with df and idf (shared with the checkpointed
    // build; handles both tf schemas + the collision guard). The derived
    // dimensions (terms_rev / terms_ngrams) are launched CONCURRENTLY
    // with the postings/blocks writes below (guide §2.6): all four only
    // need the main dictionary table, and at any scale the driver-side
    // planning+commit of one write overlaps the execution of another
    // instead of serializing 4 actions end to end.
    val numTerms = writeDictionaryMain(spark, tfR, numDocs, s"$outDir/terms")
    val termsR = spark.read.schema(TermsSchema).parquet(s"$outDir/terms")
    val fDims = Seq(
      Future(writeTermsRev(spark, s"$outDir/terms")),
      Future(writeTermsNgrams(spark, s"$outDir/terms")))

    Await.result(fDocs, Duration.Inf)
    val docsR = spark.read.parquet(s"$outDir/docs")
    val totalTokens = docsObs.get("tt") match {
      case null => 0L
      case x => x.asInstanceOf[Long]
    }
    require(knownNumDocs < 0L ||
      docsObs.get("n").asInstanceOf[Long] == numDocs,
      "knownNumDocs does not match the written docs dimension")
    val avgdl = if (numDocs == 0) 0.0 else totalTokens.toDouble / numDocs.toDouble

    // Posting rows with precomputed BM25 impact. The serving artifact
    // needs only (term_id, doc_id, impact): tf is subsumed by the impact
    // at fixed k1/b and stays in the tf table for rebuilds. Three bus/
    // shuffle cuts stack here:
    //   - doc_len rides on the tf rows (v2 schema) -> no doc_id join
    //     (legacy 3-column tf rows still pay it);
    //   - term_id = xxhash64(term) is COMPUTED, not joined for — the big
    //     side drops its term string (~10-20B/row) before any exchange
    //     and the idf attach joins on the 8-byte id (the dictionary
    //     derives term_id the same way; the collision guard above makes
    //     id-equality ≡ term-equality);
    //   - when the dictionary fits a broadcast, the idf attach is a
    //     broadcast-hash join and the whole postings stage is
    //     ZERO-shuffle (scan tf -> narrow join -> sorted write). Web
    //     vocabularies past the threshold take one id-keyed shuffle.
    val tfWithLen =
      if (tfR.columns.contains("doc_len")) tfR
      else tfR.join(docsR.select("doc_id", "doc_len"), Seq("doc_id"))
    // v3 tf rows already carry the computed term_id; v2 derives it here
    val tfWithId =
      if (tfWithLen.columns.contains("term_id")) tfWithLen.drop("term")
      else tfWithLen.withColumn("term_id", xxhash64(col("term"))).drop("term")
    val dict = termsR.select("term_id", "idf")
    val dictJoined = tfWithId
      .join(
        if (numTerms <= maxBroadcastTerms) broadcast(dict) else dict,
        Seq("term_id"))
    val postObs = org.apache.spark.sql.Observation("postings_n")
    val postings = dictJoined
      .select(
        col("term_id"), col("doc_id"),
        Bm25.impactCol(col("tf").cast("double"),
          col("doc_len").cast("double"), avgdl, col("idf")).as("impact"))
      .observe(postObs, count(lit(1)).as("n"))
    // sort-within-partitions only: query pruning relies on parquet
    // ROW-GROUP min/max stats, which within-file sorting keeps tight —
    // a file whose rows span many terms still skips row groups on the
    // pushed In(term_id). (repartitionByRange would add a sampling job
    // that RE-EXECUTES the join; a hash repartition is a redundant full
    // shuffle.)
    val fPostings = Future {
      postings
        .sortWithinPartitions("term_id", "doc_id")
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$outDir/postings")
    }

    // Posting blocks: fixed docId ranges (block_id = doc_id >> blockBits)
    // act as the salt for head-term skew (see PostingBlock scaladoc).
    // Streaming encode + bucketed write (serving-path layout contract).
    // When the dictionary broadcasts, the encode is driven by the TF ROWS
    // with impacts computed inside the encoder (PostingBlocks.encodeFromTf)
    // — the blocks Exchange then ships (tf, doc_len) small ints instead of
    // impact doubles, a multiple-x compressed-byte cut through the one
    // shuffle the build pays (and the blocks write needs nothing from the
    // postings table, so it runs concurrently with it — guide §2.6).
    // Past the ceiling (or legacy v1 tf with no doc_len) the
    // postings-driven encode remains the exact fallback, which DOES read
    // the written postings and therefore stays sequenced behind them.
    if (tfR.columns.contains("doc_len") && numTerms <= maxBroadcastTerms) {
      val idfMap = new LongDoubleMap(math.max(16, numTerms.toInt))
      termsR.select("term_id", "idf").collect()
        .foreach(r => idfMap.put(r.getLong(0), r.getDouble(1)))
      val bcIdf = spark.sparkContext.broadcast(idfMap)
      PostingBlocks.writeBlocksFromTf(
        tfWithId.select("term_id", "doc_id", "tf", "doc_len"),
        avgdl, bcIdf, outDir, buckets, blockBits, quantizeImpacts)
      Await.result(fPostings, Duration.Inf)
    } else {
      Await.result(fPostings, Duration.Inf)
      val postingsR = spark.read.parquet(s"$outDir/postings")
      PostingBlocks.writeBlocks(postingsR, outDir, buckets, blockBits,
        quantizeImpacts)
    }
    fDims.foreach(Await.result(_, Duration.Inf))

    val numPostings = postObs.get("n").asInstanceOf[Long]
    val st = IndexStats(numDocs, totalTokens, avgdl, numTerms, numPostings)
    Seq(st).toDS().write.mode("overwrite").parquet(s"$outDir/stats")

    new BuiltIndex(spark, outDir)
      .preset(Some((buckets, blockBits)), st,
        if (quantizeImpacts) "q8" else "f64", docsDim.schema)
  }

  /** S4 extraction front end: raw pages (url, warc_ts, html, ...) ->
    * (doc_id, url, text) with binary rows rejected (null text dropped).
    */
  def extractPages(pagesRaw: DataFrame): DataFrame =
    pagesRaw
      .withColumn("text_x", Extract.extractText(col("html")))
      .where(col("text_x").isNotNull)
      .select(col("doc_id"), col("url"), col("text_x").as("text"))

  def load(spark: SparkSession, path: String): BuiltIndex =
    new BuiltIndex(spark, path)
}
