package graft.checkpoint

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.Future

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Par
import graft.checkpoint.CheckpointedBuild.isCommitted
import graft.index.{BlocksMeta, Bm25, BuiltIndex, IndexBuilder, IndexStats, LongDoubleMap,
  PostingBlocks}

/** One manifest row per committed build unit: its lineage and build
  * metrics (analog of the reference's IndexingProgress in
  * src/search/engine.rs) — the persisted lineage record of the RDD paper
  * (NSDI 2012).
  */
case class ManifestRow(
    stage: String,
    part: Int,
    rows: Long,
    wall_ms: Long,
    lineage: String,
    committed_at: Long,
    fingerprint: String = "")

/** The manifest of one build: read once into a driver-side map keyed by
  * (stage, part) and kept in step with the files by every change, so no
  * lookup touches the disk. Each row is the one-row parquet table
  * `manifest/<stage>_<part>/` ([[DriverParquet.writeTable]]).
  */
private[checkpoint] final class ManifestLog(spark: SparkSession, outDir: String) {
  private val dir = Paths.get(outDir, "manifest")
  private val rows = mutable.Map[(String, Int), ManifestRow]()
  ManifestLog.rowDirs(outDir).flatMap(d => DriverParquet.read(d, ManifestLog.Schema))
    .foreach { r =>
      rows((r.getString(0), r.getInt(1))) = ManifestRow(r.getString(0), r.getInt(1),
        r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5),
        Option(r.getString(6)).getOrElse(""))
    }

  def get(stage: String, part: Int): Option[ManifestRow] = synchronized(rows.get((stage, part)))
  def nonEmpty: Boolean = synchronized(rows.nonEmpty)

  def put(m: ManifestRow): Unit = {
    DriverParquet.writeTable(spark, dir.resolve(s"${m.stage}_${m.part}"),
      ManifestLog.Schema, Row.fromTuple(m))
    synchronized(rows((m.stage, m.part)) = m)
  }

  /** Remove unit `part` of `stage`, or every unit, matched EXACTLY as
    * `<stage>_<digits>` (a prefix match would take `config_reconcile_*`
    * rows with `config`).
    */
  def remove(stage: String, part: Option[Int]): Unit = {
    val unitRe = (java.util.regex.Pattern.quote(stage) + "_" + part.fold("\\d+")(_.toString)).r
    DriverParquet.list(dir).filter(e => unitRe.matches(e.getFileName.toString))
      .foreach(DriverParquet.remove)
    synchronized(rows.filterInPlace { case ((st, p), _) => st != stage || part.exists(_ != p) })
  }

  def clear(): Unit = { DriverParquet.remove(dir); synchronized(rows.clear()) }
}

private[checkpoint] object ManifestLog {
  /** Spark's writer derives the same parquet schema from the case class. */
  val Schema: StructType = Encoders.product[ManifestRow].schema

  /** The row directories under `outDir/manifest`, temp files skipped. */
  def rowDirs(outDir: String): Seq[java.nio.file.Path] =
    DriverParquet.list(Paths.get(outDir, "manifest"))
      .filter(d => Files.isDirectory(d) && !DriverParquet.hidden(d.getFileName.toString))
}

/** A build's tf rows, every unit of them as one table named `name`: `tf`
  * for an unsliced build's one unit, `tf/slice=*` for a sliced one.
  */
final case class TfInput(rows: DataFrame, name: String)

/** The one stage runner of every index build. It has two front ends:
  * batch ([[IndexBuilder.build]]) and checkpointed
  * ([[CheckpointedBuild.build]]), which a stream's compaction
  * ([[graft.streaming.IncrementalIndex.compact]]) runs too. Each front
  * end commits its tf units, the one per-unit stage, and hands over their
  * rows with their docs' rows; the runner runs the declared graph below
  * tf, in which every stage is one unit:
  *
  *   tf ─ docs ─ terms ─┬─ dims
  *                      └─ blocks ─ stats
  *
  * (terms also reads tf; blocks tf and docs; stats docs and terms). It
  * owns commit (a unit's files, then its [[ManifestRow]], then its
  * `_GRAFT_COMMITTED` marker; committed units are skipped, so every build
  * writes a manifest and resumes), invalidation ([[invalidate]]) and
  * overlap: each stage is a [[Par]] leg that starts once its inputs' legs
  * have finished, so dims runs beside blocks. Everything below tf is
  * recomputed from the committed tf units, so they are the one resume
  * state: a crash redoes a stage whole. The dictionary is one aggregate
  * over every tf row (Spark's map-side partial aggregation builds each
  * task's partial dictionary), and blocks encodes the tf rows and writes
  * the bucketed serving table in one plan. Bookkeeping runs no Spark job:
  * manifest rows and the one-row tables are local files written and read
  * on the driver, and every read-back carries a pinned schema. Index
  * paths are local filesystem paths ([[BuiltIndex.requireLocal]]).
  */
private[graft] final class BuildSpine(spark: SparkSession,
    private[checkpoint] val outDir: String) {
  import BuildSpine._

  BuiltIndex.requireLocal(outDir)
  Files.createDirectories(Paths.get(outDir))
  private[checkpoint] val log = new ManifestLog(spark, outDir)

  private def stage(name: String): Stage = Graph.find(_.name == name).get
  private def dependents(name: String): Seq[Stage] = Graph.filter(_.inputs.contains(name))

  /** Wipe `name` (its tf unit `part`, if given) and every stage below it:
    * files, manifest rows, markers. Returns the stages touched, in graph
    * order.
    */
  def invalidate(name: String, part: Option[Int] = None): Seq[String] = {
    val touched = mutable.Set[String]()
    def go(s: Stage, p: Option[Int]): Unit = {
      touched += s.name
      s.outputs.foreach(o => DriverParquet.remove(
        p.fold(Paths.get(outDir, o))(u => Paths.get(outDir, o, s"slice=$u"))))
      log.remove(s.name, p)
      dependents(s.name).foreach(go(_, None))
    }
    go(stage(name), part)
    Graph.map(_.name).filter(touched)
  }

  /** Start afresh: every stage's files, tf included, and no manifest row
    * left (config rows included) that a checkpointed resume could trust.
    */
  def reset(): this.type = { invalidate("tf"); log.clear(); this }

  def commit(dir: String, m: ManifestRow): Unit = {
    log.put(m)
    Files.createFile(Paths.get(dir, CheckpointedBuild.Marker))
  }

  /** Write a front end's tf unit `part` (`rows`, then `andThen`) to `dir`
    * and commit it; returns the written unit read back with its schema.
    */
  def commitTf(part: Int, dir: String, rows: DataFrame, lineage: String,
      fingerprint: String = "")(andThen: => Unit = ()): DataFrame = {
    val t0 = System.nanoTime()
    val obs = org.apache.spark.sql.Observation()
    Par.described(spark, "graft.build.tf") {
      rows.observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(dir)
      andThen
    }
    commit(dir, ManifestRow("tf", part, obs.get("n").asInstanceOf[Long],
      (System.nanoTime() - t0) / 1000000, lineage, System.currentTimeMillis(), fingerprint))
    spark.read.schema(BuiltIndex.nullable(rows.schema)).parquet(dir)
  }

  /** Run every stage below tf not yet committed over `tf` and the
    * `(doc_id, url)` rows `docRows`; each doc's length comes from its tf
    * rows. Blocks go into `numBuckets` buckets (the session's shuffle
    * partitions if not positive); past `maxBroadcastTerms` terms (a test
    * seam) the idf attach is an id-keyed shuffle join instead of a
    * broadcast map.
    */
  def run(tf: TfInput, docRows: DataFrame,
      blockBits: Int = PostingBlocks.DefaultBlockBits,
      numBuckets: Int = -1,
      maxBroadcastTerms: Long = IndexBuilder.DictBroadcastMaxTerms,
      onUnitCommitted: (String, Int) => Unit = (_, _) => ()): BuiltIndex = {
    val ctx = new Ctx(this, tf.rows, docRows, blockBits,
      if (numBuckets > 0) numBuckets else spark.sessionState.conf.numShufflePartitions,
      maxBroadcastTerms)
    def dir(s: Stage): String = s"$outDir/${s.outputs.head}"
    // complete: committed, and every input complete (invalidation wipes
    // what is below a wiped stage)
    val complete = mutable.Map("tf" -> true)
    Graph.tail.foreach(s => complete(s.name) = s.inputs.forall(complete) && isCommitted(dir(s)))
    // a stage's leg first waits for the legs of its inputs (a failed input
    // fails it unrun); a failure cancels the jobs of the running legs, and
    // every leg has finished before it is rethrown. Each leg's jobs carry
    // the description graft.build.<stage>
    val legs = mutable.LinkedHashMap[String, Future[Unit]]()
    Graph.tail.filterNot(s => complete(s.name)).foreach { s =>
      val after = s.inputs.flatMap(legs.get)
      legs(s.name) = Par.leg(spark) {
        Par.await(after)
        val t0 = System.nanoTime()
        val rows = Par.described(spark, s"graft.build.${s.name}")(s.write(ctx))
        commit(dir(s), ManifestRow(s.name, 0, rows, (System.nanoTime() - t0) / 1000000,
          s.lineage(tf.name), System.currentTimeMillis()))
        onUnitCommitted(s.name, 0)
      }
    }
    Par.await(legs.values.toSeq)
    new BuiltIndex(spark, outDir)
  }
}

private[graft] object BuildSpine {

  /** A stage: the stages it reads, the directories it owns (its commit
    * marker goes in the first), its lineage given the tf table's name and
    * the write of its one unit, returning the rows it wrote. tf's units
    * belong to the front ends.
    */
  private final case class Stage(name: String, inputs: Seq[String], outputs: Seq[String],
      lineage: String => String = identity, write: Ctx => Long = _ => 0L)

  /** The stage graph, in topological order. */
  private val Graph: Seq[Stage] = Seq(
    Stage("tf", Nil, Seq("tf", "docs_raw")),
    Stage("docs", Seq("tf"), Seq("docs"), write = _.writeDocs()),
    Stage("terms", Seq("tf", "docs"), Seq("terms"), write = _.writeTerms()),
    Stage("dims", Seq("terms"), Seq("terms_rev", "terms_ngrams"), _ => "terms", _.writeDims()),
    Stage("blocks", Seq("tf", "docs", "terms"), Seq("blocks", "blocks_meta"),
      tf => s"$tf+terms", _.writeBlocks()),
    Stage("stats", Seq("docs", "terms", "blocks"), Seq("stats"),
      _ => "docs+terms+blocks", _.writeStats()))

  /** One run: its inputs, options and the values stages pass on. */
  private final class Ctx(spine: BuildSpine, tf: DataFrame, docRows: DataFrame,
      blockBits: Int, buckets: Int, maxBroadcastTerms: Long) {
    private val spark = docRows.sparkSession
    private val outDir = spine.outDir

    private def read(schema: StructType, table: String): DataFrame =
      spark.read.schema(BuiltIndex.nullable(schema)).parquet(s"$outDir/$table")

    // ---- docs; (num_docs, total_tokens) ride on its write

    private val docs: DataFrame =
      docRows.join(tf.groupBy("doc_id").agg(first("doc_len").as("doc_len")),
        Seq("doc_id"), "left").na.fill(0L, Seq("doc_len"))
        .select(col("doc_id"), col("url"), col("doc_len").cast("long"))
    @volatile private var docsObserved: Option[(Long, Long)] = None

    def writeDocs(): Long = {
      val obs = org.apache.spark.sql.Observation()
      // sorted within files: the per-query url attach (doc_id IN top-k)
      // prunes row groups
      docs.observe(obs, count(lit(1)).as("n"), sum("doc_len").as("tt"))
        .sortWithinPartitions("doc_id").write.mode(SaveMode.Overwrite).parquet(s"$outDir/docs")
      val n = obs.get("n").asInstanceOf[Long]
      docsObserved = Some((n, Option(obs.get("tt")).fold(0L)(_.asInstanceOf[Long])))
      n
    }

    /** (num_docs, total_tokens) of this run's docs write, else of a
      * committed stats row, else one scan of docs.
      */
    private lazy val corpus: (Long, Long) = docsObserved.getOrElse {
      if (isCommitted(s"$outDir/stats")) {
        val s = BuiltIndex.readStats(outDir)
        (s.num_docs, s.total_tokens)
      } else {
        val r = read(docs.schema, "docs").agg(count(lit(1)), sum("doc_len")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    }
    // exact: integer sums below 2^53 are order-independent in double
    private lazy val avgdl = if (corpus._1 == 0) 0.0 else corpus._2.toDouble / corpus._1

    // ---- terms: the dictionary (term_id, df, string) with idf, one
    // aggregate over every tf row. Collision guard: tf emits each term's
    // string at its first row per partition, so every term has >= 1
    // non-null string and min != max catches two spellings of one id,
    // which would silently merge their postings.

    def writeTerms(): Long = {
      val obs = org.apache.spark.sql.Observation()
      tf.groupBy("term_id")
        .agg(count(lit(1)).as("df"), min("term").as("term"), max("term").as("term_mx"))
        .withColumn("idf", Bm25.idfCol(corpus._1, col("df")))
        .observe(obs, count(lit(1)).as("n"),
          sum(when(col("term").isNull || col("term") =!= col("term_mx"), 1L)
            .otherwise(0L)).as("bad"))
        .select("term", "df", "term_id", "idf")
        .sortWithinPartitions("term") // query-time In(term) prunes row groups
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/terms")
      require(Option(obs.get("bad")).fold(0L)(_.asInstanceOf[Long]) == 0L,
        "term_id (xxhash64) collision in dictionary — two terms share an id")
      obs.get("n").asInstanceOf[Long]
    }

    /** From the terms manifest row: no scan, in this run or a resumed one. */
    private def numTerms: Long = spine.log.get("terms", 0).map(_.rows).getOrElse(
      throw new IllegalStateException(s"terms committed without a manifest row in $outDir"))

    // ---- dims: the dictionary's derived dimensions, from the committed
    // terms, files sorted by their key: reversed terms (suffix lookups
    // become range predicates) and character trigrams (infix lookups
    // become pushed In(gram) probes)

    def writeDims(): Long = {
      val terms = read(IndexBuilder.TermsSchema, "terms")
      def write(dim: DataFrame, key: String, table: String): Long = {
        val obs = org.apache.spark.sql.Observation()
        dim.observe(obs, count(lit(1)).as("n")).sortWithinPartitions(key)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table")
        obs.get("n").asInstanceOf[Long]
      }
      write(BuiltIndex.termsRevOf(terms), "term_rev", "terms_rev") +
        write(BuiltIndex.termsNgramsOf(terms), "gram", "terms_ngrams")
    }

    private def dict = read(IndexBuilder.TermsSchema, "terms").select("term_id", "idf")

    // ---- blocks: the tf rows encoded and written as the bucketed serving
    // table in one plan (shuffle, encode, local bucket sort, write), then
    // its metadata. The encode needs each term's idf for block_max: up
    // to maxBroadcastTerms from a broadcast idf map, so the shuffle ships
    // (tf, doc_len) ints alone; past it from an id-keyed join, which
    // ships the idf with them.

    private def idfMap(): Broadcast[LongDoubleMap] = {
      val m = new LongDoubleMap(math.max(16, numTerms.toInt))
      dict.collect().foreach(r => m.put(r.getLong(0), r.getDouble(1)))
      spark.sparkContext.broadcast(m)
    }

    @volatile private var postingsObserved: Option[Long] = None

    def writeBlocks(): Long = {
      val idf = if (numTerms <= maxBroadcastTerms) Some(idfMap()) else None
      val (n, postings) = try {
        val rows = tf.select("term_id", "doc_id", "tf", "doc_len")
        val encoded = idf match {
          case Some(m) => PostingBlocks.encodeFromTf(rows, avgdl, m, blockBits)
          case None => PostingBlocks.encode(rows.join(dict, Seq("term_id")), avgdl, blockBits)
        }
        PostingBlocks.writeBlocksEncoded(encoded, outDir, buckets)
      } finally idf.foreach(_.destroy())
      postingsObserved = Some(postings)
      DriverParquet.writeTable(spark, Paths.get(outDir, "blocks_meta"), BuiltIndex.BlocksMetaSchema,
        Row.fromTuple(BlocksMeta(buckets, blockBits, BuiltIndex.ImpactCodec)))
      n
    }

    // posting count: observed in this run's blocks write, else scanned
    private def numPostings: Long = postingsObserved.getOrElse {
      val r = read(PostingBlocks.Schema, "blocks").agg(sum("n")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

    def writeStats(): Long = {
      val st = IndexStats(corpus._1, corpus._2, avgdl, numTerms, numPostings)
      DriverParquet.writeTable(spark, Paths.get(outDir, "stats"), BuiltIndex.StatsSchema,
        Row.fromTuple(st))
      1L
    }
  }
}
