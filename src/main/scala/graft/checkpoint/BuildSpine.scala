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
    * `<stage>_<digits>` (a prefix match would take `terms_part_*` rows
    * with `terms`).
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

/** One unit of a build's tf rows `(term, term_id, doc_id, tf, doc_len)`;
  * `name` is its lineage (`tf/slice=3`).
  */
final case class TfUnit(part: Int, name: String, rows: DataFrame)

/** A build's tf units, all of them as one table named `name`: `tf` for
  * an unsliced build's one unit, `tf/slice=*` for a sliced one, whose
  * per-unit stages then keep one `slice=p` subdirectory per unit.
  */
final case class TfInput(units: Seq[TfUnit], all: DataFrame, name: String)

/** The one stage runner of every index build. It has two front ends:
  * batch ([[IndexBuilder.build]]) and checkpointed
  * ([[CheckpointedBuild.build]]), which a stream's compaction
  * ([[graft.streaming.IncrementalIndex.compact]]) runs too. Each front
  * end commits its tf units and hands them over with their docs' rows;
  * the runner runs the declared graph below tf:
  *
  *   tf ─┬─ docs ──────────────┬─ blocks ─ stats (blocks also reads tf; stats docs, terms)
  *       └─ terms_part ─ terms ┘
  *
  * It owns commit (a unit's files, then its [[ManifestRow]], then its
  * `_GRAFT_COMMITTED` marker; committed units are skipped, so every build
  * writes a manifest and resumes), invalidation ([[invalidate]]), overlap
  * (each stage is a [[Par]] leg that starts once its inputs' legs have
  * finished, so docs runs beside the dictionary partials, and blocks and
  * stats each as soon as their inputs commit, while the units of a stage
  * run in part order) and the transient terms_part stage: committed like
  * any other, so a crash redoes one unit, and deleted once terms
  * committed. Every other stage is one unit, which a crash redoes whole;
  * blocks encodes the tf rows and writes the bucketed serving table in
  * one plan. Bookkeeping runs no Spark job: manifest rows and the
  * one-row tables are local files written and read on the driver, and
  * every read-back carries a pinned schema. Index paths are local
  * filesystem paths ([[BuiltIndex.requireLocal]]).
  */
private[graft] final class BuildSpine(spark: SparkSession,
    private[checkpoint] val outDir: String) {
  import BuildSpine._

  BuiltIndex.requireLocal(outDir)
  Files.createDirectories(Paths.get(outDir))
  private[checkpoint] val log = new ManifestLog(spark, outDir)

  private def stage(name: String): Stage = Graph.find(_.name == name).get
  private def dependents(name: String): Seq[Stage] = Graph.filter(_.inputs.contains(name))

  /** Wipe `name` (its unit `part`, if given) and everything downstream:
    * files, manifest rows, markers. A dependent whose inputs are all
    * per-unit loses the same unit, any other the whole stage. Returns the
    * stages touched, in graph order.
    */
  def invalidate(name: String, part: Option[Int] = None): Seq[String] = {
    val touched = mutable.Set[String]()
    def go(s: Stage, p: Option[Int]): Unit = {
      touched += s.name
      s.outputs.foreach(o => DriverParquet.remove(
        p.fold(Paths.get(outDir, o))(u => Paths.get(outDir, o, s"slice=$u"))))
      log.remove(s.name, p)
      dependents(s.name).foreach { d =>
        go(d, p.filter(_ => d.perUnit && d.inputs.forall(stage(_).perUnit)))
      }
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

  /** Delete each transient stage whose dependents all committed. */
  private def gc(): Unit = synchronized {
    Graph.filter(_.transient)
      .filter(t => dependents(t.name).forall(d => isCommitted(s"$outDir/${d.name}")))
      .foreach(_.outputs.foreach(o => DriverParquet.remove(Paths.get(outDir, o))))
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
    val ctx = new Ctx(this, tf, docRows, blockBits,
      if (numBuckets > 0) numBuckets else spark.sessionState.conf.numShufflePartitions,
      maxBroadcastTerms)
    // complete: all units committed and every non-transient input complete
    // (invalidation wipes what is downstream of a wiped stage); a transient
    // stage runs only for a dependent that runs
    val complete = mutable.Map("tf" -> true)
    Graph.tail.foreach { s =>
      complete(s.name) = s.inputs.forall(i => stage(i).transient || complete(i)) &&
        s.units(ctx).forall(u => isCommitted(u.dir))
    }
    val toRun = Graph.tail.foldRight(List.empty[Stage]) { (s, later) =>
      val needed = !s.transient || later.exists(_.inputs.contains(s.name))
      if (needed && !complete(s.name)) s :: later else later
    }
    // a stage's leg first waits for the legs of its inputs (a failed input
    // fails it unrun); a failure cancels the jobs of the running legs, and
    // every leg has finished before it is rethrown. Each leg's jobs carry
    // the description graft.build.<stage>
    gc()
    val legs = mutable.LinkedHashMap[String, Future[Unit]]()
    toRun.foreach { s =>
      val after = s.inputs.flatMap(legs.get)
      legs(s.name) = Par.leg(spark) {
        Par.await(after)
        s.units(ctx).filterNot(u => isCommitted(u.dir)).foreach { u =>
          val t0 = System.nanoTime()
          val rows = Par.described(spark, s"graft.build.${s.name}")(s.write(ctx, u))
          commit(u.dir, ManifestRow(s.name, u.part, rows,
            (System.nanoTime() - t0) / 1000000, u.lineage, System.currentTimeMillis()))
          onUnitCommitted(s.name, u.part)
        }
        gc()
      }
    }
    Par.await(legs.values.toSeq)
    new BuiltIndex(spark, outDir)
  }
}

private[graft] object BuildSpine {

  /** One unit of a stage; its lineage is known once its inputs are. */
  private final class Part(val part: Int, val dir: String, lineage0: => String) {
    lazy val lineage: String = lineage0
  }

  /** A stage: the stages it reads, the directories it owns, whether its
    * units follow the tf units (`slice=p` subdirectories), whether it is
    * transient, its units in a build and the write of one unit,
    * returning its row count.
    */
  private final case class Stage(name: String, inputs: Seq[String], outputs: Seq[String],
      perUnit: Boolean = false, transient: Boolean = false,
      units: Ctx => Seq[Part] = _ => Nil, write: (Ctx, Part) => Long = (_, _) => 0L)

  /** The stage graph, in topological order; tf belongs to the front ends. */
  private val Graph: Seq[Stage] = Seq(
    Stage("tf", Nil, Seq("tf", "docs_raw"), perUnit = true),
    Stage("docs", Seq("tf"), Seq("docs"),
      units = c => Seq(c.global("docs", c.tf.name)), write = (c, u) => c.writeDocs(u)),
    Stage("terms_part", Seq("tf"), Seq("terms_part"), perUnit = true, transient = true,
      units = _.termsParts, write = (c, u) => c.writeTermsPart(u)),
    Stage("terms", Seq("terms_part", "docs"), Seq("terms", "terms_rev", "terms_ngrams"),
      units = c => Seq(c.global("terms", c.namesOf("terms_part", c.termsParts))),
      write = (c, u) => c.writeTerms(u)),
    Stage("blocks", Seq("tf", "docs", "terms"), Seq("blocks", "blocks_meta"),
      units = c => Seq(c.global("blocks", s"${c.tf.name}+terms")),
      write = (c, _) => c.writeBlocks()),
    Stage("stats", Seq("docs", "terms", "blocks"), Seq("stats"),
      units = c => Seq(c.global("stats", "docs+terms+blocks")),
      write = (c, u) => c.writeStats(u)))

  /** One run: its inputs, options and the values stages pass on. */
  private final class Ctx(spine: BuildSpine, val tf: TfInput, docRows: DataFrame,
      blockBits: Int, buckets: Int, maxBroadcastTerms: Long) {
    private val spark = docRows.sparkSession
    private val outDir = spine.outDir
    private val sliced = tf.name != "tf"

    /** A unit of a per-unit stage; unsliced, the one unit is the stage dir. */
    def unit(stage: String, part: Int, lineage: => String): Part =
      new Part(part, if (sliced) s"$outDir/$stage/slice=$part" else s"$outDir/$stage", lineage)

    def global(stage: String, lineage: => String): Part = new Part(0, s"$outDir/$stage", lineage)

    /** The lineage name of a stage's units: the stage dir, or a glob of
      * its `slice=p` subdirectories.
      */
    def namesOf(stage: String, parts: Seq[Part]): String =
      if (parts.map(_.dir) == Seq(s"$outDir/$stage")) stage else s"$stage/slice=*"

    private def read(schema: StructType, paths: Seq[String]): DataFrame =
      spark.read.schema(BuiltIndex.nullable(schema)).parquet(paths: _*)

    private def readCommitted(schema: StructType, parts: Seq[Part]): DataFrame =
      read(schema, parts.map(_.dir).filter(isCommitted))

    private def tfOf(u: Part): DataFrame = tf.units.find(_.part == u.part).get.rows

    /** Write `df` to `u`, returning its row count (an Observation: a
      * post-write count would re-read the unit).
      */
    private def writeCounted(df: DataFrame, u: Part): Long = {
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("n")).write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(u.dir)
      obs.get("n").asInstanceOf[Long]
    }

    // ---- docs; (num_docs, total_tokens) ride on its write

    private val docs: DataFrame =
      docRows.join(tf.all.groupBy("doc_id").agg(first("doc_len").as("doc_len")),
        Seq("doc_id"), "left").na.fill(0L, Seq("doc_len"))
        .select(col("doc_id"), col("url"), col("doc_len").cast("long"))
    @volatile private var docsObserved: Option[(Long, Long)] = None

    def writeDocs(u: Part): Long = {
      val obs = org.apache.spark.sql.Observation()
      // sorted within files: the per-query url attach (doc_id IN top-k)
      // prunes row groups
      docs.observe(obs, count(lit(1)).as("n"), sum("doc_len").as("tt"))
        .sortWithinPartitions("doc_id").write.mode(SaveMode.Overwrite).parquet(u.dir)
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
        val r = read(docs.schema, Seq(s"$outDir/docs"))
          .agg(count(lit(1)), sum("doc_len")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    }
    // exact: integer sums below 2^53 are order-independent in double
    private lazy val avgdl = if (corpus._1 == 0) 0.0 else corpus._2.toDouble / corpus._1

    // ---- terms: per unit a PARTIAL dictionary (term_id, df, min/max
    // string), a pure function of the unit; one merge of the partials
    // (dictionary-sized, orders of magnitude below tf) into the global
    // dictionary with idf. Collision guard: every unit has >= 1 non-null
    // string per term (tf emits it at first sight per partition), so
    // min-of-mins != max-of-maxs catches two spellings of one id, which
    // would silently merge their postings.

    def termsParts: Seq[Part] = tf.units.map(t => unit("terms_part", t.part, t.name))

    private def partial(rows: DataFrame): DataFrame = rows.groupBy("term_id")
      .agg(count(lit(1)).as("df_part"), min("term").as("term_mn"), max("term").as("term_mx"))

    def writeTermsPart(u: Part): Long = writeCounted(partial(tfOf(u)), u)

    def writeTerms(u: Part): Long = {
      val obs = org.apache.spark.sql.Observation()
      val merged = readCommitted(partial(tf.all).schema, termsParts)
        .groupBy("term_id").agg(sum("df_part").as("df"),
          min("term_mn").as("term"), max("term_mx").as("term_mx"))
      // beside the dictionary, its derived dimensions, files sorted by
      // their key: reversed terms (suffix lookups become range predicates)
      // and character trigrams (infix lookups become pushed In(gram)
      // probes). Each write re-runs the merge, which is dictionary-sized,
      // rather than wait to read the written dictionary back.
      Par.all(spark)(
        () => merged.withColumn("idf", Bm25.idfCol(corpus._1, col("df")))
          .observe(obs, count(lit(1)).as("n"),
            sum(when(col("term").isNull || col("term") =!= col("term_mx"), 1L)
              .otherwise(0L)).as("bad"))
          .select("term", "df", "term_id", "idf")
          .sortWithinPartitions("term") // query-time In(term) prunes row groups
          .write.mode(SaveMode.Overwrite).parquet(u.dir),
        () => BuiltIndex.termsRevOf(merged).sortWithinPartitions("term_rev")
          .write.mode(SaveMode.Overwrite).parquet(s"${u.dir}_rev"),
        () => BuiltIndex.termsNgramsOf(merged).sortWithinPartitions("gram")
          .write.mode(SaveMode.Overwrite).parquet(s"${u.dir}_ngrams"))
      require(Option(obs.get("bad")).fold(0L)(_.asInstanceOf[Long]) == 0L,
        "term_id (xxhash64) collision in dictionary — two terms share an id")
      obs.get("n").asInstanceOf[Long]
    }

    /** From the terms manifest row: no scan, in this run or a resumed one. */
    private def numTerms: Long = spine.log.get("terms", 0).map(_.rows).getOrElse(
      throw new IllegalStateException(s"terms committed without a manifest row in $outDir"))

    private def dict =
      read(IndexBuilder.TermsSchema, Seq(s"$outDir/terms")).select("term_id", "idf")

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
        val rows = tf.all.select("term_id", "doc_id", "tf", "doc_len")
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
      val r = read(PostingBlocks.Schema, Seq(s"$outDir/blocks")).agg(sum("n")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

    def writeStats(u: Part): Long = {
      val st = IndexStats(corpus._1, corpus._2, avgdl, numTerms, numPostings)
      DriverParquet.writeTable(spark, Paths.get(u.dir), BuiltIndex.StatsSchema, Row.fromTuple(st))
      1L
    }
  }
}
