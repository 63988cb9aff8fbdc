package graft.checkpoint

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.extract.Extract
import graft.index.BuiltIndex.nullable
import graft.index.{Bm25, BuiltIndex, IndexBuilder, PostingBlocks}

/** Resumable index build: the [[BuildSpine]] front end with one tf unit
  * per docId-range slice of the input, at `tf/slice=p/` with the slice's
  * `(doc_id, url)` rows at `docs_raw/slice=p/` (slicing by docId range
  * aligns with input file ranges, so each unit re-scans only its files).
  * Every stage below tf is one unit; see the README's index layout.
  *
  * A unit directory containing `_GRAFT_COMMITTED` is skipped on resume.
  * The reference analog: `already_indexed_files` skip-set + checkpoint
  * save (background_indexer.rs:596-607,648-694). Since every unit is a
  * pure function of its input slice, an interrupted+resumed build
  * produces content-identical index tables to an uninterrupted one
  * (asserted in CheckpointSpec).
  *
  * This front end keeps what only a sliced build does: the input scan for
  * docId bounds and slice fingerprints (one narrow pass; two on a first
  * build, or when the input's docId range moved), the config fingerprint,
  * the slice triage and the tf units. Everything else runs no Spark job,
  * so a resume launches jobs only for the units it recomputes.
  */
object CheckpointedBuild {

  val Marker = "_GRAFT_COMMITTED"

  def isCommitted(dir: String): Boolean = Files.exists(Paths.get(dir, Marker))

  /** Pinned Spark read schema of the manifest: every field nullable, so
    * rows written before the fingerprint column existed read it as null.
    */
  private[graft] val ManifestSchema: StructType = nullable(ManifestLog.Schema)

  /** Every manifest row under `outDir`, read with the pinned schema. */
  def manifest(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(ManifestSchema).parquet(ManifestLog.rowDirs(outDir).map(_.toString): _*)

  /** Resumable build. `pagesRaw` must have (doc_id, url, html) or
    * (doc_id, url, text); when html is present the extraction front end
    * runs inside stage 1 (it is the expensive pass being checkpointed).
    * `onUnitCommitted` is a test seam for kill-mid-build scenarios.
    */
  def build(spark: SparkSession, pagesRaw: DataFrame, outDir: String,
      slices: Int = 8,
      blockBits: Int = PostingBlocks.DefaultBlockBits,
      onUnitCommitted: (String, Int) => Unit = (_, _) => ()): BuiltIndex = {
    import spark.implicits._
    val spine = new BuildSpine(spark, outDir)
    val log = spine.log
    // read-backs of internal tables carry the writer's schema (a footer
    // inference costs a Spark job per read) and list their directories:
    // a glob path logs Spark's metadata-probe WARN
    def read(schema: StructType, paths: String*): DataFrame =
      spark.read.schema(nullable(schema)).parquet(paths: _*)
    def slicesOf(table: String): Seq[String] = (0 until slices).map(p => s"$outDir/$table/slice=$p")

    val hasHtml = pagesRaw.columns.contains("html")
    val pages =
      if (hasHtml) IndexBuilder.extractPages(pagesRaw)
      else pagesRaw.select("doc_id", "url", "text")
    val tfSchema = IndexBuilder.termFrequencies(pages).schema
    val docsRawSchema = pages.select("doc_id", "url").schema

    // ---- docId-range slices and their input fingerprints
    def widthOf(lo: Long, hi: Long): Long = math.max(1L, (hi - lo + slices) / slices)

    // cheap per-slice input fingerprint over the RAW columns (no
    // extraction): order-independent SUM (mod 2^64) of per-row hashes —
    // the analog of the reference's (mtime, size) staleness key
    // (persistence.rs:249-264). doc_id is part of the per-row hash
    // (swapping content between two doc_ids must change the fingerprint),
    // and the combiner is a sum, not xor (a pair of identical rows xor to
    // zero and would cancel; sums only collide if hash values themselves
    // collide additively). Wrapping 64-bit addition IS the sum mod 2^64.
    val fpColumn =
      if (hasHtml) xxhash64(col("doc_id"), col("url"), col("html"))
      else xxhash64(col("doc_id"), col("url"), col("text"))
    // ONE narrow pass over the input yields its docId bounds and, given
    // the slicing they imply, every slice's fingerprint: `(doc_id - lo) /
    // width` is exactly the slice assignment of sliceRange (the last
    // slice's extension to hi+1 changes no assignment — no doc_id
    // exceeds hi). The slicing is guessed from the committed tf
    // lineages; a resume over an input with the same docId range — the
    // common case — needs this one job, any other build a second pass
    // with the bounds the first one found. An empty input has no bounds
    // (min > max); its slices are all empty. (Input is assumed stable for
    // the build's duration.)
    def scanInput(guess: Option[(Long, Long)]): (Long, Long, Map[Int, String]) = {
      val (gLo, gWidth) = guess.fold((0L, 0L)) { case (l, h) => (l, widthOf(l, h)) }
      val n = slices
      val parts = graft.Par.described(spark, "graft.build.fingerprint") {
        pagesRaw.select(col("doc_id"), fpColumn).as[(Long, Long)].mapPartitions { rows =>
          var (mn, mx) = (Long.MaxValue, Long.MinValue)
          val sums = new Array[Long](n)
          val counts = new Array[Long](n)
          rows.foreach { case (id, h) =>
            mn = math.min(mn, id); mx = math.max(mx, id)
            val p = if (gWidth > 0 && id >= gLo) (id - gLo) / gWidth else n
            if (p < n) { sums(p.toInt) += h; counts(p.toInt) += 1 }
          }
          Iterator((mn, mx, sums, counts))
        }.collect()
      }
      val mn = parts.map(_._1).foldLeft(Long.MaxValue)(math.min)
      val mx = parts.map(_._2).foldLeft(Long.MinValue)(math.max)
      val fps = (0 until n).filter(p => parts.exists(_._4(p) > 0))
        .map(p => p -> java.lang.Long.toHexString(parts.map(_._3(p)).sum)).toMap
      (mn, mx, fps)
    }
    val lineageRange = """doc_id:\[(-?\d+),(-?\d+)\)""".r
    val committedRanges = (0 until slices).flatMap(p => log.get("tf", p)).map(_.lineage)
      .collect { case lineageRange(a, b) => (a.toLong, b.toLong - 1) }
    val guess =
      if (committedRanges.isEmpty) None
      else Some((committedRanges.map(_._1).min, committedRanges.map(_._2).max))
    val (lo, hi, sliceFps) = {
      val first = scanInput(guess)
      if (first._1 > first._2) (0L, -1L, first._3)
      else if (guess.contains((first._1, first._2))) first
      else scanInput(Some((first._1, first._2)))
    }
    val width = widthOf(lo, hi)
    def sliceRange(p: Int): (Long, Long) =
      (lo + p * width, if (p == slices - 1) hi + 1 else lo + (p + 1) * width)
    def sliceFingerprint(p: Int): String = sliceFps.getOrElse(p, "empty")

    // ---- config fingerprint (reference: config.rs:266-296): a resume
    // whose build config differs from the one the committed units were
    // produced under must invalidate the stages that config component
    // derives (a changed blockBits must not keep the committed blocks).
    val config = Seq(
      "tok" -> graft.tokenize.Tokenizer.Version.toString,
      "extract" -> Extract.Version.toString,
      "bm25" -> s"${Bm25.K1},${Bm25.B}",
      "blockBits" -> blockBits.toString,
      // the blocks' impact codec: a checkpoint of another (the f64 impact
      // doubles before "tfdl") re-encodes its blocks
      "codec" -> BuiltIndex.ImpactCodec,
      // tf-slice schema version: v2 added doc_len per row, v3 replaced the
      // per-row term string with (sparse term, term_id) — a resume must
      // not mix slices of different schemas under one parquet scan
      "tfSchema" -> "3")
    val configStr = config.map { case (k, v) => s"$k=$v" }.mkString(";")
    val priorConfig: Map[String, String] =
      log.get("config", 0).map(_.lineage.split(';')
        .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
        .toMap).getOrElse(Map.empty)
    // A dir with committed units but NO config manifest predates config
    // fingerprinting (or holds a batch build) — its units were built
    // under an UNKNOWN config (e.g. the v1 tf schema), and resuming them
    // under the current one can silently mix schemas (doc_len null ->
    // na.fill(0) -> wrong impacts). Treat "missing config" as "everything
    // changed".
    val committedWithoutConfig = priorConfig.isEmpty && log.nonEmpty
    if (committedWithoutConfig ||
        (priorConfig.nonEmpty && priorConfig != config.toMap)) {
      // the stage each config component first derives; the spine wipes it
      // and everything downstream: bm25 first derives the dictionary's
      // idf, so tf and docs survive a bm25 change.
      val root = Map("blockBits" -> "blocks", "codec" -> "blocks", "bm25" -> "terms")
        .withDefaultValue("tf")
      val changed =
        if (committedWithoutConfig) Seq("missing-config")
        else (config.map(_._1) ++ priorConfig.keys).distinct
          .filter(k => priorConfig.get(k) != config.toMap.get(k))
      val victims = changed.flatMap(k => spine.invalidate(root(k))).distinct
      log.put(ManifestRow("config_reconcile", 0, victims.size, 0,
        s"changed=${changed.mkString(",")} invalidated=${victims.mkString(",")}",
        System.currentTimeMillis()))
    }
    log.put(ManifestRow("config", 0, 0, 0, configStr, System.currentTimeMillis()))

    // ---- reconcile (resume with possibly-changed input): triage each
    // persisted slice Valid / Stale / Removed like the reference's
    // batch_check_files (persistence.rs:275-309, engine.rs:2281-2382); a
    // stale or removed slice is invalidated with everything derived from
    // it — its own tf unit, and every stage below tf — so the rebuild
    // re-drives exactly the invalid lineage.
    val preCommitted = (0 until slices)
      .filter(p => isCommitted(s"$outDir/tf/slice=$p"))
    if (preCommitted.nonEmpty) {
      val t0 = System.nanoTime()
      val triage = preCommitted.map { p =>
        // a missing row, or one written before fingerprints, is stale
        val (storedFp, storedLin) = log.get("tf", p)
          .map(m => (m.fingerprint, m.lineage)).getOrElse(("", ""))
        val (sLo, sHi) = sliceRange(p)
        val cur = sliceFingerprint(p)
        val status =
          if (storedFp == cur && storedLin == s"doc_id:[$sLo,$sHi)") "valid"
          else if (cur == "empty") "removed"
          else "stale"
        if (status != "valid") spine.invalidate("tf", Some(p))
        status
      }
      val n = (status: String) => triage.count(_ == status)
      log.put(ManifestRow("reconcile", 0, n("valid"), (System.nanoTime() - t0) / 1000000,
        s"valid=${n("valid")} stale=${n("stale")} removed=${n("removed")}",
        System.currentTimeMillis()))
    }

    // ---- tf units: per-slice extract+tokenize+tf, plus the slice's doc
    // rows. The extracted, safety-gated slice is cached for the two
    // writes, so extraction runs once per slice.
    for (p <- 0 until slices) {
      val dir = s"$outDir/tf/slice=$p"
      if (!isCommitted(dir)) {
        val (sLo, sHi) = sliceRange(p)
        val slice = pages
          .where(col("doc_id") >= sLo && col("doc_id") < sHi)
          .where(Extract.safe(col("text")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try spine.commitTf(p, dir, IndexBuilder.termFrequencies(slice),
            s"doc_id:[$sLo,$sHi)", sliceFingerprint(p)) {
          slice.select("doc_id", "url").write.mode(SaveMode.Overwrite)
            .parquet(s"$outDir/docs_raw/slice=$p")
        } finally slice.unpersist(blocking = false)
        onUnitCommitted("tf", p)
      }
    }

    spine.run(TfInput(read(tfSchema, slicesOf("tf"): _*), "tf/slice=*"),
      read(docsRawSchema, slicesOf("docs_raw"): _*), blockBits,
      onUnitCommitted = onUnitCommitted)
  }
}
