package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.checkpoint.{CheckpointedBuild, DriverParquet, ManifestRow}
import graft.corpus.PagesCorpus
import graft.index.{BuiltIndex, IndexBuilder}
import graft.query.Bm25Query

/** Kill-and-resume fixture (FIXTURES.md §4): interrupt the build after k
  * committed units, resume, assert (a) committed units not recomputed
  * (manifest timestamps unchanged), (b) final index content-identical to
  * an uninterrupted build.
  */
class CheckpointSpec extends AnyFunSuite {

  private val n = 300L
  private lazy val spark = TestSpark.spark

  private case class Boom() extends RuntimeException("injected kill")

  /** Each manifest unit's commit time. */
  private def commits(dir: String): Map[(String, Int), Long] =
    CheckpointedBuild.manifest(spark, dir).collect().map(r =>
      (r.getAs[String]("stage"), r.getAs[Int]("part")) -> r.getAs[Long]("committed_at")).toMap

  /** The index's postings, decoded from its blocks, in a canonical order. */
  private def postingsOf(ix: BuiltIndex): Seq[String] =
    ix.postings.collect().map(_.toString).sorted.toSeq

  test("kill after 3 tf slices, resume, index content-identical") {
    val dirA = Files.createTempDirectory("graft-ckpt-a").toString
    val dirB = Files.createTempDirectory("graft-ckpt-b").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()

    // uninterrupted reference build
    val idxB = CheckpointedBuild.build(spark, raw, dirB, slices = 6)

    // interrupted build: die after the 3rd committed tf slice
    var committed = 0
    intercept[Boom] {
      CheckpointedBuild.build(spark, raw, dirA, slices = 6,
        onUnitCommitted = (stage, _) => {
          if (stage == "tf") { committed += 1; if (committed == 3) throw Boom() }
        })
    }
    assert((0 until 3).forall(p =>
      CheckpointedBuild.isCommitted(s"$dirA/tf/slice=$p")))
    assert((3 until 6).forall(p =>
      !CheckpointedBuild.isCommitted(s"$dirA/tf/slice=$p")))

    // snapshot manifest timestamps of the committed slices
    val before = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "tf")
      .collect().map(r => r.getAs[Int]("part") -> r.getAs[Long]("committed_at")).toMap
    assert(before.keySet == Set(0, 1, 2))

    // resume
    val idxA = CheckpointedBuild.build(spark, raw, dirA, slices = 6)

    // (a) committed units were skipped: their manifest rows are untouched
    val after = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "tf")
      .collect().map(r => r.getAs[Int]("part") -> r.getAs[Long]("committed_at")).toMap
    assert(after.size == 6)
    (0 until 3).foreach(p => assert(after(p) == before(p), s"slice $p recomputed"))

    // (b) content-identical index tables
    def canon(path: String, table: String, cols: Seq[String]): Seq[String] = {
      spark.read.parquet(s"$path/$table").select(cols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    }
    assert(canon(dirA, "docs", Seq("doc_id", "url", "doc_len")) ==
      canon(dirB, "docs", Seq("doc_id", "url", "doc_len")))
    assert(canon(dirA, "terms", Seq("term_id", "term", "df", "idf")) ==
      canon(dirB, "terms", Seq("term_id", "term", "df", "idf")))
    assert(postingsOf(idxA) == postingsOf(idxB))
    assert(canon(dirA, "blocks", Seq("term_id", "block_id", "n", "block_max")) ==
      canon(dirB, "blocks", Seq("term_id", "block_id", "n", "block_max")))
    assert(idxA.stats == idxB.stats)

    // and queries agree end-to-end
    val q = PagesCorpus.vocab(2)
    val a = Bm25Query.searchBlocks(idxA, q, 10).collect().map(h => (h.doc_id, h.score))
    val b = Bm25Query.searchBlocks(idxB, q, 10).collect().map(h => (h.doc_id, h.score))
    assert(a.toSeq == b.toSeq)
  }

  test("mutated input on resume: staleness triage rebuilds only the stale slice") {
    val dirA = Files.createTempDirectory("graft-ckpt-stale-a").toString
    val dirC = Files.createTempDirectory("graft-ckpt-stale-c").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    CheckpointedBuild.build(spark, raw, dirA, slices = 6)
    val before = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "tf")
      .collect().map(r => r.getAs[Int]("part") -> r.getAs[Long]("committed_at")).toMap

    // mutate ONE doc (doc 123 lives in slice 2 of [0,300) x 6)
    val newHtml = "resumemutation fresh content for the stale slice check"
      .getBytes("UTF-8")
    val mutated = raw.withColumn("html",
      when(col("doc_id") === 123L, lit(newHtml)).otherwise(col("html")))

    // resume over the mutated input; fresh build as the ground truth
    val idxA = CheckpointedBuild.build(spark, mutated, dirA, slices = 6)
    val idxC = CheckpointedBuild.build(spark, mutated, dirC, slices = 6)

    // triage: slice 2 stale (recomputed), all others valid (untouched)
    val after = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "tf")
      .collect().map(r => r.getAs[Int]("part") -> r.getAs[Long]("committed_at")).toMap
    assert(after(2) != before(2), "stale slice must be recomputed")
    Seq(0, 1, 3, 4, 5).foreach(p =>
      assert(after(p) == before(p), s"valid slice $p must not be recomputed"))
    val rec = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "reconcile").collect()
    assert(rec.length == 1)
    assert(rec.head.getAs[String]("lineage") == "valid=5 stale=1 removed=0")

    // rebuilt index == from-scratch build of the mutated input
    def canon(path: String, table: String, cols: Seq[String]): Seq[String] =
      spark.read.parquet(s"$path/$table").select(cols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    assert(canon(dirA, "docs", Seq("doc_id", "url", "doc_len")) ==
      canon(dirC, "docs", Seq("doc_id", "url", "doc_len")))
    assert(canon(dirA, "terms", Seq("term_id", "term", "df", "idf")) ==
      canon(dirC, "terms", Seq("term_id", "term", "df", "idf")))
    assert(postingsOf(idxA) == postingsOf(idxC))
    assert(idxA.stats == idxC.stats)
    // the mutated content is actually served
    val hits = Bm25Query.searchBlocks(idxA, "resumemutation", 10).collect()
    assert(hits.map(_.doc_id).toSeq == Seq(123L))
  }

  test("resume with changed blockBits invalidates blocks, not tf slices") {
    val dirA = Files.createTempDirectory("graft-ckpt-cfg-a").toString
    val dirC = Files.createTempDirectory("graft-ckpt-cfg-c").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    CheckpointedBuild.build(spark, raw, dirA, slices = 4, blockBits = 8)
    val before = CheckpointedBuild.manifest(spark, dirA)
      .collect().map(r =>
        (r.getAs[String]("stage"), r.getAs[Int]("part")) ->
          r.getAs[Long]("committed_at")).toMap

    // resume with a DIFFERENT block geometry; fresh build = ground truth
    val idxA = CheckpointedBuild.build(spark, raw, dirA, slices = 4, blockBits = 6)
    val idxC = CheckpointedBuild.build(spark, raw, dirC, slices = 4, blockBits = 6)

    val after = CheckpointedBuild.manifest(spark, dirA)
      .collect().map(r =>
        (r.getAs[String]("stage"), r.getAs[Int]("part")) ->
          r.getAs[Long]("committed_at")).toMap
    // blocks rebuilt, and stats, which counts their postings; tf/docs/terms
    // untouched
    assert(after(("blocks", 0)) != before(("blocks", 0)),
      "blocks must be rebuilt under the new blockBits")
    assert(after(("stats", 0)) != before(("stats", 0)), "stats reads blocks")
    (0 until 4).foreach(p => assert(after(("tf", p)) == before(("tf", p)),
      s"tf slice $p must not be recomputed on a blockBits-only change"))
    Seq("docs", "terms").foreach(st =>
      assert(after((st, 0)) == before((st, 0)), s"$st must not be recomputed"))
    assert(idxA.stats == idxC.stats)
    // config_reconcile row records the invalidation
    val cr = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "config_reconcile").collect()
    assert(cr.length == 1)
    assert(cr.head.getAs[String]("lineage").contains("blockBits"))

    // rebuilt blocks == from-scratch blocks at the new geometry
    def canon(path: String, table: String, cols: Seq[String]): Seq[String] =
      spark.read.parquet(s"$path/$table").select(cols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    assert(canon(dirA, "blocks", Seq("term_id", "block_id", "n", "block_max")) ==
      canon(dirC, "blocks", Seq("term_id", "block_id", "n", "block_max")))
    assert(idxA.blocksMeta == idxC.blocksMeta)
    val q = PagesCorpus.vocab(2)
    assert(Bm25Query.searchBlocks(idxA, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq ==
      Bm25Query.searchBlocks(idxC, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq)

    // a checkpoint from before the codec joined the config, whose blocks
    // hold f64 impact doubles: it does not load, and a resume re-encodes
    // blocks (and stats), not tf, docs or terms
    import spark.implicits._
    val cfg = spark.read.parquet(s"$dirA/manifest/config_0").as[ManifestRow].head()
    assert(cfg.lineage.contains(";codec=tfdl;"))
    Seq(cfg.copy(lineage = cfg.lineage.replace(";codec=tfdl", ""))).toDS()
      .write.mode("overwrite").parquet(s"$dirA/manifest/config_0")
    DriverParquet.writeTable(spark, Paths.get(dirA, "blocks_meta"), BuiltIndex.BlocksMetaSchema,
      Row(idxA.blocksMeta._1, 6, "f64"))
    intercept[IllegalStateException](IndexBuilder.load(spark, dirA))
    val resumed = CheckpointedBuild.build(spark, raw, dirA, slices = 4, blockBits = 6)
    val last = CheckpointedBuild.manifest(spark, dirA)
      .collect().map(r =>
        (r.getAs[String]("stage"), r.getAs[Int]("part")) ->
          r.getAs[Long]("committed_at")).toMap
    Seq("blocks", "stats").foreach(st =>
      assert(last((st, 0)) != after((st, 0)), s"$st must be rebuilt for the codec"))
    (0 until 4).foreach(p => assert(last(("tf", p)) == after(("tf", p))))
    Seq("docs", "terms").foreach(st => assert(last((st, 0)) == after((st, 0))))
    val cr2 = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "config_reconcile").collect()
    assert(cr2.map(_.getAs[String]("lineage")).toSeq ==
      Seq("changed=codec invalidated=blocks,stats"))
    assert(spark.read.parquet(s"$dirA/blocks_meta").head().getAs[String]("impact_codec") ==
      "tfdl" && resumed.stats == idxC.stats)
    def payloads(path: String): Seq[String] = spark.read.parquet(s"$path/blocks")
      .select(col("term_id"), col("block_id"), hex(col("impacts_enc")), col("block_max"))
      .collect().map(_.toString).sorted.toSeq
    assert(payloads(dirA) == payloads(dirC))
  }

  test("a bm25-only change keeps the tf and docs units and their manifest rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt-bm25").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    CheckpointedBuild.build(spark, raw, dir, slices = 4)
    val before = commits(dir)
    // simulate a bm25 parameter change: rewrite the persisted PRIOR
    // fingerprint (K1/B are compile-time constants) — the reconcile then
    // invalidates terms and every stage below it
    val cfg = spark.read.parquet(s"$dir/manifest/config_0")
      .as[graft.checkpoint.ManifestRow].head()
    val mutated = cfg.copy(lineage = cfg.lineage.replaceAll(
      "bm25=[^;]*", "bm25=9.9,0.55"))
    Seq(mutated).toDS().write.mode("overwrite")
      .parquet(s"$dir/manifest/config_0")
    CheckpointedBuild.build(spark, raw, dir, slices = 4)
    val after = commits(dir)
    // invalidation matches exact unit names (ADVICE r6), so the units it
    // keeps keep their manifest rows too: a lost row would be SILENT,
    // since the data-dir markers skip the recompute
    ((0 until 4).map("tf" -> _) :+ ("docs" -> 0)).foreach(u =>
      assert(after(u) == before(u), s"$u must survive a bm25-only change"))
    Seq("terms", "dims", "blocks", "stats").foreach(st =>
      assert(after(st -> 0) != before(st -> 0), s"$st must be rebuilt"))
    // the reconcile recorded the bm25 invalidation
    val cr = CheckpointedBuild.manifest(spark, dir)
      .where(col("stage") === "config_reconcile").collect()
    assert(cr.map(_.getAs[String]("lineage")).toSeq ==
      Seq("changed=bm25 invalidated=terms,dims,blocks,stats"))
  }

  test("kill after blocks commits: docs, terms and blocks are not recomputed") {
    val dirA = Files.createTempDirectory("graft-ckpt-blk-a").toString
    val dirB = Files.createTempDirectory("graft-ckpt-blk-b").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    val idxB = CheckpointedBuild.build(spark, raw, dirB, slices = 6,
      blockBits = 6)

    // die once blocks has committed, before stats runs
    intercept[Boom] {
      CheckpointedBuild.build(spark, raw, dirA, slices = 6, blockBits = 6,
        onUnitCommitted = (stage, _) => if (stage == "blocks") throw Boom())
    }
    assert(CheckpointedBuild.isCommitted(s"$dirA/blocks"))
    assert(!CheckpointedBuild.isCommitted(s"$dirA/stats"))
    val kept = Seq("docs", "terms", "blocks")
    def committedAt(dir: String): Map[String, Long] = CheckpointedBuild.manifest(spark, dir)
      .where(col("part") === 0).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("committed_at")).toMap
    val before = committedAt(dirA)
    assert(kept.forall(before.contains) && !before.contains("stats"))

    val idxA = CheckpointedBuild.build(spark, raw, dirA, slices = 6,
      blockBits = 6)
    val after = committedAt(dirA)
    kept.foreach(st => assert(after(st) == before(st), s"$st recomputed"))
    assert(after.contains("stats"), "stats must be recomputed")

    // full bit-level content identity of the serving blocks table
    def blocksBytes(path: String): Map[(Long, Long), (Int, Seq[Byte], Seq[Byte], Double)] =
      spark.read.parquet(s"$path/blocks").collect().map { r =>
        (r.getAs[Long]("term_id"), r.getAs[Long]("block_id")) ->
          ((r.getAs[Int]("n"), r.getAs[Array[Byte]]("docs_enc").toSeq,
            r.getAs[Array[Byte]]("impacts_enc").toSeq,
            r.getAs[Double]("block_max")))
      }.toMap
    assert(blocksBytes(dirA) == blocksBytes(dirB))
    assert(postingsOf(idxA) == postingsOf(idxB))
    assert(idxA.stats == idxB.stats)
    val q = PagesCorpus.vocab(2)
    assert(Bm25Query.searchBlocks(idxA, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq ==
      Bm25Query.searchBlocks(idxB, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq)
  }

  test("kill after terms commits: tf, docs and terms are not recomputed") {
    val dirA = Files.createTempDirectory("graft-ckpt-trm-a").toString
    val dirB = Files.createTempDirectory("graft-ckpt-trm-b").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    val idxB = CheckpointedBuild.build(spark, raw, dirB, slices = 6)

    // die once terms has committed, before dims and blocks run
    intercept[Boom] {
      CheckpointedBuild.build(spark, raw, dirA, slices = 6,
        onUnitCommitted = (stage, _) => if (stage == "terms") throw Boom())
    }
    assert(CheckpointedBuild.isCommitted(s"$dirA/terms"))
    Seq("terms_rev", "blocks", "stats").foreach(t =>
      assert(!CheckpointedBuild.isCommitted(s"$dirA/$t"), t))
    val kept = (0 until 6).map("tf" -> _) ++ Seq("docs" -> 0, "terms" -> 0)
    val rebuilt = Seq("dims", "blocks", "stats").map(_ -> 0)
    val before = commits(dirA)
    assert(kept.forall(before.contains) && !rebuilt.exists(before.contains))

    val idxA = CheckpointedBuild.build(spark, raw, dirA, slices = 6)
    val after = commits(dirA)
    kept.foreach(u => assert(after(u) == before(u), s"$u recomputed"))
    rebuilt.foreach(u => assert(after.contains(u), s"$u must be rebuilt"))

    // dictionary, dims, stats and top-k identical to the uninterrupted
    // build (same rows, same idf bits)
    def dict(path: String): Set[(String, Long, Long, Double)] =
      spark.read.parquet(s"$path/terms").collect().map(r =>
        (r.getAs[String]("term"), r.getAs[Long]("df"),
          r.getAs[Long]("term_id"), r.getAs[Double]("idf"))).toSet
    assert(dict(dirA) == dict(dirB))
    assert(dict(dirA).nonEmpty)
    def dim(path: String, table: String): Set[(String, Long)] =
      spark.read.parquet(s"$path/$table").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    Seq("terms_rev", "terms_ngrams").foreach(t => assert(dim(dirA, t) == dim(dirB, t), t))
    assert(idxA.stats == idxB.stats)
    val q = PagesCorpus.vocab(3)
    assert(Bm25Query.searchBlocks(idxA, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq ==
      Bm25Query.searchBlocks(idxB, q, 10).collect().map(h => (h.doc_id, h.score)).toSeq)
  }

  test("resume of a dir with committed units but NO config manifest " +
      "invalidates everything (pre-fingerprinting dirs)") {
    val dirA = Files.createTempDirectory("graft-ckpt-noconfig").toString
    val raw = PagesCorpus.pages(spark, n, parts = 4).toDF()
    CheckpointedBuild.build(spark, raw, dirA, slices = 4)
    val before = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "tf")
      .collect().map(r => r.getAs[Int]("part") -> r.getAs[Long]("committed_at")).toMap

    // simulate a pre-upgrade checkpoint dir: committed units, no config_0
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rmrf)
      p.delete(); ()
    }
    rmrf(new java.io.File(s"$dirA/manifest/config_0"))

    val idxA = CheckpointedBuild.build(spark, raw, dirA, slices = 4)
    val after = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "tf")
      .collect().map(r => r.getAs[Int]("part") -> r.getAs[Long]("committed_at")).toMap
    // unknown prior config => every stage rebuilt (the committed units
    // could carry any schema; trusting them can silently mix v1/v3 tf)
    (0 until 4).foreach(p =>
      assert(after(p) != before(p), s"tf slice $p must be rebuilt"))
    val cr = CheckpointedBuild.manifest(spark, dirA)
      .where(col("stage") === "config_reconcile").collect()
    assert(cr.nonEmpty)
    assert(cr.head.getAs[String]("lineage").contains("missing-config"))
    assert(idxA.stats.num_docs > 0)
  }

  test("manifest carries lineage and metrics per unit") {
    val dir = Files.createTempDirectory("graft-ckpt-m").toString
    CheckpointedBuild.build(spark, PagesCorpus.pages(spark, 100L, parts = 2).toDF(),
      dir, slices = 2)
    val m = CheckpointedBuild.manifest(spark, dir).collect()
    val stages = m.map(_.getAs[String]("stage")).toSet
    assert(stages == Set("config", "tf", "docs", "terms", "dims", "blocks", "stats"))
    m.foreach { r =>
      assert(r.getAs[Long]("rows") >= 0)
      assert(r.getAs[String]("lineage").nonEmpty)
    }
    // tf slices carry their docId range lineage
    val tf0 = m.find(r => r.getAs[String]("stage") == "tf" && r.getAs[Int]("part") == 0).get
    assert(tf0.getAs[String]("lineage").startsWith("doc_id:["))
  }
}
