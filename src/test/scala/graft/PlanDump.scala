package graft

import java.io.{File, PrintStream}

import org.apache.spark.sql.functions._

import graft.corpus.PagesCorpus
import graft.index.IndexBuilder
import graft.query.{BatchPlanned, Bm25Query}
import graft.tokenize.Tokenizer

/** Regenerates the raw plan dumps behind PLANS.md (plan-audit tool). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("graft-plans").toString
    val idx = IndexBuilder.build(spark,
      IndexBuilder.extractPages(PagesCorpus.pages(spark, 2000, parts = 8).toDF()), dir)
    val out = new PrintStream(new File("/tmp/plans_raw.txt"))
    Console.withOut(out) {
      println("### PLAN 1: tf stage (doc-local histogram flatMap — ZERO shuffle)")
      IndexBuilder.termFrequencies(
        PagesCorpus.pages(spark, 2000, parts = 8).toDF()).explain("formatted")
      println("### PLAN 2: naive BM25 scoring (pushed term_id IN filter, canonical-order sum)")
      Bm25Query.scoredNaive(idx,
        s"${PagesCorpus.vocab(3)} ${PagesCorpus.vocab(7)}", conjunctive = true)
        .get.explain("formatted")
      println("### PLAN 3: plain blocks scan (pushed filter + whole-stage codegen; the declarative readers' input)")
      val qids = Seq(
        graft.index.Bm25.termId(PagesCorpus.vocab(3)),
        graft.index.Bm25.termId(PagesCorpus.vocab(7)))
      idx.blockFiles.where(col("term_id").isin(qids: _*)).explain("formatted")
      println("### PLAN 4: FULL block-WAND query on a cold index (each bucket's files read for the query's terms -> one transient partition per bucket -> the one bucket scorer; no SQL plan, zero Exchange)")
      def planned(filter: Int, boosted: Boolean = false) =
        Array(BatchPlanned(qids.toArray, qids.map(_ => 1.0).toArray, conjunctive = true,
          Nil, Nil, boosted, filter))
      println(graft.query.HotServing.transient(idx, qids).toDebugString)
      println("### PLAN 5: terms dictionary lookup (pushed In(term), sorted row groups)")
      idx.terms.where(col("term").isin(PagesCorpus.vocab(3), PagesCorpus.vocab(7)))
        .explain("formatted")
      println("### PLAN 6: decoded posting reader (pushed In(term_id) on the plain blocks scan and the broadcast idf scan; the decode is a Generate, no shuffle)")
      idx.postings.where(col("term_id").isin(qids: _*)).explain("formatted")
      println("### PLAN 7: line-serving content scan (pushed In(doc_id) — reads ONLY the top-k docs; lines matched in-row, one explode, no shuffle)")
      val pages = spark.read.parquet(s"$dir/pages")
      val top = Bm25Query.searchBlocks(idx, PagesCorpus.vocab(3), 5).collect().toSeq
      Bm25Query.lineRecords(pages, top, Seq(PagesCorpus.vocab(3))).explain("formatted")
      println("### PLAN 8: filtered block-WAND on a cold index (doc filter as a SIDE INPUT: the allow set hash-partitioned by its docs' blocks buckets, zipped with the transient partitions of plan 4; zero Exchange on the blocks side)")
      val (numBuckets, blockBits) = idx.blocksMeta
      val allow = idx.docs.where(col("doc_id") % 3 === 0).select("doc_id")
      val sideAllow = graft.query.SideInput(Seq(allow), None, numBuckets, blockBits)
      println(graft.query.HotServing.zipped(
        graft.query.HotServing.transient(idx, qids),
        sideAllow, planned(0), 10, graft.query.ImpactReader(idx)).toDebugString)
      println("### PLAN 9: symbols search via artifact (containment on the names DIMENSION, pushed In(name) on the fact table)")
      val symDir = java.nio.file.Files.createTempDirectory("graft-plans-sym").toString
      graft.symbols.Symbols.build(pages, symDir)
      graft.symbols.Symbols.searchIndexed(spark, symDir, PagesCorpus.vocab(3), 10)
        .explain("formatted")
      println("### PLAN 10: regex PREFIX literal lookup (sorted-range predicate pushed into the terms scan)")
      graft.query.RegexQuery.termIdsForLiteral(idx,
        graft.query.RegexQuery.Lit("vect", leftBound = true, rightBound = false))
        .explain("formatted")
      println("### PLAN 11: regex SUFFIX literal lookup (sorted-range predicate on the REVERSED-term dimension)")
      graft.query.RegexQuery.termIdsForLiteral(idx,
        graft.query.RegexQuery.Lit("vous", leftBound = false, rightBound = true))
        .explain("formatted")
      println("### PLAN 12: DENSE filter + rank set on a HOT index (the resident partitions zipped with the side input: one job, the side input's shuffle its only map stage)")
      val allowDense = idx.docs.where(col("doc_id") % 3 =!= 0).select("doc_id")
      val rank = idx.docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit(2.0).as("static_rank"))
      val hot = IndexBuilder.load(spark, dir).cacheHot()
      graft.query.HotServing.zipped(hot.hotPartitions.get,
        graft.query.SideInput(Seq(allowDense), Some(rank), numBuckets, blockBits),
        planned(0, boosted = true), 10, graft.query.ImpactReader(idx))
        .toDebugString.linesIterator.foreach(println)
      println("### PLAN 13: blocks encode FROM TF ROWS (round 5 byte cut — the one build shuffle ships (tf INT, doc_len INT), block_max computed in-task from the broadcast idf dict)")
      val idfMap = new graft.index.LongDoubleMap(
        math.max(16, idx.stats.num_terms.toInt))
      idx.terms.select("term_id", "idf").collect()
        .foreach(r => idfMap.put(r.getLong(0), r.getDouble(1)))
      graft.index.PostingBlocks.encodeFromTf(
        idx.tfRows.select("term_id", "doc_id", "tf", "doc_len"),
        idx.stats.avgdl, spark.sparkContext.broadcast(idfMap))
        .explain("formatted")
      println("### PLAN 14: regex INFIX literal lookup (pushed In(gram) probes over the trigram dimension, containment verify on candidates only)")
      graft.query.RegexQuery.termIdsForLiteral(idx,
        graft.query.RegexQuery.Lit("ecto", leftBound = false, rightBound = false))
        .explain("formatted")
      println("### PLAN 15: regex CANDIDATE pass (one ranked + one prefix query: tagged dictionary rows joined onto the encoded blocks before the decode; one repartition by doc_id under the one agg (conjunctive merge + canonical ranked score fold) and the dedupe)")
      graft.query.RegexQuery.candidates(idx, Seq(
        graft.query.RegexQuery.Query(s" ${PagesCorpus.vocab(3)} ${PagesCorpus.vocab(7)} "),
        graft.query.RegexQuery.Query("\\svect\\w+"))).get
        .explain("formatted")
      println("### PLAN 16: one-pass symbol extraction (extractCode: ONE exploded-lines scan, arms as array-of-structs, doc-local lag window; extractWeb: ONE combined-regex scan)")
      graft.symbols.Symbols.extractCode(
        pages.select(col("doc_id"), col("text"))).explain("formatted")
      graft.symbols.Symbols.extractWeb(
        pages.select(col("doc_id"),
          concat(lit("<html><title>t</title><h1>"), col("doc_id"),
            lit("</h1></html>")).as("html"))).explain("formatted")
      println("### PLAN 17: typed-chunk dispatch (symbols materialized ONCE — both the membership anti-join and the chunk equi-join read the checkpoint scan, not a re-run of the 14-arm extraction; fixed branch = posexplode+groupBy on symbol-less docs only)")
      val plainPages = pages.select(col("doc_id"), col("text"))
      graft.ops.Chunking.typedChunks(plainPages,
        graft.symbols.Symbols.extractCode(plainPages)
          .where(col("is_definition")), sizeLines = 8, overlap = 2)
        .explain("formatted")
      println("### PLAN 18: dedup cluster resolution — one contraction round as iterated, BOTH half-rounds (groupBy-min Exchange + equi-join, NO neighborhood arrays; each half reads a localCheckpoint RDD scan, never a re-derivation — the unmaterialized form executed large-star 3x per round)")
      val seedEdges = pages.select(col("doc_id").as("u"),
        (col("doc_id") + lit(1L)).as("v")).where(col("doc_id") % 5 === 0)
        .localCheckpoint()
      val half = graft.ops.Dedup.largeStar(seedEdges)
      half.explain("formatted")
      graft.ops.Dedup.smallStar(half.localCheckpoint()).explain("formatted")
    }
    out.close()
    spark.stop()
    println("wrote /tmp/plans_raw.txt")
  }
}
