package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.checkpoint.CheckpointedBuild
import graft.corpus.PagesCorpus
import graft.index.{BuiltIndex, IndexBuilder}
import graft.query.{BatchQuery, Bm25Query, Hit, RegexQuery}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, docs: Long, work: String)

/** End-to-end benchmark of index build, serving and refresh.
  *
  * Usage: perfbench.Bench --workload serve|refresh --seed N --seconds S
  *   --trace 0|1 --docs N --work DIR
  *
  * Prints `[metric]` lines for a reader and, as its last stdout line, one
  * JSON object: the end-to-end metrics, or with `--trace 1` the per-layer
  * metrics. Exits 1 if any output check fails, 2 on bad arguments.
  */
object Bench {
  val Workloads = Seq("serve", "refresh")

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing $k")
    def num[A](k: String, f: String => A) =
      need(k).flatMap(v => scala.util.Try(f(v)).toOption.toRight(s"bad $k: $v"))
    for {
      w <- need("--workload").filterOrElse(Workloads.contains, "unknown workload")
      seed <- num("--seed", _.toLong)
      secs <- num("--seconds", _.toInt).filterOrElse(_ > 0, "--seconds must be > 0")
      tr <- need("--trace").filterOrElse(Set("0", "1"), "--trace must be 0 or 1")
      docs <- num("--docs", _.toLong).filterOrElse(_ >= 1000, "--docs must be >= 1000")
      work <- need("--work")
    } yield Args(w, seed, secs, tr == "1", docs, work)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv) match {
      case Right(a) => a
      case Left(msg) => System.err.println(s"perfbench: $msg"); sys.exit(2)
    }
    val code =
      try new Bench(a).run()
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally deleteTree(Paths.get(a.work))
    sys.exit(code)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val files = Files.walk(p)
    try files.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally files.close()
  }

  def dirBytes(dir: String): Long = {
    val files = Files.walk(Paths.get(dir))
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally files.close()
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      s(lo) + (s(math.ceil(pos).toInt) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

final class Bench(a: Args) {
  import Bench._

  private val K = 10
  private val Slices = 2
  private val SetupRepeats = 3
  /** Cycles per serve run, at least: 18 single queries and 2 batches. */
  private val MinCycles = 1
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val work = Paths.get(a.work).toAbsolutePath.toString
  private val corpusDir = s"$work/corpus"
  private val roots = mutable.Map(corpusDir -> "corpus")
  private val rnd = new scala.util.Random(a.seed)

  Files.createDirectories(Paths.get(work, "tmp"))
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // plan strings only: keeps scanned paths whole for layer attribution
    .config("spark.sql.maxMetadataStringLength", "100000")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private val tracer =
    if (a.trace) Some(new Tracer(spark.sparkContext, () => roots.toMap)) else None
  private var attempted = 0
  private var failed = 0
  private val problems = ArrayBuffer[String]()
  private val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  private val report = mutable.LinkedHashMap[String, (Double, String)]()
  private val extras = mutable.LinkedHashMap[String, Double]()

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"[check] FAILED: $what") }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** One timed op. A failed op is counted and never timed. */
  private def op[A](kind: OpKind, traced: Boolean = true)(f: => A): Option[(A, Double)] = {
    attempted += 1
    val tr = tracer.filter(_ => traced)
    tr.foreach(_.attach())
    try {
      val w0 = System.currentTimeMillis()
      val (r, ms) = timed(f)
      tr.foreach(_.finishOp(kind, w0, System.currentTimeMillis()))
      Some((r, ms))
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[op] ${kind.name} failed: $e")
        None
    } finally tr.foreach(_.detach())
  }

  private def must[A](what: String, r: Option[(A, Double)]): (A, Double) =
    r.getOrElse(throw new IllegalStateException(s"$what failed"))

  // ---- corpus: CheckpointedBuild's docId-range slices, one directory each

  private val sliceWidth = (a.docs - 1 + Slices) / Slices
  private val parts = 2 * nproc

  private def writeCorpus(): Unit =
    PagesCorpus.pages(spark, a.docs, a.seed, parts).toDF()
      .withColumn("slice", (col("doc_id") / sliceWidth).cast("int"))
      .write.mode("overwrite").partitionBy("slice").parquet(corpusDir)

  private def writeSlice(p: Int, seed: Long): Unit =
    PagesCorpus.pages(spark, a.docs, seed, parts).toDF()
      .where(col("doc_id") >= p * sliceWidth && col("doc_id") < (p + 1) * sliceWidth)
      .write.mode("overwrite").parquet(s"$corpusDir/slice=$p")

  private def corpus(): DataFrame = spark.read.parquet(corpusDir)

  /** Corpus set-up, repeated; the median is the set-up time. */
  private def corpusSetupMs(): Double = {
    val ms = median((1 to SetupRepeats).map(_ => timed(writeCorpus())._2))
    report("corpus_setup_s") = (ms / 1000.0, "s")
    ms
  }

  private def indexDir(name: String): String = {
    val d = s"$work/$name"
    roots(d) = name
    d
  }

  private def build(dir: String): BuiltIndex =
    IndexBuilder.build(spark, IndexBuilder.extractPages(corpus()), dir)

  // ---- queries

  private val vocab = PagesCorpus.vocab
  private val needleIds = {
    val present = math.min(PagesCorpus.NeedleCount.toLong,
      (a.docs - 1) / PagesCorpus.NeedleEvery + 1).toInt
    rnd.shuffle((0 until present).toVector).take(16)
  }
  private def pick(n: Int, f: Int => BatchQuery) = Vector.fill(n)(f(rnd.nextInt(40)))
  private val needleQ = needleIds.map(i => BatchQuery(PagesCorpus.needleTerm(i)))
  private val conjQ = pick(8, b => BatchQuery(s"${vocab(3 + b)} ${vocab(40 + 7 * b)}"))
  private val headQ = Vector(0, 1, 2).map(i => BatchQuery(vocab(i)))
  private val disjQ = pick(3, b =>
    BatchQuery(s"${vocab(20 + b)} ${vocab(100 + b)}", conjunctive = false))
  private val filtQ = pick(2, b => BatchQuery(s"${vocab(5 + b)} ${vocab(60 + b)}",
    include = Seq(f"https://site-0${b % 10}%d*.example/**")))
  /** The 32 queries of every batch; single queries are drawn from it too. */
  private val pool = needleQ ++ conjQ ++ headQ ++ disjQ ++ filtQ
  private val regexes = pick(4, b => BatchQuery(s"${vocab(8 + b)}\\s+\\w+")).map(_.query)

  private def expectedNeedle(q: BatchQuery): Option[Set[Long]] =
    needleIds.find(i => PagesCorpus.needleTerm(i) == q.query).map(i =>
      PagesCorpus.needleDocs(i, a.docs).map(_._1)
        .filterNot(PagesCorpus.isSafetyRow).toSet)

  private def single(idx: BuiltIndex, q: BatchQuery): Vector[Hit] =
    Bm25Query.searchBlocks(idx, q.query, K, q.conjunctive, q.include, q.exclude)
      .collect().toVector

  private def checkNeedles(idx: BuiltIndex, results: Iterable[(BatchQuery, Vector[Hit])],
      where: String): Unit =
    results.foreach { case (q, hits) =>
      expectedNeedle(q).foreach { want =>
        check(hits.map(_.doc_id).toSet == want,
          s"$where: needle '${q.query}' hits ${hits.map(_.doc_id)} != $want")
      }
    }

  /** `f` over `xs` on nproc threads, results in input order. */
  private def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val threads = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try xs.map(x => threads.submit(() => f(x))).map(_.get())
    finally threads.shutdown()
  }

  private def sameHits(x: Vector[Hit], y: Vector[Hit]): Boolean =
    x.size == y.size && x.zip(y).forall { case (p, q) =>
      p.doc_id == q.doc_id && p.url == q.url && p.rank == q.rank &&
      java.lang.Double.doubleToLongBits(p.score) ==
        java.lang.Double.doubleToLongBits(q.score)
    }

  // ---- workloads

  def run(): Int = {
    System.out.println(s"[config] workload=${a.workload} seed=${a.seed} " +
      s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0} docs=${a.docs} " +
      s"nproc=$nproc master=${spark.sparkContext.master} " +
      s"heap_mb=${Runtime.getRuntime.maxMemory() / (1 << 20)} " +
      s"spark=${spark.version} java=${System.getProperty("java.version")}")
    a.workload match {
      case "serve" => serve()
      case "refresh" => refresh()
    }
    spark.stop()
    report("error_rate") = (failed.toDouble / math.max(1, attempted), "ratio")
    report.foreach { case (k, (v, u)) => System.out.println(s"[metric] $k=$v $u") }
    val ok = problems.isEmpty && failed == 0
    val metrics = if (a.trace) perLayer() else endToEnd.toSeq
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    System.out.println(s"""{"correct": $ok, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    if (ok) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15)
      v.toLong.toString else v.toString

  private def setupS(parts: Double*): Double = sessionS + parts.sum / 1000.0

  /** Build, cache and serve one index with a closed-loop client. */
  private def serve(): Unit = {
    val corpusMs = corpusSetupMs()
    // the first build in a fresh JVM, as a command-line build sees it
    val idxDir = indexDir("idx")
    val (idx, buildMs) = must("build", op(OpKind.Build)(build(idxDir)))
    val numDocs = idx.stats.num_docs
    val indexBytes = dirBytes(idxDir)
    val (_, cacheMs) = must("cache", op(OpKind.Cache)(idx.cacheHot().cacheDictionary()))
    val hotBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val pages = spark.read.parquet(s"$idxDir/pages")

    // 20-op cycle: every tenth op a 32-query batch; singles are 50% needle,
    // 28% common (conjunctive, head, disjunctive), 17% filtered or lines,
    // 5% regex
    val cycle = "NCNFNHNRNBCNLNDNFCNB"
    val turn = mutable.Map[Char, Int]().withDefaultValue(0)
    def next[A](c: Char, xs: IndexedSeq[A]): A = { turn(c) += 1; xs(turn(c) % xs.size) }
    val lat = ArrayBuffer[(Char, Double, Boolean)]()
    val singles = mutable.Map[BatchQuery, Vector[Hit]]()
    val batches = ArrayBuffer[Seq[Vector[Hit]]]()
    val lines = ArrayBuffer[(BatchQuery, Seq[graft.query.LineHit])]()
    val regexHits = ArrayBuffer[(String, Vector[Hit], Boolean)]()
    val t0 = System.nanoTime()
    var cycles = 0
    do {
      cycle.foreach { c =>
        // a traced run leaves every other needle query untraced: the
        // difference is the tracing overhead
        val traced = c != 'N' || turn('N') % 2 == 0
        def bm25(kind: OpKind, q: BatchQuery) =
          op(kind, traced)(single(idx, q)).map { case (h, ms) => singles(q) = h; ms }
        val ms: Option[Double] = c match {
          case 'N' => bm25(OpKind.Query, next(c, needleQ))
          case 'C' => bm25(OpKind.Query, next(c, conjQ))
          case 'H' => bm25(OpKind.Query, next(c, headQ))
          case 'D' => bm25(OpKind.Query, next(c, disjQ))
          case 'F' => bm25(OpKind.Filtered, next(c, filtQ))
          case 'L' =>
            val q = next(c, conjQ)
            op(OpKind.Lines, traced)(Bm25Query.searchWithLines(idx, pages, q.query, K)
              .collect().toSeq).map { case (r, ms) => lines += q -> r; ms }
          case 'R' =>
            val p = next(c, regexes)
            op(OpKind.Regex, traced)(RegexQuery.search(idx, pages, p, 100).collect()
              .toVector).map { case (r, ms) => regexHits += ((p, r, traced)); ms }
          case 'B' =>
            op(OpKind.Batch, traced)(Bm25Query.searchBlocksBatchEx(idx, pool, K))
              .map { case (r, ms) => batches += r; ms }
        }
        ms.foreach(m => lat += ((c, m, traced)))
      }
      cycles += 1
    } while (cycles < MinCycles || (System.nanoTime() - t0) / 1e9 < a.seconds)

    // ---- output checks, outside the timed ops; the reference queries run
    // on nproc threads
    val sample = Seq(needleQ(0), needleQ(1), conjQ(0), conjQ(1), headQ(0), disjQ(0), filtQ(0))
    val missing = (pool ++ sample ++ lines.map(_._1)).distinct.filterNot(singles.contains)
    singles ++= missing.zip(parallel(missing)(single(idx, _)))
    val naive = sample.zip(parallel(sample)(q => Bm25Query.searchNaive(idx, q.query, K,
      q.conjunctive, q.include, q.exclude).collect().toVector))
    checkNeedles(idx, singles, "single")
    batches.foreach(b => checkNeedles(idx, pool.zip(b), "batch"))
    for (b <- batches; (q, got) <- pool.zip(b))
      check(sameHits(got, singles(q)), s"batch result of '${q.query}' != single query")
    naive.foreach { case (q, want) =>
      check(sameHits(singles(q), want), s"searchBlocks('${q.query}') != searchNaive")
    }
    lines.foreach { case (q, rows) =>
      val top = singles(q).map(h => h.doc_id -> h.score).toSet
      check(rows.nonEmpty && rows.forall(r => top((r.doc_id, r.score))),
        s"lines of '${q.query}' are not within its top-$K")
    }
    regexHits.headOption.foreach { case (p, hits, _) =>
      val rx = java.util.regex.Pattern.compile("(?is)" + p)
      val texts = pages.where(col("doc_id").isin(hits.map(_.doc_id): _*))
        .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      check(hits.nonEmpty && hits.forall(h => texts.get(h.doc_id).exists(rx.matcher(_).find())),
        s"regex '$p' returned a doc that does not match")
    }

    val singleLat = lat.filter(x => "NCHDFLR".contains(x._1)).map(_._2)
    val batchLat = lat.filter(_._1 == 'B').map(_._2)
    endToEnd("setup_s") = (setupS(corpusMs, cacheMs), "s")
    endToEnd("build_docs_per_s") = (numDocs / (buildMs / 1000.0), "docs/s")
    endToEnd("index_mb") = (indexBytes / 1e6, "MB")
    endToEnd("op_p50_ms") = (median(lat.map(_._2).toSeq), "ms")
    report ++= endToEnd
    report("query_p50_ms") = (median(singleLat.toSeq), "ms")
    // p90 has fewer than ten samples beyond it at this sample count
    report("query_p90_ms") = (quantile(singleLat.toSeq, 0.9), "ms")
    report("query_samples") = (singleLat.size.toDouble, "count")
    report("regex_p50_ms") = (median(lat.filter(_._1 == 'R').map(_._2).toSeq), "ms")
    report("batch_ms_per_query") = (median(batchLat.toSeq) / pool.size, "ms")
    report("serve_qps") = (singleLat.size / (singleLat.sum / 1000.0), "1/s")
    report("hot_cache_mb") = (hotBytes / 1e6, "MB")
    val needles = lat.filter(_._1 == 'N')
    extras("trace.overhead_ms") = median(needles.filter(_._3).map(_._2).toSeq) -
      median(needles.filterNot(_._3).map(_._2).toSeq)
    val nq = tracer.map(t => Seq("query", "filtered", "lines").map(t.opCount).sum).getOrElse(0L)
    extras("query.jobs_per_query") = tracer.map(t =>
      Seq("query", "filtered", "lines").map(t.opJobs).sum.toDouble / nq).getOrElse(0.0)
    extras("query.driver_ms_per_query") = tracer.map(t =>
      Seq("query", "filtered", "lines").map(t.opDriverMs).sum / nq).getOrElse(0.0)
    extras("query.wand.rows_in_per_query") =
      tracer.map(_.totals("query.wand").rowsIn.toDouble / nq).getOrElse(0.0)
    val tracedRegexHits = regexHits.collect { case (_, h, true) => h.size }.sum
    extras("regex.verify.match_per_row") = tracer.map(t =>
      tracedRegexHits.toDouble / math.max(1L, t.totals("regex.verify").rowsIn))
      .getOrElse(0.0)
  }

  /** Checkpointed build, then resume after slice changes. */
  private def refresh(): Unit = {
    val corpusMs = corpusSetupMs()
    val ck = indexDir("ck")
    val resume = () => CheckpointedBuild.build(spark, corpus(), ck, Slices)
    val (full, fullMs) = must("checkpointed build", op(OpKind.Resume)(resume()))

    // no-op resume; a traced run times it untraced on both sides of a
    // traced one, for the overhead
    val noop = ArrayBuffer[(Double, Boolean)]()
    for (traced <- if (a.trace) Seq(false, true, false) else Seq(false))
      op(OpKind.Resume, traced)(resume()).foreach(r => noop += ((r._2, traced)))

    // each op changes one slice (to the second seed, or back) and resumes
    // until the fixed query is answered from the refreshed index
    val fixed = conjQ(0)
    val order = rnd.shuffle((0 until Slices).toVector)
    val refreshMs = ArrayBuffer[Double]()
    var rebuilt = 0L
    var units = 0L
    var last: Option[BuiltIndex] = None
    val t0 = System.nanoTime()
    var i = 0
    do {
      val p = order((i / 2) % Slices)
      writeSlice(p, if (i % 2 == 0) a.seed + 1 else a.seed)
      val before = commitMarkers(ck)
      op(OpKind.Resume) {
        val ix = resume()
        (ix, single(ix, fixed))
      }.foreach { case ((ix, _), ms) => refreshMs += ms; last = Some(ix) }
      val after = commitMarkers(ck)
      units += after.size
      rebuilt += after.count { case (f, t) => !before.get(f).contains(t) }
      i += 1
    } while ((System.nanoTime() - t0) / 1e9 < a.seconds)

    // a fresh, untimed build of the same input: the refreshed index must
    // answer exactly as it does
    val fresh = build(indexDir("fresh"))
    val refreshed = last.getOrElse(throw new IllegalStateException("refresh failed"))
    val probe = Seq(fixed, needleQ(0), headQ(0), disjQ(0))
    val got = parallel(probe)(single(refreshed, _))
    probe.zip(got).zip(parallel(probe)(single(fresh, _))).foreach { case ((q, g), want) =>
      check(sameHits(g, want), s"refreshed index top-$K for '${q.query}' != fresh build")
    }
    checkNeedles(refreshed, probe.zip(got), "refreshed")

    endToEnd("setup_s") = (setupS(corpusMs), "s")
    endToEnd("build_docs_per_s") = (full.stats.num_docs / (fullMs / 1000.0), "docs/s")
    endToEnd("index_mb") = (dirBytes(ck) / 1e6, "MB")
    endToEnd("op_p50_ms") = (median(refreshMs.toSeq), "ms")
    report ++= endToEnd
    report("refresh_s") = (median(refreshMs.toSeq) / 1000.0, "s")
    report("refresh_ops") = (refreshMs.size.toDouble, "count")
    report("noop_resume_s") = (median(noop.filterNot(_._2).map(_._1).toSeq) / 1000.0, "s")
    extras("trace.overhead_ms") =
      median(noop.filter(_._2).map(_._1).toSeq) - median(noop.filterNot(_._2).map(_._1).toSeq)
    extras("checkpoint.units_rebuilt_ratio") = rebuilt.toDouble / math.max(1L, units)
    Seq("query.jobs_per_query", "query.driver_ms_per_query",
      "query.wand.rows_in_per_query", "regex.verify.match_per_row")
      .foreach(extras(_) = 0.0)
  }

  /** The checkpoint's unit commit markers and their modification times. */
  private def commitMarkers(dir: String): Map[Path, Long] = {
    val files = Files.walk(Paths.get(dir))
    try files.iterator().asScala
      .filter(_.getFileName.toString == CheckpointedBuild.Marker)
      .map(f => f -> Files.getLastModifiedTime(f).toMillis).toMap
    finally files.close()
  }

  /** Per-layer metrics of a traced run. */
  private def perLayer(): Seq[(String, (Double, String))] = {
    val t = tracer.get
    val layers = Layers.all.flatMap { l =>
      val x = t.totals(l)
      Seq(s"$l.wall_ms" -> (x.wallMs, "ms"), s"$l.jobs" -> (x.jobs.toDouble, "count"),
        s"$l.exec_cpu_ms" -> (x.cpuMs, "ms"), s"$l.rows_in" -> (x.rowsIn.toDouble, "rows")) ++
      (if (l.startsWith("index.")) Seq(
        s"$l.shuffle_mb" -> (x.shuffleBytes / 1e6, "MB"),
        s"$l.spill_mb" -> (x.spillBytes / 1e6, "MB"))
      else Nil)
    }
    layers ++ Seq(
      "query.jobs_per_query" -> (extras("query.jobs_per_query"), "count"),
      "query.driver_ms_per_query" -> (extras("query.driver_ms_per_query"), "ms"),
      "query.wand.rows_in_per_query" -> (extras("query.wand.rows_in_per_query"), "rows"),
      "regex.verify.match_per_row" -> (extras("regex.verify.match_per_row"), "ratio"),
      "checkpoint.units_rebuilt_ratio" ->
        (extras.getOrElse("checkpoint.units_rebuilt_ratio", 0.0), "ratio"),
      "unattributed_jobs" -> (t.totals(Layers.Unattributed).jobs.toDouble, "count"),
      "trace.overhead_ms" -> (extras("trace.overhead_ms"), "ms"))
  }
}
