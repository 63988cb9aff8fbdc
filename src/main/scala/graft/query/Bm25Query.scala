package graft.query

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Par
import graft.index.{BuiltIndex, PostingCodec}
import graft.tokenize.Tokenizer

/** A resolved query term (driver-side analysis). */
case class QueryTerm(term: String, term_id: Long, df: Long, idf: Double)

/** A scored hit. */
case class Hit(doc_id: Long, url: String, score: Double, rank: Int)

/** A line-level match inside a top-k hit — the reference's result record
  * shape (file_path, line_number, match_start, match_end, snippet;
  * /root/reference/proto/search.proto:19-28).
  */
case class LineHit(
    doc_id: Long, url: String, score: Double, rank: Int,
    line_number: Int, match_start: Int, match_end: Int, snippet: String)

/** One query of a serving batch: text + mode + optional url globs + an
  * opt-in to the batch's shared static-rank boost (the typical serving
  * shape: one corpus-wide rank table, per-query path filters).
  */
case class BatchQuery(
    query: String,
    conjunctive: Boolean = true,
    include: Seq[String] = Nil,
    exclude: Seq[String] = Nil,
    boosted: Boolean = false)

/** One compressed posting block row as read at query time
  * ([[BucketFiles]]).
  */
case class BlockRow(term_id: Long, block_id: Long, n: Int,
    docs_enc: Array[Byte], impacts_enc: Array[Byte], block_max: Double)

/** BM25 top-k query engine over a [[BuiltIndex]].
  *
  * Query lifecycle mirrors the reference (SURVEY.md §3.1): tokenize + term
  * lookup (missing term in conjunctive mode short-circuits to empty, like
  * the missing-trigram check at /root/reference/src/index/trigram.rs:
  * 140-145) -> term order by ascending df (smallest-cardinality-first,
  * trigram.rs:148-149) -> posting intersection/union -> BM25 -> global
  * top-k with the frozen tie-break (score DESC, doc_id ASC).
  *
  * Two physical paths, asserted identical in tests:
  *   - [[searchNaive]]: join/groupBy over decoded posting rows — the
  *     declarative cross-check path (J1a in SURVEY.md §7.1) and the
  *     all-matches mode ([[scoredNaive]], [[searchBoosted]]);
  *   - the block path: the WAND merge kernel ([[processPartition]]) over
  *     compressed posting blocks with block-max pruning — the production
  *     path. Every block entry point ([[searchBlocks]],
  *     [[searchBlocksBoosted]], [[searchBlocksFiltered]],
  *     [[searchWithLines]]) is a batch of one through the planner of
  *     [[searchBlocksBatchEx]], which scores each chunk bucket by bucket
  *     with one scorer ([[HotServing]]) in ONE Spark job: over the
  *     resident partitions of a hot index or, otherwise, over transient
  *     partitions read from each bucket's files ([[BucketFiles]]).
  *     Doc filters and the rank set reach either as a [[SideInput]]
  *     partitioned like the blocks buckets, whatever their size.
  *
  * Every index has one layout (bucketed blocks with a `blocks_meta` row);
  * an index of any other fails at load ([[BuiltIndex.readLayout]]) and
  * must be rebuilt.
  */
object Bm25Query {

  /** Driver-side query analysis: tokenize, dedupe, resolve against the
    * dictionary. Returns resolved terms sorted by ascending df.
    * `allResolved` distinguishes conjunctive short-circuit.
    */
  case class Analyzed(terms: Vector[QueryTerm], nQueryTerms: Int) {
    def allResolved: Boolean = terms.size == nQueryTerms
  }

  def analyze(index: BuiltIndex, query: String): Analyzed = {
    val qTokens = Tokenizer.tokenize(query).distinct
    if (qTokens.isEmpty) return Analyzed(Vector.empty, 0)
    // serving mode: driver-resident dictionary => zero-job analysis;
    // otherwise a pruned In(term) scan of the sorted dictionary files
    val resolved = index.lookupTerms(qTokens) match {
      case Some(hits) =>
        hits.map { case (t, id, df, idf) => QueryTerm(t, id, df, idf) }.toVector
      case None =>
        import index.spark.implicits._
        Par.described(index.spark, "graft.query.analyze") {
          index.terms
            .where(col("term").isin(qTokens: _*))
            .select("term", "term_id", "df", "idf")
            .as[QueryTerm].collect().toVector
        }
    }
    Analyzed(resolved.sortBy(t => (t.df, t.term_id)), qTokens.size)
  }

  private val HitEncoder = Encoders.product[Hit]
  private val LineHitEncoder = Encoders.product[LineHit]

  /** `rows` as a Dataset of `enc`'s case class: a local relation of
    * external rows, converted by Catalyst's interpreted type converters,
    * with the schema of `enc` (nullability included) and the rows
    * `spark.createDataset` would give. `createDataset` generates and
    * compiles a serializer projection on every call, milliseconds of
    * fixed cost against a k-row result. Flat case classes only: every
    * field a primitive or a String.
    */
  private def resultDataset[A <: Product](spark: SparkSession, rows: Seq[A],
      enc: Encoder[A]): Dataset[A] =
    spark.createDataFrame(rows.map(Row.fromTuple).asJava, enc.schema).as(enc)

  /** A result of hits as a Dataset: see [[resultDataset]]. */
  private[query] def hitsDataset(index: BuiltIndex, hits: Seq[Hit]): Dataset[Hit] =
    resultDataset(index.spark, hits, HitEncoder)

  /** Attach urls + ranks to a (doc_id, score) top-k result. k is small
    * (clamped 1..1000 like the reference API, web/api.rs:164), so we
    * collect and re-drive a pruned scan of `docs`.
    */
  private def finish(index: BuiltIndex, scored: DataFrame, k: Int): Dataset[Hit] = {
    val top = scored
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "score")
      .collect()
      .zipWithIndex.map { case (r, i) => Hit(r.getLong(0), "", r.getDouble(1), i + 1) }
    hitsDataset(index, withUrls(index, Array(top.toVector)).head)
  }

  // ------------------------------------------------------------------
  // Naive declarative path (correctness cross-check)
  // ------------------------------------------------------------------

  /** (doc_id, score) DataFrame before the top-k, or None on short-circuit.
    * Exposed for SparkEntry gate queries.
    */
  def scoredNaive(index: BuiltIndex, query: String,
      conjunctive: Boolean): Option[DataFrame] = {
    val a = analyze(index, query)
    if (a.terms.isEmpty || (conjunctive && !a.allResolved)) return None
    val qids = a.terms.map(_.term_id)
    // term_id IN (...) prunes parquet row groups (blocks sorted by term_id)
    val pf = index.postings.where(col("term_id").isin(qids: _*))
    // Canonical summation order (ascending term_id) so distributed sums
    // are bit-identical to the oracle (SURVEY.md §7.4 score identity).
    val perDoc = pf.groupBy("doc_id").agg(
      count(lit(1)).as("nt"),
      aggregate(
        sort_array(collect_list(struct(col("term_id"), col("impact")))),
        lit(0.0),
        (acc, x) => acc + x.getField("impact")).as("score"))
    val scored =
      if (conjunctive) perDoc.where(col("nt") === lit(a.terms.size))
      else perDoc
    Some(scored.select("doc_id", "score"))
  }

  /** P5: include/exclude glob filter on urls, applied to the CANDIDATE set
    * after index lookup (reference semantics, engine.rs:1464-1472).
    */
  private def restrict(index: BuiltIndex, scored: DataFrame,
      include: Seq[String], exclude: Seq[String]): DataFrame =
    if (include.isEmpty && exclude.isEmpty) scored
    else scored.join(
      index.docs.where(PathFilter.predicate(col("url"), include, exclude))
        .select("doc_id"), Seq("doc_id"), "left_semi")

  def searchNaive(index: BuiltIndex, query: String, k: Int,
      conjunctive: Boolean = true,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil): Dataset[Hit] =
    if (isShortQuery(query))
      allDocsFallback(index, clampK(k), include, exclude)
    else scoredNaive(index, query, conjunctive) match {
      case None => hitsDataset(index, Nil)
      case Some(scored) =>
        finish(index, restrict(index, scored, include, exclude), clampK(k))
    }

  private def clampK(k: Int): Int = math.max(1, math.min(k, 1000))

  /** P4: a non-empty query whose every token the tokenizer drops (byte
    * length <= 2 — the reference's "query too short for a trigram" case).
    */
  private def isShortQuery(query: String): Boolean =
    query != null && query.trim.nonEmpty && Tokenizer.tokenize(query).isEmpty

  /** P4 short-query fallback: ALL documents are candidates, like the
    * reference (engine.rs:1242-1246, all_documents()). We rank score 0.0
    * in doc_id order (the reference then fast-ranks by per-doc metadata;
    * [[searchBoosted]] is the metadata-rank analog when a static rank
    * exists).
    */
  private def allDocsFallback(index: BuiltIndex, k: Int,
      include: Seq[String], exclude: Seq[String],
      allowedDocs: DataFrame = null): Dataset[Hit] = {
    val spark = index.spark
    import spark.implicits._
    val globbed =
      if (include.isEmpty && exclude.isEmpty) index.docs
      else index.docs.where(PathFilter.predicate(col("url"), include, exclude))
    val base =
      if (allowedDocs == null) globbed
      else globbed.join(allowedDocs.select("doc_id"), Seq("doc_id"), "left_semi")
    val top = Par.described(spark, "graft.query.urls") {
      base.orderBy(col("doc_id").asc).limit(k)
        .select("doc_id", "url").as[(Long, String)].collect()
    }
    hitsDataset(index, top.zipWithIndex.map { case ((d, u), i) =>
      Hit(d, u, 0.0, i + 1)
    }.toSeq)
  }

  /** Relevance x static-rank boosted search (declarative path) — the
    * reference's dependency boost applied at scoring time
    * (engine.rs:2003-2007): final = bm25 * static_rank, docs absent from
    * `rank(doc_id, static_rank)` default to 1.0. Optional url globs
    * restrict the candidate set BEFORE the top-k (same semantics as the
    * filtered paths). The declarative reference the block path's boosted
    * and filtered results are checked against.
    */
  def searchBoosted(index: BuiltIndex, query: String, k: Int,
      rank: DataFrame, conjunctive: Boolean = true,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil): Dataset[Hit] =
    scoredNaive(index, query, conjunctive) match {
      case None => hitsDataset(index, Nil)
      case Some(scored) =>
        val boosted = scored
          .join(rank.select("doc_id", "static_rank"), Seq("doc_id"), "left")
          .na.fill(1.0, Seq("static_rank"))
          .select(col("doc_id"),
            (col("score") * col("static_rank")).as("score"))
        finish(index, restrict(index, boosted, include, exclude), clampK(k))
    }

  /** K3 on the PRODUCTION path (round 4): boosted search through the
    * compressed blocks, a batch of one through [[searchBlocksBatchEx]].
    * The rank set `(doc_id, static_rank)` (distinct doc_ids, values >= 0,
    * checked in every bucket; docs absent default 1.0 like the
    * declarative path) ships as a [[SideInput]]: each bucket gets the
    * ranks of its own docs, of any total size. Inside the merge every
    * pruning bound scales by the bucket's max(rank) and each candidate's
    * final score is bm25 x rank(doc) — results equal searchBoosted
    * bit-for-bit (Bm25EngineSpec/DepsSpec).
    */
  def searchBlocksBoosted(index: BuiltIndex, query: String, k: Int,
      rank: DataFrame, conjunctive: Boolean = true): Dataset[Hit] =
    hitsDataset(index, searchBlocksBatchEx(index,
      Seq(BatchQuery(query, conjunctive, boosted = true)), k, Some(rank)).head)

  /** Per-match line materialization over the FINAL top-k docs only (late
    * materialization, the reference's fast-mode shape: rank first, read
    * content for the survivors, engine.rs:1317-1353). Per line of a hit
    * doc: the earliest case-insensitive occurrence of any query term
    * (match_start 1-based, like instr), capped at
    * [[MaxMatchesPerDoc]] lines per doc (the reference's OOM guard,
    * engine.rs:2053-2057), snippet = +/-[[SnippetWindow]] chars around the
    * match (truncate_around_match, engine.rs:96-185).
    */
  val MaxMatchesPerDoc = 100
  val SnippetWindow = 200

  /** Spark's `lower` of a string (A-Z mapped when it is all ASCII, else
    * ICU's `UCharacter.toLowerCase`, as on Spark's default collation),
    * as a function: Spark's own `lower` pays about a second on its first
    * call in a JVM, building a title-case table it never reads here.
    */
  private[graft] val lowerCase = udf((s: String) =>
    if (s.forall(_ < 0x80)) s.toLowerCase(java.util.Locale.ROOT)
    else com.ibm.icu.lang.UCharacter.toLowerCase(s))

  /** A batch of one through [[searchWithLinesBatch]]. */
  def searchWithLines(index: BuiltIndex, pagesText: DataFrame, query: String,
      k: Int, conjunctive: Boolean = true): Dataset[LineHit] =
    resultDataset(index.spark, searchWithLinesBatch(index, pagesText,
      Seq(BatchQuery(query, conjunctive)), k).head, LineHitEncoder)

  /** Per-match line records `(doc_id, line_number, match_start,
    * match_end, snippet)` of the docs of an already-final top-k hit set
    * (the shared tail of the single and batched lines paths); the caller
    * attaches each doc's hit.
    *
    * Late materialization MUST hold in the physical plan, not just the
    * scaladoc: the In(doc_id) filter is pushed to the content scan, so it
    * reads only the k hit docs (PLANS.md plan 7). Each doc's lines are
    * matched and capped inside its own row (split, transform, filter,
    * slice) before one explode, so the plan is one stage: no join with
    * the hits, no window and no shuffle.
    */
  private[graft] def lineRecords(pagesText: DataFrame, top: Seq[Hit],
      terms: Seq[String]): DataFrame = {
    // earliest occurrence of any term in the line (struct orders by
    // position first; ties prefer the shorter term), null = no match
    def best(line: Column) = array_min(array(terms.map(t =>
      when(instr(lowerCase(line), t) > 0,
        struct(instr(lowerCase(line), t).as("p"), lit(t.length).as("l")))): _*))
    val matched = filter(transform(split(col("text"), "\n"),
      (line, ln0) => struct(ln0.as("ln0"), line.as("line"), best(line).as("m"))),
      _.getField("m").isNotNull)
    pagesText
      .where(col("doc_id").isin(top.map(_.doc_id): _*))
      .select(col("doc_id"), explode(slice(matched, 1, MaxMatchesPerDoc)).as("x"))
      .select(
        col("doc_id"),
        (col("x.ln0") + 1).cast("int").as("line_number"),
        col("x.m.p").cast("int").as("match_start"),
        (col("x.m.p") + col("x.m.l")).cast("int").as("match_end"),
        substring(col("x.line"),
          greatest(lit(1), col("x.m.p") - SnippetWindow),
          lit(2 * SnippetWindow)).as("snippet"))
  }

  // ------------------------------------------------------------------
  // Block path: compressed postings + block-max pruning (production)
  // ------------------------------------------------------------------

  /** Merge one bucket's block groups for one query. Rows arrive sorted
    * by (block_id, term_id); `impacts` decodes a row's impact payload
    * (see [[HotServing]]), and is called only for rows a candidate is
    * scored from. `allow`, when not null, is the sorted array of the docs
    * the query may return among this bucket's docs: a filtered-out doc
    * never reaches the heap, so heap thresholds are thresholds over the
    * FILTERED doc set (exact).
    */
  private[graft] def processPartition(it: Iterator[BlockRow],
      nTerms: Int, k: Int,
      conjunctive: Boolean,
      impacts: BlockRow => Array[Double],
      allow: Array[Long] = null,
      boostIds: Array[Long] = null,
      boostVals: Array[Double] = null,
      maxBoost: Double = 1.0): Iterator[(Long, Double)] = {
    @inline def allowed(doc: Long): Boolean =
      allow == null || java.util.Arrays.binarySearch(allow, doc) >= 0
    // K3 static-rank boost pushed into the merge: final = bm25 * rank(doc)
    // (docs absent from the rank set default 1.0, like the declarative
    // path); every pruning bound scales by maxBoost (>= any per-doc rank),
    // so skipping stays strictly conservative and the boosted top-k exact
    @inline def boostOf(doc: Long): Double =
      if (boostIds == null) 1.0
      else {
        val i = java.util.Arrays.binarySearch(boostIds, doc)
        if (i >= 0) boostVals(i) else 1.0
      }
    // local top-k heap: head = current worst survivor
    val worstFirst: Ordering[(Long, Double)] = (a, b) => {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
    val heap = mutable.PriorityQueue.empty[(Long, Double)](worstFirst)
    @inline def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.head._2
    @inline def offer(doc: Long, score: Double): Unit = {
      if (heap.size < k) heap.enqueue((doc, score))
      else if (score > heap.head._2 ||
               (score == heap.head._2 && doc < heap.head._1)) {
        heap.dequeue(); heap.enqueue((doc, score))
      }
    }

    val group = mutable.ArrayBuffer.empty[BlockRow]
    var curBlock = Long.MinValue

    def flush(): Unit = {
      if (group.isEmpty) return
      val present = group.size
      if (conjunctive && present < nTerms) { group.clear(); return }
      // block-max WAND prune: upper bound of any doc in this range,
      // checked against the live heap threshold (strict: docs below it
      // cannot enter the exact top-k)
      var upper = 0.0
      var gi = 0
      while (gi < group.size) { upper += group(gi).block_max; gi += 1 }
      if (heap.size == k && upper * maxBoost < threshold) { group.clear(); return }
      // decode; rows are term_id-ascending => per-doc sums accumulate in
      // canonical term order (bit-identical to the oracle)
      if (conjunctive) {
        // docId arrays decode eagerly (the intersection needs them);
        // IMPACT arrays decode lazily, only if the intersection actually
        // survives to scoring — on head/stopword-conjunctive queries most
        // groups produce no candidate, and a tfdl impact costs a varint
        // pair and a BM25 evaluation per posting
        val docArrays = new Array[Array[Long]](present)
        val impArrays = new Array[Array[Double]](present)
        gi = 0
        while (gi < present) {
          docArrays(gi) = PostingCodec.decodeDocIds(group(gi).docs_enc, group(gi).n)
          gi += 1
        }
        @inline def imps(ti: Int): Array[Double] = {
          if (impArrays(ti) == null)
            impArrays(ti) = impacts(group(ti))
          impArrays(ti)
        }
        // doc-level bound: remUb(ti) = max attainable from terms ti..end
        // (Σ block_max suffix) — a candidate whose partial score cannot
        // reach the heap threshold stops mid-sum (exact: an equal score
        // can still win its tie-break, so only strictly-below bails)
        val remUb = new Array[Double](present + 1)
        gi = present - 1
        while (gi >= 0) { remUb(gi) = remUb(gi + 1) + group(gi).block_max; gi -= 1 }
        // k-way sorted intersection, smallest list drives (K2 semantics)
        val order = (0 until present).sortBy(docArrays(_).length)
        val driveIdx = order.head
        val drive = docArrays(driveIdx)
        val ptrs = new Array[Int](present)
        var di = 0
        while (di < drive.length) {
          val doc = drive(di)
          var ok = true
          var oi = 1
          while (ok && oi < present) {
            val li = order(oi)
            val arr = docArrays(li)
            var p = ptrs(li)
            if (p < arr.length && arr(p) < doc) {
              // galloping advance: exponential probe brackets doc, then a
              // bounded binary search — O(log gap) instead of O(gap), the
              // standard upgrade for skewed list-length ratios (the drive
              // list is the smallest, so gaps in the larger lists can be
              // huge). Pointer semantics identical to the linear walk:
              // p ends at the first element >= doc.
              var step = 1
              var hi = p + 1
              while (hi < arr.length && arr(hi) < doc) {
                p = hi; hi = p + step; step <<= 1
              }
              var idx = java.util.Arrays.binarySearch(
                arr, p + 1, math.min(hi, arr.length), doc)
              if (idx < 0) idx = -idx - 1
              p = idx
            }
            ptrs(li) = p
            ok = p < arr.length && arr(p) == doc
            oi += 1
          }
          if (ok && allowed(doc)) {
            // sum in ascending term_id order (= group order); positions
            // come from the intersection pointers (drive: di) — no
            // per-candidate binary searches. The doc's own boost scales
            // the partial-score viability bound and the final score
            // (bst = 1.0 when unboosted — exact identity).
            ptrs(driveIdx) = di
            val th = threshold
            val bst = boostOf(doc)
            var score = 0.0
            var ti = 0
            var viable = true
            while (viable && ti < present) {
              score += imps(ti)(ptrs(ti))
              ti += 1
              viable = (score + remUb(ti)) * bst >= th
            }
            if (viable) offer(doc, score * bst)
          }
          di += 1
        }
      } else {
        // union: doc-at-a-time WAND inside the group. Within one block
        // every list's per-doc upper bound is a CONSTANT (its block_max),
        // so the classic pivot rule applies directly: with alive lists
        // sorted by head doc, any doc below the pivot doc can only draw
        // from lists whose block_max prefix-sum is strictly below the
        // threshold — skip them without decoding. Impacts decode lazily,
        // only when one of a list's docs is actually evaluated; a doc is
        // skipped only when its bound is STRICTLY below the threshold,
        // so tie-breaks (and therefore results) stay bit-exact.
        val docArr = new Array[Array[Long]](present)
        gi = 0
        while (gi < present) {
          docArr(gi) = PostingCodec.decodeDocIds(group(gi).docs_enc, group(gi).n)
          gi += 1
        }
        val impArr = new Array[Array[Double]](present)
        @inline def imps(ti: Int): Array[Double] = {
          if (impArr(ti) == null)
            impArr(ti) = impacts(group(ti))
          impArr(ti)
        }
        val ptr = new Array[Int](present)
        val alive = new Array[Int](present)
        var running = true
        while (running) {
          // alive lists, insertion-sorted by head doc (present is tiny)
          var na = 0
          gi = 0
          while (gi < present) {
            if (ptr(gi) < docArr(gi).length) {
              val hd = docArr(gi)(ptr(gi))
              var j = na
              while (j > 0 &&
                  docArr(alive(j - 1))(ptr(alive(j - 1))) > hd) {
                alive(j) = alive(j - 1); j -= 1
              }
              alive(j) = gi; na += 1
            }
            gi += 1
          }
          if (na == 0) running = false
          else {
            val th = threshold
            var ub = 0.0
            var p = 0
            while (p < na && ub * maxBoost < th) {
              ub += group(alive(p)).block_max; p += 1
            }
            if (ub * maxBoost < th) running = false // Σ bounds < th: spent
            else {
              val pivotIdx = if (p == 0) 0 else p - 1
              val pl = alive(pivotIdx)
              val pivotDoc = docArr(pl)(ptr(pl))
              if (docArr(alive(0))(ptr(alive(0))) == pivotDoc) {
                // evaluate pivotDoc: sum lists whose head == pivotDoc in
                // ascending term_id (= group) order, then advance them
                val ok = allowed(pivotDoc)
                val bst = if (ok) boostOf(pivotDoc) else 1.0
                var score = 0.0
                gi = 0
                while (gi < present) {
                  if (ptr(gi) < docArr(gi).length &&
                      docArr(gi)(ptr(gi)) == pivotDoc) {
                    if (ok) score += imps(gi)(ptr(gi))
                    ptr(gi) += 1
                  }
                  gi += 1
                }
                if (ok) offer(pivotDoc, score * bst)
              } else {
                // advance lists with head < pivotDoc up to it
                var i = 0
                while (i < pivotIdx) {
                  val li = alive(i)
                  val arr = docArr(li)
                  var lo = java.util.Arrays.binarySearch(
                    arr, ptr(li), arr.length, pivotDoc)
                  if (lo < 0) lo = -lo - 1
                  ptr(li) = lo
                  i += 1
                }
              }
            }
          }
        }
      }
      group.clear()
    }

    new Iterator[(Long, Double)] {
      private var out: Iterator[(Long, Double)] = null
      private def run(): Unit = {
        while (it.hasNext) {
          val r = it.next()
          if (r.block_id != curBlock) { flush(); curBlock = r.block_id }
          group += r
        }
        flush()
        out = heap.dequeueAll.reverseIterator // best-first (cosmetic)
      }
      def hasNext: Boolean = { if (out == null) run(); out.hasNext }
      def next(): (Long, Double) = { if (out == null) run(); out.next() }
    }
  }

  /** Production top-k search, optionally restricted by url globs: a batch
    * of one through [[searchBlocksBatchEx]]. On a hot index
    * ([[BuiltIndex.cacheHot]]) that is one Spark job on the resident
    * partitions, globs and urls resolved inside it.
    */
  def searchBlocks(index: BuiltIndex, query: String, k: Int,
      conjunctive: Boolean = true,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil): Dataset[Hit] =
    hitsDataset(index, searchBlocksBatchEx(index,
      Seq(BatchQuery(query, conjunctive, include, exclude)), k).head)

  /** Block-path search restricted to an arbitrary allowed-doc set. The
    * filter applies BEFORE top-k pruning (docs outside the set never enter
    * a partition heap or move its threshold), so results are the exact
    * top-k of the allowed subset. The set ships as a [[SideInput]], each
    * bucket receiving the allowed docs of its own docId ranges, so it has
    * no size ceiling; the query runs as a batch of one, on the resident
    * partitions of a hot index.
    */
  def searchBlocksFiltered(index: BuiltIndex, query: String, k: Int,
      conjunctive: Boolean, allowedDocs: DataFrame): Dataset[Hit] = {
    val kk = clampK(k)
    if (isShortQuery(query)) allDocsFallback(index, kk, Nil, Nil, allowedDocs)
    else hitsDataset(index, serve(index, Seq(BatchQuery(query, conjunctive)), kk,
      None, Some(allowedDocs), MaxBatchCollectRows).head)
  }

  /** Driver-collect ceiling for ONE batched job: each job's candidate
    * collect is bounded by buckets x B x k rows (every partition returns
    * at most k survivors per query), so batches are CHUNKED to keep
    * B <= MaxBatchCollectRows / (k x buckets) per job — a B=1000, k=1000
    * batch over a 1000-bucket index would otherwise put ~1e9 rows on the
    * driver. Chunking trades a little amortization for a hard memory
    * bound; per-query results are unaffected (queries are independent).
    */
  val MaxBatchCollectRows: Long = 4000000L

  /** Batched serving, full query classes (round 5): each [[BatchQuery]]
    * carries its own mode, url-glob filter and boost opt-in; one Spark
    * job per chunk answers every batchable query over ONE read of the
    * buckets — the amortization story for the per-query scheduling floor.
    * The reference's validator drives its load test exactly this way — a
    * mixed workload against one hot engine
    * (fast_code_search_validator.rs:692-810). Every single-query block
    * entry point is a batch of one through this planner.
    *
    * Mechanics: all queries analyze on the driver (dictionary). Doc
    * filters (each distinct url-glob pair of a cold index) and the shared
    * rank set ship as ONE [[SideInput]] per call, partitioned like the
    * blocks buckets and zipped with them: its shuffle is a map stage of
    * the first chunk's job, which later chunks reuse. Each chunk is
    * scored bucket by bucket by ONE scorer ([[HotServing]]): per query it
    * gathers the bucket's rows of that query's terms in
    * (block_id, term_id) order and runs the merge kernel with the query's
    * heap, mode, filter and boost, so a query's hits do not depend on its
    * batch (asserted in BatchServingSpec); the driver merges the
    * per-bucket survivors. Short queries and unresolvable conjunctive
    * queries settle individually.
    *
    * On a hot index the buckets are its resident partitions: url globs
    * resolve inside the job against each bucket's own docs, urls come
    * back with the survivors, and the chunk is ONE job, side input
    * included. On a cold index each bucket's rows of the chunk's terms,
    * read from the bucket's files, become one transient partition without
    * urls, and one url lookup follows: two jobs.
    *
    * Returns one Vector[Hit] per input query, in input order.
    */
  def searchBlocksBatchEx(index: BuiltIndex, queries: Seq[BatchQuery],
      k: Int, rank: Option[DataFrame] = None,
      maxCollectRows: Long = MaxBatchCollectRows): Seq[Vector[Hit]] =
    serve(index, queries, clampK(k), rank, None, maxCollectRows)

  /** [[searchBlocksBatchEx]] with every query restricted to `docSet`
    * when given.
    */
  private def serve(index: BuiltIndex, queries: Seq[BatchQuery], kk: Int,
      rank: Option[DataFrame], docSet: Option[DataFrame],
      maxCollectRows: Long): Seq[Vector[Hit]] = {
    require(!queries.exists(_.boosted) || rank.nonEmpty,
      "batch contains boosted queries but no rank DataFrame was supplied")
    val hot = index.hotTier.filter(_.resident)
    val results = mutable.Map.empty[Int, Vector[Hit]]
    val planned = queries.zipWithIndex.flatMap { case (q, qi) =>
      if (isShortQuery(q.query)) {
        results(qi) = allDocsFallback(index, kk, q.include, q.exclude).collect().toVector
        None
      } else plan(index, q) match {
        case None => results(qi) = Vector.empty; None
        case Some(p) => Some((qi, p))
      }
    }
    // the doc filters to ship: the call's doc set, or each distinct
    // url-glob pair of a cold index (a hot bucket resolves globs against
    // its own urls)
    val globs =
      if (hot.nonEmpty || docSet.nonEmpty) Vector.empty
      else planned.map(p => (p._2.include, p._2.exclude))
        .filter(g => g._1.nonEmpty || g._2.nonEmpty).distinct.toVector
    val filters = docSet.toVector ++ globs.map { case (inc, exc) =>
      index.docs.where(PathFilter.predicate(col("url"), inc, exc)).select("doc_id")
    }
    val boosted = planned.exists(_._2.boosted)
    val (numBuckets, blockBits) = index.blocksMeta
    val side =
      if (filters.isEmpty && !boosted) None
      else Some(SideInput(filters, rank.filter(_ => boosted), numBuckets, blockBits))
    val chunkB = math.max(1L,
      maxCollectRows / math.max(1L, kk.toLong * numBuckets)).toInt
    planned.grouped(chunkB).foreach { chunk =>
      val qs = chunk.map { case (_, p) =>
        p.copy(filter = if (docSet.nonEmpty) 0 else globs.indexOf((p.include, p.exclude)))
      }.toArray
      // a cold chunk scores one transient partition per bucket, its terms'
      // rows, without urls: its globs arrive as doc filters
      val hits = hot match {
        case Some(h) => HotServing.run(index, h.rdd, h.occupied, qs, kk, side)
        case None =>
          val parts = HotServing.transient(index, qs.flatMap(_.termIds).toSeq)
          withUrls(index, HotServing.run(index, parts, parts.partitions.indices, qs, kk, side))
      }
      chunk.map(_._1).zip(hits).foreach { case (qi, v) => results(qi) = v }
    }
    queries.indices.map(results)
  }

  /** Driver-side analysis of one query into its batch form; None when its
    * result is empty: no resolved term or a conjunctive query missing a
    * term.
    */
  private def plan(index: BuiltIndex, q: BatchQuery): Option[BatchPlanned] = {
    val a = analyze(index, q.query)
    if (a.terms.isEmpty || (q.conjunctive && !a.allResolved)) None
    else Some(BatchPlanned(a.terms.map(_.term_id).toArray, a.terms.map(_.idf).toArray,
      q.conjunctive, q.include, q.exclude, q.boosted))
  }

  /** `hits` with their urls: ONE pruned lookup of every query's winners. */
  private def withUrls(index: BuiltIndex, hits: Array[Vector[Hit]]): Array[Vector[Hit]] = {
    val spark = index.spark
    import spark.implicits._
    val ids = hits.flatMap(_.map(_.doc_id)).distinct
    if (ids.isEmpty) hits
    else {
      val urls = Par.described(spark, "graft.query.urls") {
        index.docs.where(col("doc_id").isin(ids.toIndexedSeq: _*))
          .select("doc_id", "url").as[(Long, String)].collect().toMap
      }
      hits.map(_.map(h => h.copy(url = urls.getOrElse(h.doc_id, ""))))
    }
  }

  /** Batched line-level serving: [[searchBlocksBatchEx]] for the hit
    * sets, then a union of per-query pruned content scans materializes
    * the line records (each leg reads only its k hit docs, In(doc_id)
    * pushed below the posexplode like the single path). Per-query
    * records equal [[searchWithLines]] exactly.
    *
    * Memory/plan model (round 6): one leg yields at most
    * k x [[MaxMatchesPerDoc]] rows, so a chunk of L legs bounds its
    * driver collect at L x k x MaxMatchesPerDoc rows — legs are CHUNKED
    * so that bound stays under `maxCollectRows` (mirror of
    * [[MaxBatchCollectRows]]; at k=1000 that is 40 legs/job). Chunking
    * also caps the union plan's width: analysis/codegen time stays O(40)
    * per job instead of growing with the whole batch. Queries are
    * independent, so per-query results are unaffected.
    */
  def searchWithLinesBatch(index: BuiltIndex, pagesText: DataFrame,
      queries: Seq[BatchQuery], k: Int,
      rank: Option[DataFrame] = None,
      maxCollectRows: Long = MaxBatchCollectRows): Seq[Vector[LineHit]] = {
    val spark = index.spark
    import spark.implicits._
    val kk = clampK(k)
    val hitsPer = searchBlocksBatchEx(index, queries, kk, rank)
    val out = scala.collection.mutable.Map.empty[Int, Vector[LineHit]]
    val legs = queries.zipWithIndex.flatMap { case (q, qi) =>
      val top = hitsPer(qi)
      val terms = Tokenizer.tokenize(q.query).distinct
      if (top.isEmpty) { out(qi) = Vector.empty; None }
      else if (terms.isEmpty) {
        // short-query fallback hits: a line-0 record per doc, like the
        // reference's filename-match results (engine.rs:2100s)
        out(qi) = top.map(h =>
          LineHit(h.doc_id, h.url, h.score, h.rank, 0, 0, 0, ""))
        None
      } else Some(lineRecords(pagesText, top, terms).withColumn("qi", lit(qi)))
    }
    val legsPerChunk = math.max(1L,
      maxCollectRows / math.max(1L, kk.toLong * MaxMatchesPerDoc)).toInt
    legs.grouped(legsPerChunk).foreach { chunk =>
      val rows = Par.described(spark, "graft.query.lines") {
        chunk.reduce(_ unionByName _)
          .select(col("qi"), col("doc_id"), col("line_number"),
            col("match_start"), col("match_end"), col("snippet"))
          .as[(Int, Long, Int, Int, Int, String)]
          .collect()
      }
      rows.groupBy(_._1).foreach { case (qi, arr) =>
        val hit = hitsPer(qi).map(h => h.doc_id -> h).toMap
        out(qi) = arr.map { r =>
          val h = hit(r._2)
          LineHit(h.doc_id, h.url, h.score, h.rank, r._3, r._4, r._5, r._6)
        }.sortBy(h => (h.rank, h.line_number)).toVector
      }
    }
    queries.indices.foreach(qi =>
      if (!out.contains(qi)) out(qi) = Vector.empty)
    queries.indices.map(qi => out(qi)).toVector
  }
}
