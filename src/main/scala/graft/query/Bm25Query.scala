package graft.query

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

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

/** One compressed posting block row as read at query time (top-level so
  * Catalyst's generated deserializer can construct it).
  */
case class BlockRow(term_id: Long, block_id: Long, n: Int,
    docs_enc: Array[Byte], impacts_enc: Array[Byte], block_max: Double)

/** Block row joined with its co-located dense-filter shard (the sorted
  * allowed-doc array of its docId range) — the dense-filter path's merge
  * input (see Bm25Query.scoredBlocksSharded).
  */
case class BlockRowF(term_id: Long, block_id: Long, n: Int,
    docs_enc: Array[Byte], impacts_enc: Array[Byte], block_max: Double,
    allowed: Array[Long])

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
  *     [[searchBlocksBatchEx]], which runs each chunk as ONE Spark job:
  *     on the resident partitions of a hot index ([[HotServing]]) or,
  *     otherwise, as one Dataset job over a pruned blocks scan. Only a
  *     doc filter past the broadcast ceiling takes its own path
  *     ([[scoredBlocksSharded]]).
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
        index.terms
          .where(col("term").isin(qTokens: _*))
          .select("term", "term_id", "df", "idf")
          .as[QueryTerm].collect().toVector
    }
    Analyzed(resolved.sortBy(t => (t.df, t.term_id)), qTokens.size)
  }

  private def hitsDataset(index: BuiltIndex, hits: Seq[Hit]): Dataset[Hit] = {
    val spark = index.spark
    import spark.implicits._
    spark.createDataset(hits)
  }

  /** Attach urls + ranks to a (doc_id, score) top-k result. k is small
    * (clamped 1..1000 like the reference API, web/api.rs:164), so we
    * collect and re-drive a pruned scan of `docs`.
    */
  private def finish(index: BuiltIndex, scored: DataFrame, k: Int): Dataset[Hit] = {
    val spark = index.spark
    import spark.implicits._
    val top = scored
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "score")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    if (top.isEmpty) return hitsDataset(index, Nil)
    val urls = index.docs
      .where(col("doc_id").isin(top.map(_._1): _*))
      .select("doc_id", "url")
      .as[(Long, String)].collect().toMap
    val hits = top.zipWithIndex.map { case ((d, s), i) =>
      Hit(d, urls.getOrElse(d, ""), s, i + 1)
    }
    spark.createDataset(hits.toSeq)
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
    else restrictDf(scored,
      index.docs.where(PathFilter.predicate(col("url"), include, exclude))
        .select("doc_id"))

  /** Same restriction from an arbitrary allowed-doc set (doc_id column). */
  private def restrictDf(scored: DataFrame, allowedDocs: DataFrame): DataFrame =
    scored.join(allowedDocs.select("doc_id"), Seq("doc_id"), "left_semi")

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
    val top = base.orderBy(col("doc_id").asc).limit(k)
      .select("doc_id", "url").as[(Long, String)].collect()
    spark.createDataset(top.zipWithIndex.map { case ((d, u), i) =>
      Hit(d, u, 0.0, i + 1)
    }.toSeq)
  }

  /** Relevance x static-rank boosted search (declarative path) — the
    * reference's dependency boost applied at scoring time
    * (engine.rs:2003-2007): final = bm25 * static_rank, docs absent from
    * `rank(doc_id, static_rank)` default to 1.0. Optional url globs
    * restrict the candidate set BEFORE the top-k (same semantics as the
    * filtered paths) — this is the exact composed filtered+boosted
    * fallback for rank/filter sets too large to broadcast: no collect of
    * either side, both the boost join and the glob semi-join stay
    * distributed.
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
    * The rank set `(doc_id, static_rank)` (distinct doc_ids, values >= 0;
    * docs absent default 1.0 like the declarative path) collects and
    * broadcasts as sorted arrays up to [[MaxBroadcastFilterDocs]] entries
    * (~64 MB at 16 B/entry — the in-degree table is bounded by LINKED-TO
    * docs, far fewer than docs); past the ceiling the query falls back to
    * [[searchBoosted]] (exact, over the decoded postings). Inside
    * the merge every pruning bound scales by max(rank) and each
    * candidate's final score is bm25 x rank(doc) — results equal
    * searchBoosted bit-for-bit (Bm25EngineSpec/DepsSpec).
    */
  def searchBlocksBoosted(index: BuiltIndex, query: String, k: Int,
      rank: DataFrame, conjunctive: Boolean = true): Dataset[Hit] =
    hitsDataset(index, searchBlocksBatchEx(index,
      Seq(BatchQuery(query, conjunctive, boosted = true)), k, Some(rank)).head)

  /** The rank set as sorted (doc_id, static_rank) arrays plus the largest
    * rank (>= 1), or None past `maxDocs` entries. A duplicated doc_id
    * fails loudly, like a negative rank: the merge's binarySearch would
    * pick an arbitrary one of its boost values — silently wrong scores.
    */
  private def collectBoost(rank: DataFrame,
      maxDocs: Long): Option[(Array[Long], Array[Double], Double)] = {
    val spark = rank.sparkSession
    import spark.implicits._
    val lim = math.min(maxDocs + 1, Int.MaxValue.toLong - 1).toInt
    val rows = rank
      .select(col("doc_id").cast("long"), col("static_rank").cast("double"))
      .limit(lim).as[(Long, Double)].collect()
    if (rows.length > maxDocs) return None
    val sorted = rows.sortBy(_._1)
    val ids = sorted.map(_._1)
    val vals = sorted.map(_._2)
    var i = 1
    while (i < ids.length) {
      require(ids(i) != ids(i - 1), s"rank set has a duplicate doc_id ${ids(i)}")
      i += 1
    }
    require(vals.forall(_ >= 0.0), "static_rank must be non-negative")
    Some((ids, vals, if (vals.isEmpty) 1.0 else math.max(1.0, vals.max)))
  }

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

  /** A batch of one through [[searchWithLinesBatch]]. */
  def searchWithLines(index: BuiltIndex, pagesText: DataFrame, query: String,
      k: Int, conjunctive: Boolean = true): Dataset[LineHit] = {
    val spark = index.spark
    import spark.implicits._
    spark.createDataset(searchWithLinesBatch(index, pagesText,
      Seq(BatchQuery(query, conjunctive)), k).head)
  }

  /** Per-match line records for an already-final top-k hit set (the shared
    * tail of the single and batched lines paths).
    *
    * Late materialization MUST hold in the physical plan, not just the
    * scaladoc: the In(doc_id) filter sits BELOW the posexplode so the
    * content scan reads only the k hit docs (pushed to the parquet scan;
    * PLANS.md plan 6). Joining the generator output instead would explode
    * every line of the whole corpus to serve k hits — a full-corpus scan
    * per interactive query at 100x scale.
    */
  private def lineRecords(index: BuiltIndex, pagesText: DataFrame,
      top: Seq[Hit], terms: Seq[String]): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val hitDf = spark.createDataset(top.toIndexedSeq).toDF()
      .select(col("doc_id"), col("url"), col("score"), col("rank"))
    val topIds = top.map(_.doc_id)
    val lines = hitDf
      .join(pagesText
        .where(col("doc_id").isin(topIds: _*))
        .select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("ln0", "line"))), Seq("doc_id"))
    // earliest occurrence of any term in the line (struct orders by
    // position first; ties prefer the shorter term), null = no match
    val lenByPos = terms.map(t => when(instr(lower(col("line")), t) > 0,
      struct(instr(lower(col("line")), t).as("p"), lit(t.length).as("l"))))
    val best = array_min(array(lenByPos: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("ln0").asc)
    lines
      .withColumn("m", best)
      .where(col("m").isNotNull)
      .withColumn("nline", row_number().over(w))
      .where(col("nline") <= MaxMatchesPerDoc)
      .select(
        col("doc_id"), col("url"), col("score"), col("rank"),
        (col("ln0") + 1).cast("int").as("line_number"),
        col("m.p").cast("int").as("match_start"),
        (col("m.p") + col("m.l")).cast("int").as("match_end"),
        substring(col("line"),
          greatest(lit(1), col("m.p") - SnippetWindow),
          lit(2 * SnippetWindow)).as("snippet"))
  }

  // ------------------------------------------------------------------
  // Block path: compressed postings + block-max pruning (production)
  // ------------------------------------------------------------------

  /** Doc-filter pushed into the block merge: a SORTED doc_id set shipped
    * to the merge tasks, `isAllow` selecting allow-list vs deny-list
    * semantics. Docs failing the filter are dropped BEFORE they can enter
    * a per-partition heap or move its threshold — so the filtered top-k
    * stays exact.
    */
  private[graft] case class DocFilter(sorted: Array[Long], isAllow: Boolean)

  /** Test-friendly unfiltered entry (WandMergeSpec drives the kernel
    * directly).
    */
  private[graft] def processPartition(it: Iterator[BlockRow], nTerms: Int,
      k: Int, conjunctive: Boolean): Iterator[(Long, Double)] =
    processPartition(it.map(r => (r, null: Array[Long])), nTerms, k,
      conjunctive, Double.NegativeInfinity, q8 = false)

  /** Merge one partition's block groups. Rows arrive sorted by
    * (block_id, term_id) and PAIRED with their group's doc-filter array
    * (null = unfiltered; identical within a block group — either one
    * broadcast set for the whole query, or the block's co-located filter
    * shard on the dense path). A filtered-out doc never reaches a heap,
    * so heap thresholds are thresholds over the FILTERED doc set (exact).
    */
  private[graft] def processPartition(it: Iterator[(BlockRow, Array[Long])],
      nTerms: Int, k: Int,
      conjunctive: Boolean,
      initThreshold: Double,
      q8: Boolean,
      filterIsAllow: Boolean = true,
      boostIds: Array[Long] = null,
      boostVals: Array[Double] = null,
      maxBoost: Double = 1.0): Iterator[(Long, Double)] = {
    @inline def decodeImp(bytes: Array[Byte], n: Int): Array[Double] =
      if (q8) PostingCodec.decodeImpactsQ8(bytes, n)
      else PostingCodec.decodeImpacts(bytes, n)
    var curFilter: Array[Long] = null
    @inline def allowed(doc: Long): Boolean =
      curFilter == null ||
      (java.util.Arrays.binarySearch(curFilter, doc) >= 0) == filterIsAllow
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
      // checked against the bootstrap threshold (strict: docs below it
      // cannot enter the exact top-k) and the live heap threshold
      var upper = 0.0
      var gi = 0
      while (gi < group.size) { upper += group(gi).block_max; gi += 1 }
      if (upper * maxBoost < initThreshold) { group.clear(); return }
      if (heap.size == k && upper * maxBoost < threshold) { group.clear(); return }
      // decode; rows are term_id-ascending => per-doc sums accumulate in
      // canonical term order (bit-identical to the oracle)
      if (conjunctive) {
        // docId arrays decode eagerly (the intersection needs them);
        // IMPACT arrays decode lazily, only if the intersection actually
        // survives to scoring — on head/stopword-conjunctive queries most
        // groups produce no candidate, and impacts are the bigger payload
        // (8B/posting vs ~1-2B delta-varint docIds)
        val docArrays = new Array[Array[Long]](present)
        val impArrays = new Array[Array[Double]](present)
        gi = 0
        while (gi < present) {
          docArrays(gi) = PostingCodec.decodeDocIds(group(gi).docs_enc, group(gi).n)
          gi += 1
        }
        @inline def imps(ti: Int): Array[Double] = {
          if (impArrays(ti) == null)
            impArrays(ti) = decodeImp(group(ti).impacts_enc, group(ti).n)
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
        // so tie-breaks (and therefore results) stay bit-exact. The
        // threshold also folds in the disjunctive bootstrap lower bound
        // (a doc strictly below it cannot be in the final top-k).
        val docArr = new Array[Array[Long]](present)
        gi = 0
        while (gi < present) {
          docArr(gi) = PostingCodec.decodeDocIds(group(gi).docs_enc, group(gi).n)
          gi += 1
        }
        val impArr = new Array[Array[Double]](present)
        @inline def imps(ti: Int): Array[Double] = {
          if (impArr(ti) == null)
            impArr(ti) = decodeImp(group(ti).impacts_enc, group(ti).n)
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
            val hth = threshold
            val th = if (initThreshold > hth) initThreshold else hth
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
          val (r, f) = it.next()
          if (r.block_id != curBlock) {
            flush(); curBlock = r.block_id; curFilter = f
          }
          group += r
        }
        flush()
        out = heap.dequeueAll.reverseIterator // best-first (cosmetic)
      }
      def hasNext: Boolean = { if (out == null) run(); out.hasNext }
      def next(): (Long, Double) = { if (out == null) run(); out.next() }
    }
  }

  /** Max doc_ids shipped to the merge as a broadcast filter set (sorted
    * longs: 8 bytes/doc, so the default is a ~32 MB broadcast — executor
    * plural-MBs, the standard broadcast-join budget). When BOTH the allow
    * set and its complement exceed this, the query takes the co-located
    * filter shards of [[scoredBlocksSharded]] (or, on the legacy
    * unbucketed layout, the declarative path) — exact, pays a shuffle.
    */
  val MaxBroadcastFilterDocs: Long = 4000000L

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
    * top-k of the allowed subset. The set ships as a broadcast of whichever
    * side is smaller — the allow list or its complement — and the query
    * runs as a batch of one on the Dataset runner (a hot index's partitions
    * resolve only url globs); if both sides exceed `maxBroadcastDocs` the
    * query takes [[scoredBlocksSharded]].
    */
  def searchBlocksFiltered(index: BuiltIndex, query: String, k: Int,
      conjunctive: Boolean, allowedDocs: DataFrame,
      maxBroadcastDocs: Long = MaxBroadcastFilterDocs): Dataset[Hit] = {
    val kk = clampK(k)
    if (isShortQuery(query))
      return allDocsFallback(index, kk, Nil, Nil, allowedDocs)
    resolveDocFilter(index, allowedDocs, maxBroadcastDocs) match {
      case Some(f) =>
        val planned = plan(index, BatchQuery(query, conjunctive), Some(f)).toSeq
        hitsDataset(index, runPlanned(index, None, planned, kk, None).flatten)
      case None => filteredUnbroadcast(index, query, kk, conjunctive, allowedDocs)
    }
  }

  /** Exact filtered top-k for a doc set too large for either broadcast
    * side: co-located filter shards on a bucketed index, the declarative
    * path on the legacy unbucketed layout.
    */
  private def filteredUnbroadcast(index: BuiltIndex, query: String, kk: Int,
      conjunctive: Boolean, allowedDocs: DataFrame): Dataset[Hit] = {
    val allowedIds = allowedDocs.select(col("doc_id").cast("long")).distinct()
    if (index.blocksBucketed) {
      val (scoredOpt, cleanup) =
        scoredBlocksSharded(index, query, kk, conjunctive, allowedIds)
      try scoredOpt.map(finish(index, _, kk)).getOrElse(hitsDataset(index, Nil))
      finally cleanup()
    } else scoredNaive(index, query, conjunctive)
      .map(s => finish(index, restrictDf(s, allowedIds), kk))
      .getOrElse(hitsDataset(index, Nil))
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
    * job per chunk answers every batchable query over ONE pruned blocks
    * scan — the amortization story for the per-query scheduling floor.
    * The reference's validator drives its load test exactly this way — a
    * mixed workload against one hot engine
    * (fast_code_search_validator.rs:692-810). Every single-query block
    * entry point is a batch of one through this planner.
    *
    * Mechanics: all queries analyze on the driver (dictionary); distinct
    * (include, exclude) glob pairs resolve ONCE each against the docs
    * dimension into sorted filter arrays (allow or deny, whichever side
    * fits `maxBroadcastDocs`); the shared rank set collects once
    * ([[collectBoost]]). Each partition buffers its pruned,
    * (block_id, term_id)-sorted rows ONCE per chunk — the buffer holds
    * one bucket's rows for the union of the CHUNK's query terms, the same
    * rows a one-query scan of the busiest term would hold — and replays
    * them through the SAME merge kernel per query (per-query heaps, mode,
    * filter, boost), so a query's hits do not depend on its batch
    * (asserted in BatchServingSpec). Queries whose filter or rank set
    * exceeds both broadcast sides, short queries, and unresolvable
    * conjunctive queries settle individually.
    *
    * On a hot index each chunk runs on the resident partitions instead
    * ([[HotServing]]): url globs resolve inside the job against each
    * bucket's own docs (no filter collects, no broadcast ceiling), urls
    * come back with the survivors, and the chunk is ONE job.
    *
    * Returns one Vector[Hit] per input query, in input order.
    */
  def searchBlocksBatchEx(index: BuiltIndex, queries: Seq[BatchQuery],
      k: Int, rank: Option[DataFrame] = None,
      maxCollectRows: Long = MaxBatchCollectRows,
      maxBroadcastDocs: Long = MaxBroadcastFilterDocs): Seq[Vector[Hit]] = {
    val kk = clampK(k)
    require(!queries.exists(_.boosted) || rank.nonEmpty,
      "batch contains boosted queries but no rank DataFrame was supplied")
    lazy val boost = collectBoost(rank.get, maxBroadcastDocs)
    // distinct url-glob pairs resolve once each; a hot index resolves
    // globs inside its one job instead
    val hot = index.hotPartitions
    val filterOf = mutable.Map.empty[(Seq[String], Seq[String]), Option[DocFilter]]
    val results = mutable.Map.empty[Int, Vector[Hit]]
    val planned = queries.zipWithIndex.flatMap { case (q, qi) =>
      def settle(hits: Dataset[Hit]): Option[(Int, BatchPlanned)] = {
        results(qi) = hits.collect().toVector; None
      }
      val globbed = hot.isEmpty && (q.include.nonEmpty || q.exclude.nonEmpty)
      lazy val allowedDocs = index.docs
        .where(PathFilter.predicate(col("url"), q.include, q.exclude)).select("doc_id")
      lazy val filter = filterOf.getOrElseUpdate((q.include, q.exclude),
        resolveDocFilter(index, allowedDocs, maxBroadcastDocs))
      if (isShortQuery(q.query))
        settle(allDocsFallback(index, kk, q.include, q.exclude))
      else if ((globbed && filter.isEmpty) || (q.boosted && boost.isEmpty)) {
        // a filter or rank set too large to broadcast: compose both
        // declaratively for a boosted query (exact, both joins
        // distributed); an un-boosted one keeps the filter shards
        if (q.boosted) settle(searchBoosted(index, q.query, kk, rank.get,
          q.conjunctive, q.include, q.exclude))
        else settle(filteredUnbroadcast(index, q.query, kk, q.conjunctive, allowedDocs))
      } else plan(index, q, if (globbed) filter else None) match {
        case None => results(qi) = Vector.empty; None
        case Some(p) => Some((qi, p))
      }
    }
    val hits = runPlanned(index, hot, planned.map(_._2),
      kk, if (planned.exists(_._2.boosted)) boost else None, maxCollectRows)
    planned.map(_._1).zip(hits).foreach { case (qi, v) => results(qi) = v }
    queries.indices.map(results)
  }

  /** Driver-side analysis of one query into its batch form, with its
    * resolved doc filter if any; None when its result is empty: no
    * resolved term, a conjunctive query missing a term, or an empty allow
    * set.
    */
  private def plan(index: BuiltIndex, q: BatchQuery,
      filter: Option[DocFilter]): Option[BatchPlanned] =
    if (filter.exists(f => f.isAllow && f.sorted.isEmpty)) None
    else {
      val a = analyze(index, q.query)
      if (a.terms.isEmpty || (q.conjunctive && !a.allResolved)) None
      else Some(BatchPlanned(a.terms.map(_.term_id).toArray, q.conjunctive,
        q.include, q.exclude, q.boosted, filter))
    }

  /** Each planned query's top-k hits, in order: chunks of at most
    * `maxCollectRows / (k x buckets)` queries, each ONE Spark job — on the
    * `hot` partitions if given (its queries carry no resolved filter),
    * otherwise [[runBatchChunk]].
    */
  private def runPlanned(index: BuiltIndex, hot: Option[RDD[HotPartition]],
      planned: Seq[BatchPlanned], kk: Int,
      boost: Option[(Array[Long], Array[Double], Double)],
      maxCollectRows: Long = MaxBatchCollectRows): Seq[Vector[Hit]] = {
    if (planned.isEmpty) return Nil
    val sc = index.spark.sparkContext
    val buckets = index.blocksMeta.map(_._1.toLong)
      .getOrElse(index.spark.sessionState.conf.numShufflePartitions.toLong)
    val chunkB = math.max(1L,
      maxCollectRows / math.max(1L, kk.toLong * buckets)).toInt
    val bcBoost = boost.map(b =>
      (sc.broadcast(b._1), sc.broadcast(b._2), b._3)).orNull
    // the boost is shipped once per call and destroyed once every chunk
    // is collected: a long-running server would otherwise keep a copy of
    // every rank set it served, on the driver and on every executor
    try planned.grouped(chunkB).flatMap { chunk =>
      hot match {
        case Some(h) => HotServing.run(index, h, chunk.toArray, kk, bcBoost)
        case None => runBatchChunk(index, chunk.toArray, kk, bcBoost)
      }
    }.toVector
    finally if (bcBoost != null) { bcBoost._1.destroy(); bcBoost._2.destroy() }
  }

  /** The survivors (chunk position, doc_id, score) of one chunk of
    * batch-planned queries: ONE pruned blocks scan, each bucket's rows
    * buffered once and replayed through the merge kernel per query. Each
    * distinct doc filter is broadcast once per chunk (a [[DocFilter]]
    * compares its array by reference, so queries of one glob pair share
    * it) and recorded in `shipped`, whose owner destroys them once the
    * chunk is collected.
    */
  private[graft] def batchCandidates(index: BuiltIndex, chunk: Array[BatchPlanned],
      kk: Int, bcBoost: HotServing.Boost,
      shipped: mutable.Map[DocFilter, Broadcast[Array[Long]]] = mutable.Map.empty
      ): Dataset[(Int, Long, Double)] = {
    val spark = index.spark
    import spark.implicits._
    val unionIds = chunk.flatMap(_.termIds).distinct.toIndexedSeq
    val qIds = chunk.map(_.termIds)
    val qConj = chunk.map(_.conjunctive)
    val qBoosted = chunk.map(_.boosted)
    val qFilterBc = chunk.map(_.filter.map(f =>
      (shipped.getOrElseUpdate(f, spark.sparkContext.broadcast(f.sorted)),
        f.isAllow)).orNull)
    val q8 = index.impactCodec == "q8"
    val rows = index.blocks
      .where(col("term_id").isin(unionIds: _*))
      .select("term_id", "block_id", "n", "docs_enc", "impacts_enc",
        "block_max")
      .as[BlockRow]
    // All terms' blocks of one docId range must be in one task, then the
    // merge applies partition-local block-max thresholds (conservative =>
    // exact top-k: the global top-k is a subset of the union of local
    // top-k sets). With a bucketed index the scan itself delivers that
    // co-location (one task per block_id bucket — zero Exchange, only a
    // local sort of the pruned rows); a legacy layout pays a per-query
    // repartition shuffle.
    val coLocated =
      if (index.blocksBucketed) rows else rows.repartition(col("block_id"))
    coLocated
      .sortWithinPartitions(col("block_id"), col("term_id"))
      .mapPartitions { it =>
        val part = it.toArray // pruned rows of this bucket, sorted
        (0 until qIds.length).iterator.flatMap { pi =>
          val tset = qIds(pi).toSet
          val fb = qFilterBc(pi)
          val fArr = if (fb == null) null else fb._1.value
          val fAllow = if (fb == null) true else fb._2
          val (bIds, bVals, bMax) =
            if (!qBoosted(pi) || bcBoost == null)
              (null: Array[Long], null: Array[Double], 1.0)
            else (bcBoost._1.value, bcBoost._2.value, bcBoost._3)
          processPartition(
            part.iterator.filter(r => tset.contains(r.term_id))
              .map(r => (r, fArr)),
            qIds(pi).length, kk, qConj(pi), Double.NegativeInfinity, q8,
            fAllow, bIds, bVals, bMax)
            .map { case (d, s) => (pi, d, s) }
        }
      }(org.apache.spark.sql.Encoders.product[(Int, Long, Double)])
  }

  /** Run one chunk of batch-planned queries as ONE Spark job over one
    * pruned blocks scan; returns each query's hits in chunk order.
    * Candidate collect is bounded by buckets x chunk-size x k (see
    * [[MaxBatchCollectRows]]).
    */
  private def runBatchChunk(index: BuiltIndex, chunk: Array[BatchPlanned],
      kk: Int, bcBoost: HotServing.Boost): Array[Vector[Hit]] = {
    val spark = index.spark
    import spark.implicits._
    val shipped = mutable.Map.empty[DocFilter, Broadcast[Array[Long]]]
    val candidates =
      try batchCandidates(index, chunk, kk, bcBoost, shipped).collect()
      finally shipped.values.foreach(_.destroy())
    // per-query top-k with the frozen tie-break, then ONE pruned url
    // lookup for every query's winners together
    val topPer = candidates.groupBy(_._1).map { case (pi, arr) =>
      pi -> arr.map(c => (c._2, c._3))
        .sortBy { case (d, s) => (-s, d) }.take(kk).toVector
    }
    val allIds = topPer.values.flatten.map(_._1).toArray.distinct
    val urls =
      if (allIds.isEmpty) Map.empty[Long, String]
      else index.docs.where(col("doc_id").isin(allIds.toIndexedSeq: _*))
        .select("doc_id", "url").as[(Long, String)].collect().toMap
    chunk.indices.map { pi =>
      topPer.getOrElse(pi, Vector.empty).zipWithIndex.map {
        case ((d, s), i) => Hit(d, urls.getOrElse(d, ""), s, i + 1)
      }
    }.toArray
  }

  /** Resolve an allowed-doc DataFrame into a broadcastable [[DocFilter]]
    * (allow side, else deny side, else None) — shared by the single
    * filtered path and the batch planner. None with an EMPTY allow set is
    * encoded as Some(empty allow filter).
    */
  private def resolveDocFilter(index: BuiltIndex, allowedDocs: DataFrame,
      maxBroadcastDocs: Long): Option[DocFilter] = {
    val spark = index.spark
    import spark.implicits._
    val lim = math.min(maxBroadcastDocs + 1, Int.MaxValue.toLong - 1).toInt
    val allowedIds = allowedDocs.select(col("doc_id").cast("long")).distinct()
    val sample = allowedIds.limit(lim).as[Long].collect()
    if (sample.length <= maxBroadcastDocs) {
      java.util.Arrays.sort(sample)
      Some(DocFilter(sample, isAllow = true))
    } else {
      val comp = index.docs.select(col("doc_id"))
        .join(allowedIds, Seq("doc_id"), "left_anti")
        .limit(lim).as[Long].collect()
      if (comp.length <= maxBroadcastDocs) {
        java.util.Arrays.sort(comp)
        Some(DocFilter(comp, isAllow = false))
      } else None
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
      } else Some(lineRecords(index, pagesText, top, terms)
        .withColumn("qi", lit(qi)))
    }
    val legsPerChunk = math.max(1L,
      maxCollectRows / math.max(1L, kk.toLong * MaxMatchesPerDoc)).toInt
    legs.grouped(legsPerChunk).foreach { chunk =>
      val rows = chunk.reduce(_ unionByName _)
        .select(col("qi"), col("doc_id"), col("url"), col("score"),
          col("rank"), col("line_number"), col("match_start"),
          col("match_end"), col("snippet"))
        .as[(Int, Long, String, Double, Int, Int, Int, Int, String)]
        .collect()
      rows.groupBy(_._1).foreach { case (qi, arr) =>
        out(qi) = arr.map(r =>
          LineHit(r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9))
          .sortBy(h => (h.rank, h.line_number)).toVector
      }
    }
    queries.indices.foreach(qi =>
      if (!out.contains(qi)) out(qi) = Vector.empty)
    queries.indices.map(qi => out(qi)).toVector
  }

  /** Dense-filter block scoring (VERDICT r3 #5 — removes the
    * [[MaxBroadcastFilterDocs]] ceiling): the allow set is written as
    * per-block_id SORTED-ARRAY shards bucketed EXACTLY like the blocks
    * table (same bucket count, same key), then a bucketed sort-merge join
    * co-locates each block's shard with its posting rows — zero Exchange
    * on the blocks side; the merge applies the shard before any doc can
    * enter a heap, so the filtered top-k stays exact.
    *
    * Costs one shuffle OF THE ALLOW SET (its groupBy into shards) — the
    * floor for any exact dense filter — plus a temp bucketed table per
    * query (dropped by the returned cleanup). The join is HINTED to
    * sort-merge: a broadcast plan here would void the blocks scan's
    * distribution requirement, letting Spark file-split a bucket and
    * tear a (term_id, block_id) group across tasks — the documented
    * silent-wrong-results hazard (BuiltIndex.blocks). Blocks of ranges
    * with NO allowed docs drop out in the inner join before decode.
    */
  private[graft] def scoredBlocksSharded(index: BuiltIndex, query: String, k: Int,
      conjunctive: Boolean,
      allowedIds: DataFrame): (Option[DataFrame], () => Unit) = {
    val spark = index.spark
    import spark.implicits._
    val a = analyze(index, query)
    if (a.terms.isEmpty || (conjunctive && !a.allResolved))
      return (None, () => ())
    val kk = clampK(k)
    val qids = a.terms.map(_.term_id)
    val nTerms = a.terms.size
    val (numBuckets, bits) = index.blocksMeta.get

    val tmp = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(tmp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val tbl = s"graft_shards_$h"
    allowedIds.select(col("doc_id").cast("long"))
      .withColumn("block_id", shiftright(col("doc_id"), bits))
      .groupBy("block_id")
      .agg(sort_array(collect_list(col("doc_id"))).as("allowed"))
      .write.format("parquet")
      .bucketBy(numBuckets, "block_id").sortBy("block_id")
      .option("path", tmp)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(tbl)
    val cleanup: () => Unit = () => {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }

    val q8 = index.impactCodec == "q8"
    val candidates = index.blocks
      .where(col("term_id").isin(qids: _*))
      .select("term_id", "block_id", "n", "docs_enc", "impacts_enc", "block_max")
      .join(spark.table(tbl).hint("merge"), Seq("block_id"))
      .sortWithinPartitions(col("block_id"), col("term_id"))
      .select(col("term_id"), col("block_id"), col("n"), col("docs_enc"),
        col("impacts_enc"), col("block_max"), col("allowed"))
      .as[BlockRowF]
      .mapPartitions { it =>
        processPartition(
          it.map(r => (BlockRow(r.term_id, r.block_id, r.n, r.docs_enc,
            r.impacts_enc, r.block_max), r.allowed)),
          nTerms, kk, conjunctive, Double.NegativeInfinity, q8)
      }(org.apache.spark.sql.Encoders.product[(Long, Double)])
      .toDF("doc_id", "score")
    (Some(candidates), cleanup)
  }
}
