package graft.query

import java.util.regex.{Pattern, PatternSyntaxException}

import scala.collection.mutable
import scala.concurrent.Future

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.Par
import graft.index.{BuiltIndex, PostingBlocks}
import graft.tokenize.Tokenizer

/** Regex search with index acceleration — the Spark re-expression of the
  * reference's regex path (/root/reference/src/search/engine.rs:1540-1613
  * + literal extraction from the regex HIR in
  * src/search/regex_search.rs:30-117): derive REQUIRED literals from the
  * pattern, pre-filter candidates through the index, verify candidates
  * with the real regex; no usable literal -> full scan (the reference's
  * `no_literal` fallback, README.md:499).
  *
  * One semantic shift, documented: the reference's trigram index is
  * substring-sound, our index is WORD-level. A literal run in the pattern
  * therefore yields one of two sound prefilter forms per side:
  *   - a side bounded by guaranteed non-alphanumeric context (a literal
  *     non-alnum char, `\s`, `^`/`$`) pins the token edge;
  *   - an UNBOUNDED side (pattern start/end, `.`, `\w`, quantifiers, and
  *     the charset-unsafe zero-width/class escapes `\b \B \W \D`) means
  *     the match can begin or end MID-token, so the doc's token may extend
  *     on that side -> the literal becomes a dictionary prefix/suffix/infix
  *     LIKE lookup instead of an exact term.
  * Both forms never exclude a true match (the regex verify decides).
  * Matching is case-insensitive via `(?i)` on the ORIGINAL pattern —
  * lowercasing the pattern text would corrupt metacharacters (\W -> \w,
  * \B -> \b, \P{..} -> \p{..}).
  */
object RegexQuery {

  /** A required literal with per-side boundary knowledge. */
  case class Lit(text: String, leftBound: Boolean, rightBound: Boolean) {
    def bothBound: Boolean = leftBound && rightBound
  }

  private def utf8Len(s: String): Int = s.getBytes("UTF-8").length

  /** Driver-side pattern analysis: required literals (lowercased to match
    * the index; byte-length > 2 like the tokenizer), conservative —
    * returns Nil whenever soundness is in doubt (top-level alternation,
    * classes, groups).
    */
  def requiredLiterals(pattern: String): Seq[Lit] = {
    if (pattern.exists(c => c == '|' || c == '[' || c == '(')) {
      // alternation/classes/groups are handled by the branch expansion
      // ([[requiredLiteralBranches]]); the single-branch walk stays
      // conservative
      return Nil
    }
    literalsOfBranch(pattern)
  }

  /** The single-branch literal walk ([[requiredLiterals]] doc): assumes no
    * '(' '[' '|' remain (the expansion replaces classes with '.').
    */
  private def literalsOfBranch(pattern: String): Seq[Lit] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Lit]
    val n = pattern.length
    var i = 0
    // pattern start is NOT a token boundary: an unanchored regex can match
    // mid-token ('data\s+join' matches inside 'bigdata join')
    var leftB = false
    val cur = new StringBuilder

    // split the accumulated literal run on the indexer's own character
    // class; interior tokens have literal separators on both sides,
    // first/last inherit the run's outer boundary knowledge
    def flush(rightB: Boolean): Unit = {
      if (cur.nonEmpty) {
        val s = cur.toString
        val runs = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        var start = -1
        while (j < s.length) {
          val cp = s.codePointAt(j)
          val w = Character.charCount(cp)
          if (Tokenizer.isAlnumCodePoint(cp)) { if (start < 0) start = j }
          else if (start >= 0) { runs += s.substring(start, j); start = -1 }
          j += w
        }
        val endsAlnum = start >= 0
        if (endsAlnum) runs += s.substring(start)
        val startsAlnum = s.nonEmpty &&
          Tokenizer.isAlnumCodePoint(s.codePointAt(0))
        runs.zipWithIndex.foreach { case (t, j2) =>
          if (utf8Len(t) > 2) {
            val lb = j2 > 0 || !startsAlnum || leftB
            val rb = j2 < runs.length - 1 || !endsAlnum || rightB
            out += Lit(t.toLowerCase(java.util.Locale.ROOT), lb, rb)
          }
        }
        cur.clear()
      }
    }
    def deleteLastCodePoint(): Unit =
      if (cur.nonEmpty) {
        val last = cur.length - 1
        if (last > 0 && Character.isLowSurrogate(cur.charAt(last)) &&
            Character.isHighSurrogate(cur.charAt(last - 1)))
          cur.delete(last - 1, last + 1)
        else cur.deleteCharAt(last)
      }

    while (i < n) {
      val c = pattern(i)
      if (c == '\\' && i + 1 < n) {
        val e = pattern(i + 1)
        if (e == 's') {
          // \s is a guaranteed separator in every charset
          flush(true); leftB = true
        } else if (!Character.isLetterOrDigit(e)) {
          // escaped punctuation: a literal non-alnum char
          flush(true); leftB = true
        } else {
          // \w \d (extend words), \b \B \W \D (ASCII semantics are unsound
          // against the Unicode tokenizer), \n \t ... -> unknown boundary
          flush(false); leftB = false
        }
        i += 2
      } else if (c == '?' || c == '*' || c == '{') {
        // zero-allowed quantifier: the previous unit may be absent -> its
        // contribution and the boundary after it are unknown
        if (cur.nonEmpty) { deleteLastCodePoint(); flush(false) }
        else if (out.nonEmpty) {
          // the quantified unit is the SEPARATOR that just flushed (e.g.
          // 'data\s*join'): \s* can match empty, so the right boundary it
          // granted the preceding literal is void — 'datajoin' is a true
          // match and must survive the prefilter. (Conservative when an
          // earlier separator in the run was unquantified, or the brace
          // min is >= 1 — a weaker prefilter, never an unsound one.)
          val last = out.length - 1
          out(last) = out(last).copy(rightBound = false)
        }
        leftB = false
        if (c == '{') { while (i < n && pattern(i) != '}') i += 1 }
        i += 1
      } else if (c == '+') {
        if (cur.nonEmpty) {
          // one-or-more on an alnum char: char required, but the word may
          // extend (spark+ matches sparkk) -> right boundary unknown
          flush(false); leftB = false
        }
        // '+' on a separator (e.g. \s+): still a guaranteed separator —
        // leftB keeps whatever the separator established
        i += 1
      } else if (c == '.') {
        flush(false); leftB = false
        i += 1
      } else if (c == '^' || c == '$') {
        flush(true); leftB = true
        i += 1
      } else if (Tokenizer.isAlnumCodePoint(pattern.codePointAt(i))) {
        val w = Character.charCount(pattern.codePointAt(i))
        cur.append(pattern.substring(i, i + w))
        i += w
      } else {
        // literal non-alnum char: a guaranteed separator
        flush(true); leftB = true
        i += 1
      }
    }
    // pattern end is NOT a boundary (can match mid-token) unless anchored
    flush(false)
    out.toSeq.distinct
  }

  /** Expansion ceiling: alternation cross-products beyond this many
    * branches fall back to no-prefilter (a 100-branch union of dictionary
    * lookups would cost more than it prunes).
    */
  val MaxBranches = 64

  /** Structural expansion of groups/alternations into literal-analyzable
    * branch strings — the word-level analog of the reference's HIR walk
    * over compiled alternations (/root/reference/src/search/regex_search
    * .rs:30-117, `Look/Alternation` arms): a match of the pattern is a
    * match of SOME branch, so the union of per-branch candidate sets is a
    * sound prefilter.
    *
    * Rewrites (all language-superset, never claiming content they can't):
    *   - `(a|b)` splices into one branch per alternative (cross-product
    *     across concatenation, capped at [[MaxBranches]]);
    *   - `(X)?` / `(X)*` / `(X){0,n}` -> `.*` (content optional: nothing
    *     required, boundary unknown);
    *   - `(X)+` / `(X){m,..}` (m>=1) -> `X.*` (the FIRST occurrence is
    *     required; later repeats hide behind the unknown tail);
    *   - `[...]` -> `.` (one char, unknown class — sound: the analyzer
    *     treats '.' as boundary-unknown filler);
    *   - `\p{..}`/`\P{..}` -> `.`;
    *   - simple atoms and their quantifiers pass through verbatim (the
    *     single-branch walk already models them).
    *
    * None = construct outside the model (inline flags `(?i..)`,
    * lookaround, unbalanced syntax, branch blow-up) -> caller uses no
    * prefilter (full scan, always sound).
    */
  def expandAlternations(pattern: String,
      maxBranches: Int = MaxBranches): Option[Seq[String]] = {
    val n = pattern.length
    var i = 0
    var failed = false
    def fail(): Seq[String] = { failed = true; Nil }

    // returns the branch strings of one alternation (up to ')' or end)
    def parseAlternation(): Seq[String] = {
      var branches = parseConcat()
      while (!failed && i < n && pattern(i) == '|') {
        i += 1
        branches = branches ++ parseConcat()
        if (branches.length > maxBranches) return fail()
      }
      branches
    }

    def parseConcat(): Seq[String] = {
      var acc: Seq[String] = Seq("")
      while (!failed && i < n && pattern(i) != '|' && pattern(i) != ')') {
        val unit = parseUnit()
        if (failed) return Nil
        acc = for (a <- acc; u <- unit) yield a + u
        if (acc.length > maxBranches) return fail()
      }
      acc
    }

    // one atom with its (optional) quantifier, as branch-string fragments
    def parseUnit(): Seq[String] = {
      val c = pattern(i)
      var group: Seq[String] = null // non-null => group atom
      var atom: String = null       // non-null => simple atom, verbatim
      if (c == '(') {
        i += 1
        if (i < n && pattern(i) == '?') {
          // only the non-capturing group marker is in the model; inline
          // flags / lookaround / named groups are not
          if (i + 1 < n && pattern(i + 1) == ':') i += 2 else return fail()
        }
        group = parseAlternation()
        if (failed) return Nil
        if (i >= n || pattern(i) != ')') return fail()
        i += 1
      } else if (c == '[') {
        // skip the class body ("[^]..." / leading ']' literals / escapes)
        i += 1
        if (i < n && pattern(i) == '^') i += 1
        if (i < n && pattern(i) == ']') i += 1
        while (i < n && pattern(i) != ']') {
          if (pattern(i) == '\\') i += 1
          i += 1
        }
        if (i >= n) return fail()
        i += 1
        atom = "."
      } else if (c == '\\') {
        if (i + 1 >= n) return fail()
        val e = pattern(i + 1)
        if (e == 'p' || e == 'P') {
          // \p{..}: one property-class char -> unknown single char
          i += 2
          if (i < n && pattern(i) == '{') {
            while (i < n && pattern(i) != '}') i += 1
            if (i >= n) return fail()
            i += 1
          }
          atom = "."
        } else {
          atom = pattern.substring(i, i + 2)
          i += 2
        }
      } else if (c == ')') {
        return fail() // unbalanced
      } else {
        val w = Character.charCount(pattern.codePointAt(i))
        atom = pattern.substring(i, i + w)
        i += w
      }

      // quantifier
      var quant: String = ""
      var zeroAllowed = false
      var repeats = false
      if (i < n) pattern(i) match {
        case '?' | '*' =>
          quant = pattern(i).toString; zeroAllowed = true
          repeats = pattern(i) == '*'
          i += 1
        case '+' =>
          quant = "+"; repeats = true
          i += 1
        case '{' =>
          val j = pattern.indexOf('}', i)
          if (j < 0) return fail()
          quant = pattern.substring(i, j + 1)
          val body = pattern.substring(i + 1, j)
          val minStr = body.takeWhile(_.isDigit)
          if (minStr.isEmpty && !body.startsWith(",")) return fail()
          zeroAllowed = minStr.isEmpty || minStr.toLong == 0
          repeats = true
          i = j + 1
        case _ =>
      }
      if (i < n && pattern(i) == '?' && quant.nonEmpty) i += 1 // lazy marker

      if (group == null) Seq(atom + quant)
      else if (zeroAllowed) Seq(".*")
      else if (repeats) group.map(_ + ".*")
      else group
    }

    val out = parseAlternation()
    if (failed || i != n) None else Some(out)
  }

  /** Per-branch required literals: Nil = no usable prefilter (full scan);
    * otherwise every returned branch has a non-empty literal set and a
    * document can match the pattern only if it satisfies SOME branch's
    * conjunction. Single-branch patterns take the plain walk.
    */
  def requiredLiteralBranches(pattern: String): Seq[Seq[Lit]] = {
    if (!pattern.exists(c => c == '|' || c == '[' || c == '(')) {
      val l = literalsOfBranch(pattern)
      return if (l.isEmpty) Nil else Seq(l)
    }
    expandAlternations(pattern) match {
      case None => Nil
      case Some(branches) =>
        val lits = branches.map(literalsOfBranch)
        // one unconstrained branch voids the union prefilter entirely
        if (lits.isEmpty || lits.exists(_.isEmpty)) Nil else lits
    }
  }

  /** Exact complete tokens only (both sides bounded) — the strongest
    * prefilter class; kept as the BM25-rankable case.
    */
  def requiredTokens(pattern: String): Seq[String] =
    requiredLiterals(pattern).filter(_.bothBound).map(_.text).distinct

  /** Smallest string strictly greater than every string with prefix `p`
    * (in the UTF-8 binary order Spark compares strings with): `p` with its
    * last code point incremented, skipping the surrogate gap; max code
    * points drop off the end. None when no finite bound exists. UTF-8
    * byte order equals code-point order, so for any t with prefix p:
    * p <= t < bound.
    */
  private[graft] def prefixUpperBound(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        val next = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
        return Some(new String(cps, 0, i) + new String(Character.toChars(next)))
      }
      i -= 1
    }
    None
  }

  private def esc(s: String) =
    s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")

  /** Dictionary term_ids a literal can live in (exact / prefix / suffix /
    * infix).
    *
    * Lookup shapes (the dictionary files are SORTED, so range predicates
    * prune parquet row groups — a bare LIKE pushes nothing and pays a
    * full dictionary scan per query, the round-3 'weak' finding):
    *   - prefix `foo%`:  term >= 'foo' AND term < 'fop' (+ LIKE for
    *     exactness — the range alone IS the prefix set, the conjunct is
    *     belt-and-braces at zero cost);
    *   - suffix `%foo`:  a range on the REVERSED-term dimension
    *     (terms_rev, sorted by term_rev): term_rev >= 'oof' AND < 'oog';
    *   - infix `%foo%`:  pushed In(gram) probes over the sorted
    *     character-trigram dimension (terms_ngrams) -> candidate ids ->
    *     exact containment verify on just those rows (round 5; the
    *     reference's trigram trick, trigram.rs:130-162, applied to the
    *     dictionary). Literals under 3 CHARS keep the containment scan.
    */
  private[graft] def termIdsForLiteral(index: BuiltIndex, l: Lit): DataFrame =
    (l.leftBound, l.rightBound) match {
      case (true, true) =>
        index.terms.where(col("term") === l.text).select("term_id")
      case (true, false) =>
        val range = prefixUpperBound(l.text) match {
          case Some(ub) => col("term") >= l.text && col("term") < ub
          case None => col("term") >= l.text
        }
        index.terms.where(range && col("term").like(esc(l.text) + "%"))
          .select("term_id")
      case (false, true) =>
        val rev = new StringBuilder(l.text).reverse.toString
        val range = prefixUpperBound(rev) match {
          case Some(ub) => col("term_rev") >= rev && col("term_rev") < ub
          case None => col("term_rev") >= rev
        }
        index.termsRev.where(range && col("term_rev").like(esc(rev) + "%"))
          .select("term_id")
      case (false, false) =>
        val grams = trigrams(l.text)
        if (grams.nonEmpty) {
          // infix via the character-trigram dimension (round 5): terms
          // containing ALL trigrams of the literal (pushed In(gram)
          // probes over the sorted ngram files — the reference's trigram
          // trick on the dictionary, trigram.rs:130-162), then an exact
          // containment verify on just those candidate rows (trigram
          // containment is necessary, not sufficient: order can differ)
          val cand = index.termsNgrams
            .where(col("gram").isin(grams: _*))
            .groupBy("term_id")
            .agg(countDistinct(col("gram")).as("ng"))
            .where(col("ng") === grams.size)
            .select("term_id")
          index.terms.join(cand, Seq("term_id"), "left_semi")
            .where(col("term").like("%" + esc(l.text) + "%"))
            .select("term_id")
        } else
          // literal shorter than a trigram in CHARS (can happen for
          // multi-byte scripts: byte length > 2, char length < 3) — the
          // honest containment scan remains
          index.terms.where(col("term").like("%" + esc(l.text) + "%"))
            .select("term_id")
    }

  /** Distinct character trigrams of a literal (char semantics — matches
    * the SQL `substring` the ngram artifact is built with).
    */
  private[graft] def trigrams(s: String): Seq[String] =
    if (s.length < 3) Nil
    else (0 to s.length - 3).map(i => s.substring(i, i + 3)).distinct

  /** Candidate count up to which the verify scan materializes a query's
    * id set on the driver and pushes `In(doc_id)` into the pages scan
    * (parquet row-group pruning — the content table is docId-sorted).
    * 100k ids = ~800 KB driver-side; past it the query is verified by a
    * distributed join (a candidate set that large is within an order of
    * magnitude of a scan anyway). Late materialization matters here like
    * it did for line serving (PLANS.md 7): without the pushdown every
    * accelerated regex query still paid a FULL content-column scan just
    * to verify a handful of candidates.
    */
  val MaxPushedVerifyDocs = 100000

  /** One regex query of a [[run]]: its pattern and url globs. */
  private[graft] case class Query(pattern: String,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil) {
    def filtered: Boolean = include.nonEmpty || exclude.nonEmpty
  }

  /** Index-accelerated regex search: a batch of one through [[run]].
    * `pagesText` supplies (doc_id, text) for verification (the index
    * itself stores no raw text — lazy content materialization, like the
    * reference's mmap-on-demand store). Ranking: BM25 over the literal
    * terms when every literal is a complete token; otherwise score 0.0
    * in doc_id order. Tie-break (score DESC, doc_id ASC), k clamped to
    * 1..1000. `include`/`exclude` url globs restrict the candidates
    * BEFORE the top-k, like the BM25 paths (the reference's search_regex
    * honors the same path filters, engine.rs:1540-1613).
    */
  def search(index: BuiltIndex, pagesText: DataFrame, pattern: String,
      k: Int,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil): Dataset[Hit] =
    Bm25Query.hitsDataset(index, run(index, pagesText, Seq(Query(pattern, include, exclude)), k).head)

  /** Batched regex serving: B patterns through [[run]], sharing its
    * jobs (the reference's load mix is 5% regex,
    * fast_code_search_validator.rs:706-719). [[search]] is the same
    * runner with a batch of one, so each query's hits are those of
    * [[search]] on its own.
    */
  def searchBatch(index: BuiltIndex, pagesText: DataFrame,
      patterns: Seq[String], k: Int,
      maxCollectRows: Long = Bm25Query.MaxBatchCollectRows): Seq[Vector[Hit]] =
    run(index, pagesText, patterns.map(Query(_)), k, maxCollectRows)

  /** The one regex runner: candidates, verification and top-k of every
    * query, planned per query class on the driver.
    *
    *   - RANKED (one branch, every literal a complete token) and
    *     ACCELERATED (literal branches with an open side) queries share
    *     ONE candidate pass ([[candidates]]). The candidate ids, capped
    *     per query, collect once; each query's ids push into the pages
    *     scan as `In(doc_id)` below its regex, and the per-query scans
    *     run as one union, chunked so each collect stays under
    *     `maxCollectRows` ids. The top-k is taken on the driver. A query
    *     with more than [[MaxPushedVerifyDocs]] candidates joins its
    *     candidates with the pages instead, top-k taken distributed.
    *   - FULL SCAN (no usable literal): ONE content pass evaluates every
    *     scan query's regex per row (array-of-when + explode); each
    *     partition keeps its k smallest doc ids per query. It shares no
    *     data with the candidate pass, so the two run as concurrent legs.
    *   - Url globs restrict each query's candidates, or its full-scan
    *     rows, before the top-k; one url lookup attaches the winners'
    *     urls.
    *
    * Patterns compile on the driver first: a bad one throws
    * IllegalArgumentException before any job starts. Every leg is
    * awaited before the runner returns or rethrows.
    */
  private[graft] def run(index: BuiltIndex, pagesText: DataFrame,
      queries: Seq[Query], k: Int,
      maxCollectRows: Long = Bm25Query.MaxBatchCollectRows): Seq[Vector[Hit]] = {
    val spark = index.spark
    import spark.implicits._
    val kk = math.max(1, math.min(k, 1000))
    val rx = queries.zipWithIndex.map { case (q, qi) =>
      compiled(q.pattern, if (queries.size > 1) Some(qi) else None)
    }
    val (scan, indexed) = queries.indices
      .partition(qi => requiredLiteralBranches(queries(qi).pattern).isEmpty)
    def leg(qis: Seq[Int])(f: => Map[Int, Seq[(Long, Double)]]) =
      if (qis.isEmpty) Future.successful(Map.empty[Int, Seq[(Long, Double)]])
      else Par.leg(spark)(f)
    val top = Par.await(Seq(
      leg(scan)(fullScan(index, pagesText, queries, rx, scan, kk)),
      leg(indexed)(indexedTop(index, pagesText, queries, rx, kk, maxCollectRows))
    )).reduce(_ ++ _)
    val ids = top.valuesIterator.flatten.map(_._1).toArray.distinct
    val urls =
      if (ids.isEmpty) Map.empty[Long, String]
      else index.docs.where(col("doc_id").isin(ids.toIndexedSeq: _*))
        .select("doc_id", "url").as[(Long, String)].collect().toMap
    queries.indices.map { qi =>
      top.getOrElse(qi, Nil).toVector.zipWithIndex.map { case ((d, s), i) =>
        Hit(d, urls.getOrElse(d, ""), s, i + 1)
      }
    }
  }

  /** `(?is)` + pattern, compiled once on the driver so that a bad pattern
    * fails before any job. (?i): ASCII case-insensitive like the
    * reference's fold (engine.rs:22-65); (?s): '.' crosses lines. Applied
    * to the ORIGINAL pattern — see the object doc.
    */
  private def compiled(pattern: String, qi: Option[Int]): String = {
    val rx = "(?is)" + pattern
    try Pattern.compile(rx) catch {
      case e: PatternSyntaxException =>
        throw new IllegalArgumentException(s"invalid regex pattern '$pattern'" +
          qi.fold("")(i => s" (batch query $i)") + s": ${e.getDescription}", e)
    }
    rx
  }

  /** Top-k of the full-scan queries `qis`: one content pass for all. */
  private def fullScan(index: BuiltIndex, pagesText: DataFrame,
      queries: Seq[Query], rx: Seq[String], qis: Seq[Int],
      kk: Int): Map[Int, Seq[(Long, Double)]] = {
    val spark = index.spark
    import spark.implicits._
    val tags = qis.map(qi => when(regexp_like(col("text"), lit(rx(qi))), lit(qi)))
    val hits = pagesText.select(col("doc_id"),
      explode(filter(array(tags: _*), _.isNotNull)).as("qi"))
    urlFiltered(index, hits, queries).select("qi", "doc_id").as[(Int, Long)]
      .mapPartitions(smallestPerQuery(kk)).collect()
      .groupBy(_._1).map { case (qi, rows) =>
        qi -> rows.map(_._2).sorted.take(kk).toSeq.map(d => (d, 0.0))
      }
  }

  /** The `k` smallest doc ids of each query among one partition's rows. */
  private def smallestPerQuery(k: Int)(rows: Iterator[(Int, Long)]): Iterator[(Int, Long)] = {
    val heaps = mutable.HashMap.empty[Int, mutable.PriorityQueue[Long]]
    rows.foreach { case (qi, d) =>
      val h = heaps.getOrElseUpdate(qi, mutable.PriorityQueue.empty[Long])
      if (h.size < k) h += d
      else if (d < h.head) { h.dequeue(); h += d }
    }
    heaps.iterator.flatMap { case (qi, h) => h.iterator.map(qi -> _) }
  }

  /** Top-k of the ranked and accelerated queries: the candidate pass,
    * then the verify legs.
    */
  private def indexedTop(index: BuiltIndex, pagesText: DataFrame,
      queries: Seq[Query], rx: Seq[String], kk: Int,
      maxCollectRows: Long): Map[Int, Seq[(Long, Double)]] = {
    val spark = index.spark
    import spark.implicits._
    val cands = candidates(index, queries).getOrElse(return Map.empty)
    // each partition returns at most MaxPushedVerifyDocs + 1 rows of a
    // query, so the collect holds no more than that per query and
    // partition, and a query past the cap is seen to be past it
    val byQ = cands.as[(Int, Long, Double)]
      .mapPartitions(firstPerQuery(MaxPushedVerifyDocs + 1)).collect()
      .groupBy(_._1).map { case (qi, rows) => qi -> rows.map(r => (r._2, r._3)) }
    val (overCap, pushed) = byQ.partition(_._2.length > MaxPushedVerifyDocs)

    // pushed verify: chunk the legs by cumulative id count (the collect
    // upper bound)
    val chunks = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Int])
    var budget = 0L
    pushed.keys.toSeq.sorted.foreach { qi =>
      val n = pushed(qi).length
      if (budget + n > maxCollectRows && chunks.last.nonEmpty) {
        chunks += mutable.ArrayBuffer.empty[Int]
        budget = 0L
      }
      chunks.last += qi; budget += n
    }
    val verified = chunks.filter(_.nonEmpty).flatMap { chunk =>
      chunk.map { qi =>
        pagesText
          .where(col("doc_id").isin(pushed(qi).map(_._1).toIndexedSeq: _*))
          .where(regexp_like(col("text"), lit(rx(qi))))
          .select(lit(qi).as("qi"), col("doc_id"))
      }.reduce(_ unionByName _).as[(Int, Long)].collect()
    }.groupBy(_._1)
    val pushedTop = pushed.map { case (qi, pairs) =>
      val scoreOf = pairs.toMap
      qi -> verified.getOrElse(qi, Nil).map { case (_, d) => (d, scoreOf(d)) }
        .sortBy { case (d, s) => (-s, d) }.take(kk).toSeq
    }
    // past the cap: one distributed plan per query
    pushedTop ++ overCap.keys.map { qi =>
      qi -> cands.where(col("qi") === qi)
        .join(pagesText.select("doc_id", "text"), Seq("doc_id"))
        .where(regexp_like(col("text"), lit(rx(qi))))
        .orderBy(col("score").desc, col("doc_id").asc).limit(kk)
        .select("doc_id", "score").as[(Long, Double)].collect().toSeq
    }
  }

  /** At most `cap` of each query's rows from one partition. */
  private def firstPerQuery(cap: Int)(
      rows: Iterator[(Int, Long, Double)]): Iterator[(Int, Long, Double)] = {
    val seen = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    rows.filter { r => seen(r._1) += 1; seen(r._1) <= cap }
  }

  /** The one candidate pass of [[run]] over its ranked and accelerated
    * queries (split out for the plan audit, PLANS.md plan 15); None when
    * no query has a term to look up.
    *
    * Every query contributes tagged dictionary rows (term_id, qi, bi,
    * req, need, rk, idf): per branch bi, literal req's term ids from
    * [[termIdsForLiteral]] (need = the branch's literal count, idf null:
    * these rows decode no impact); a ranked query, its terms and their
    * idfs as resolved by `Bm25Query.analyze` (zero jobs on a cached
    * dictionary) as a local relation with rk set — a term missing from
    * the corpus leaves the query without candidates. The tagged
    * rows join the encoded blocks before the decode, so only their blocks
    * decode, and no term id is collected on the driver. One repartition
    * by doc_id serves everything above it, as every key above contains
    * doc_id (a (qi, doc_id) key would not: on a batch of one qi folds to
    * a constant, and Spark plans two more shuffles). ONE aggregation
    * keyed (qi, bi, need, doc_id) computes both the conjunctive
    * count(distinct req) merge and, for ranked rows, the BM25 score by
    * the canonical ascending-term_id fold of `Bm25Query.scoredNaive`
    * (sort_array over (term_id, impact) structs, left fold from 0.0;
    * accelerated rows add no structs — collect_list drops the null the
    * when() yields), so a ranked score is bit-identical to it. Output:
    * (qi, doc_id, score) once per query and doc, restricted by the
    * query's url globs.
    */
  private[graft] def candidates(index: BuiltIndex,
      queries: Seq[Query]): Option[DataFrame] = {
    val spark = index.spark
    import spark.implicits._
    val ranked = mutable.ArrayBuffer.empty[(Long, Int, Int, Int, Int, Boolean, Double)]
    val lookups = mutable.ArrayBuffer.empty[DataFrame]
    queries.zipWithIndex.foreach { case (q, qi) =>
      val branches = requiredLiteralBranches(q.pattern)
      if (branches.size == 1 && branches.head.forall(_.bothBound)) {
        val a = Bm25Query.analyze(index, branches.head.map(_.text).mkString(" "))
        if (a.terms.nonEmpty && a.allResolved)
          a.terms.zipWithIndex.foreach { case (t, req) =>
            ranked += ((t.term_id, qi, 0, req, a.terms.size, true, t.idf))
          }
      } else for ((br, bi) <- branches.zipWithIndex; (l, req) <- br.zipWithIndex)
        lookups += termIdsForLiteral(index, l).select(col("term_id"),
          lit(qi).as("qi"), lit(bi).as("bi"), lit(req).as("req"),
          lit(br.size).as("need"), lit(false).as("rk"), lit(null).cast("double").as("idf"))
    }
    val local =
      if (ranked.isEmpty) None
      else Some(ranked.toSeq.toDF("term_id", "qi", "bi", "req", "need", "rk", "idf"))
    // without ranked rows nothing reads the impacts, so none decode
    val score =
      if (ranked.isEmpty) lit(0.0)
      else aggregate(
        sort_array(collect_list(when(col("rk"), struct(col("term_id"), col("impact"))))),
        lit(0.0),
        (acc, x) => acc + x.getField("impact"))
    (lookups ++ local).reduceOption(_ unionByName _).map { tagged =>
      val perBranch = PostingBlocks.decode(
          index.blockFiles.join(tagged, Seq("term_id")), index.stats.avgdl)
        .repartition(col("doc_id"))
        .groupBy("qi", "bi", "need", "doc_id")
        .agg(countDistinct(col("req")).as("nreq"), score.as("score"))
        .where(col("nreq") === col("need"))
        .select("qi", "doc_id", "score")
      urlFiltered(index, perBranch, queries).dropDuplicates("qi", "doc_id")
    }
  }

  /** Rows (qi, doc_id, ...) whose doc url passes their query's include/
    * exclude globs — a doc missing from `docs` passes none; rows of a
    * query without globs pass as they are.
    */
  private def urlFiltered(index: BuiltIndex, rows: DataFrame,
      queries: Seq[Query]): DataFrame = {
    val globbed = queries.indices.filter(queries(_).filtered)
    if (globbed.isEmpty) rows
    else {
      def pass(qi: Int) =
        PathFilter.predicate(col("url"), queries(qi).include, queries(qi).exclude)
      val ok = globbed.tail.foldLeft(when(col("qi") === globbed.head, pass(globbed.head))) {
        (c, qi) => c.when(col("qi") === qi, pass(qi))
      }.otherwise(lit(true))
      rows.join(index.docs.select("doc_id", "url"), Seq("doc_id"), "left")
        .where(ok).select(rows.columns.map(col).toSeq: _*)
    }
  }
}
