package graft.query

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

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

  /** Candidate doc_ids for partially-bounded literals: each literal maps
    * to the dictionary terms it can live in (exact / prefix / suffix /
    * infix), then one postings pass keeps docs covering ALL literals.
    * The pass joins the term ids onto the encoded blocks before it
    * decodes them: the ids come from a join, so no `In(term_id)` reaches
    * the scan, and decoding first would decode every block.
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
  private def candidatesByLiterals(index: BuiltIndex,
      lits: Seq[Lit]): DataFrame = {
    val reqTerms = lits.zipWithIndex.map { case (l, i) =>
      termIdsForLiteral(index, l).withColumn("req", lit(i))
    }.reduce(_ unionAll _)
    PostingBlocks.decode(index.blockFiles.join(reqTerms, Seq("term_id")),
        index.impactCodec)
      .groupBy("doc_id")
      .agg(countDistinct(col("req")).as("nreq"))
      .where(col("nreq") === lits.size)
      .select("doc_id")
  }

  private def esc(s: String) =
    s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")

  /** Dictionary term_ids a literal can live in (see
    * [[candidatesByLiterals]] for the lookup shapes).
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

  /** Union of per-branch candidate sets (a match satisfies some branch). */
  private def candidatesByBranches(index: BuiltIndex,
      branches: Seq[Seq[Lit]]): DataFrame =
    branches.map(candidatesByLiterals(index, _))
      .reduce(_ unionAll _).distinct()

  /** Candidate count up to which the verify scan materializes the id set
    * on the driver and pushes `In(doc_id)` into the pages scan (parquet
    * row-group pruning — the content table is docId-sorted). 100k ids =
    * ~800 KB driver-side; past it the verify degrades to the join (a
    * candidate set that large is within an order of magnitude of a scan
    * anyway). Late materialization matters here like it did for line
    * serving (PLANS.md 7): without the pushdown every accelerated regex
    * query still paid a FULL content-column scan just to verify a
    * handful of candidates.
    */
  val MaxPushedVerifyDocs = 100000

  /** Verification join: candidates × content. Under
    * [[MaxPushedVerifyDocs]] the doc_ids push into the pages scan as an
    * In-filter; above it a semi-join keeps the plan distributed.
    */
  private def verifyCandidates(cands: DataFrame, pagesText: DataFrame,
      rx: String): DataFrame = {
    val ids = cands.select("doc_id").limit(MaxPushedVerifyDocs + 1)
      .collect().map(_.getLong(0))
    val content =
      if (ids.length <= MaxPushedVerifyDocs)
        pagesText.where(col("doc_id").isin(ids.toIndexedSeq: _*))
          .select("doc_id", "text")
      else pagesText.select("doc_id", "text")
        .join(cands.select("doc_id"), Seq("doc_id"), "left_semi")
    content
      .where(regexp_like(col("text"), lit(rx)))
      .select("doc_id")
  }

  /** Index-accelerated regex search. `pagesText` supplies (doc_id, text)
    * for verification (the index itself stores no raw text — lazy content
    * materialization, like the reference's mmap-on-demand store).
    * Ranking: BM25 over the literal terms when every literal is a
    * complete token; otherwise score 0.0 in doc_id order. Tie-break
    * (score DESC, doc_id ASC), k clamped to 1..1000.
    */
  def search(index: BuiltIndex, pagesText: DataFrame, pattern: String,
      k: Int,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil): Dataset[Hit] = {
    val spark = index.spark
    import spark.implicits._
    val kk = math.max(1, math.min(k, 1000))
    // P5 on the regex path (reference search_regex honors the same path
    // filters, engine.rs:1540-1613): restrict candidates by url BEFORE
    // the top-k, exactly like the BM25 paths
    val urlFilter: DataFrame => DataFrame =
      if (include.isEmpty && exclude.isEmpty) identity
      else df => df.join(
        index.docs.where(PathFilter.predicate(col("url"), include, exclude))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
    val branches = requiredLiteralBranches(pattern)
    // (?i): ASCII case-insensitive like the reference's fold
    // (engine.rs:22-65); (?s): '.' crosses lines. Applied to the ORIGINAL
    // pattern — see scaladoc.
    val rx = "(?is)" + pattern

    val verifiedScored: DataFrame =
      if (branches.size == 1 && branches.head.forall(_.bothBound)) {
        // single branch, all literals complete index terms -> conjunctive
        // BM25 prefilter AND BM25-ranked results. The candidate job runs
        // ONCE: (doc_id, score) pairs collect together, driving BOTH the
        // In(doc_id) verify pushdown and the final score attach (a local
        // relation) — the previous shape collected ids inside
        // verifyCandidates and then re-executed the whole scoring plan
        // for the outer join (one redundant job per accelerated query).
        Bm25Query.scoredNaive(index, branches.head.map(_.text).mkString(" "),
            conjunctive = true) match {
          case None => return spark.emptyDataset[Hit] // literal not in corpus
          case Some(scored) =>
            val pairs = scored.select("doc_id", "score")
              .limit(MaxPushedVerifyDocs + 1)
              .collect().map(r => (r.getLong(0), r.getDouble(1)))
            if (pairs.length <= MaxPushedVerifyDocs) {
              pagesText
                .where(col("doc_id").isin(pairs.map(_._1).toIndexedSeq: _*))
                .where(regexp_like(col("text"), lit(rx)))
                .select("doc_id")
                .join(spark.createDataset(pairs.toIndexedSeq)
                  .toDF("doc_id", "score"), Seq("doc_id"))
            } else {
              // past the pushdown cap: one distributed plan (semi-join
              // verify + score attach) — the candidate set at this size is
              // within an order of magnitude of a scan anyway
              scored.join(
                pagesText.select("doc_id", "text")
                  .join(scored.select("doc_id"), Seq("doc_id"), "left_semi")
                  .where(regexp_like(col("text"), lit(rx)))
                  .select("doc_id"),
                Seq("doc_id"))
                .select(col("doc_id"), col("score"))
            }
        }
      } else if (branches.nonEmpty) {
        // union of per-branch candidate sets -> verify; doc_id-ordered
        // (score 0.0 — mixed-branch literal sets have no shared BM25 frame)
        verifyCandidates(candidatesByBranches(index, branches), pagesText, rx)
          .select(col("doc_id"), lit(0.0).as("score"))
      } else {
        pagesText.select("doc_id", "text")
          .where(regexp_like(col("text"), lit(rx)))
          .select(col("doc_id"), lit(0.0).as("score"))
      }
    val top = urlFilter(verifiedScored)
      .orderBy(col("score").desc, col("doc_id").asc).limit(kk)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    if (top.isEmpty) return spark.emptyDataset[Hit]
    val urls = index.docs.where(col("doc_id").isin(top.map(_._1): _*))
      .select("doc_id", "url").as[(Long, String)].collect().toMap
    spark.createDataset(top.zipWithIndex.map { case ((d, s), i) =>
      Hit(d, urls.getOrElse(d, ""), s, i + 1)
    }.toSeq)
  }

  // ------------------------------------------------------------------
  // Batched regex serving (round 6)
  // ------------------------------------------------------------------

  /** Per-literal driver-side term-id cap for the batch kernel: a literal
    * whose dictionary lookup exceeds this many term_ids sends its query
    * through the single-query path (a set that large degrades toward a
    * scan there too). 100k ids = ~800 KB on the driver.
    */
  val MaxBatchLiteralTermIds = 100000

  /** The ONE shared postings pass of [[searchBatch]] (split out so the
    * plan audit — PLANS.md plan 15 — explains the exact serving plan):
    * pushed In(term_id) over the union of every query's ids, a broadcast
    * (term_id -> qi, bi, req, rk) mapping replayed per query/branch, one
    * aggregation computing BOTH the conjunctive countDistinct(req) merge
    * and (for ranked rows, rk=true) the BM25 score via the SAME
    * canonical ascending-term_id fold as Bm25Query.scoredNaive
    * (sort_array over (term_id, impact) structs, left fold from 0.0;
    * accelerated rows contribute no structs — collect_list drops the
    * null the when() yields) — for a ranked query the per-(qi, doc)
    * group holds exactly the rows the single path's per-doc group holds,
    * so the fold is bit-identical. Output: (qi, doc_id, score), capped
    * per query at [[MaxPushedVerifyDocs]]+1 by a row_number window.
    */
  private[graft] def batchCandidatesDf(index: BuiltIndex,
      mapRows: IndexedSeq[(Long, Int, Int, Int, Boolean)],
      needRows: IndexedSeq[(Int, Int, Int)]): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val allIds = mapRows.map(_._1).distinct
    val mapDf = spark.createDataset(mapRows)
      .toDF("term_id", "qi", "bi", "req", "rk")
    val needDf = spark.createDataset(needRows).toDF("qi", "bi", "need")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qi").orderBy(col("doc_id").asc)
    index.postings
      .where(col("term_id").isin(allIds: _*))
      .join(broadcast(mapDf), Seq("term_id"))
      .groupBy("qi", "bi", "doc_id")
      .agg(countDistinct(col("req")).as("nreq"),
        aggregate(
          sort_array(collect_list(when(col("rk"),
            struct(col("term_id"), col("impact"))))),
          lit(0.0),
          (acc, x) => acc + x.getField("impact")).as("score"))
      .join(broadcast(needDf), Seq("qi", "bi"))
      .where(col("nreq") === col("need"))
      .select("qi", "doc_id", "score").distinct()
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= MaxPushedVerifyDocs + 1)
      .select("qi", "doc_id", "score")
  }

  /** Batched regex serving: B patterns answered with SHARED jobs —
    * regex was the one class still paying its full single-query cost
    * (p50 ~2.6 s), and the reference's load mix is 5% regex
    * (fast_code_search_validator.rs:706-719). Per-query results are
    * BIT-IDENTICAL to [[search]] (RegexBatchSpec).
    *
    * Job sharing, by query class (classes analyzed on the driver):
    *   - RANKED (one branch, all literals complete terms): terms resolve
    *     against the driver-resident dictionary (zero-job in serving
    *     mode), then the class RIDES THE SHARED POSTINGS PASS below
    *     (round 7 — previously one scoredNaive collect job per ranked
    *     pattern): its rows are flagged in the broadcast mapping and the
    *     per-(qi, doc) BM25 score is replayed inside the one aggregation
    *     by the SAME canonical ascending-term_id fold scoredNaive uses,
    *     so scores are bit-identical to the single path. The verify
    *     rides the shared leg union below.
    *   - ACCELERATED (literal branches with open sides): ONE postings
    *     pass answers every query — each literal's dictionary term_ids
    *     collect (capped at [[MaxBatchLiteralTermIds]]), a broadcast
    *     (term_id -> qi, branch, req, rk) mapping replays the per-branch
    *     conjunctive countDistinct merge per query, and the pushed
    *     In(term_id) over the UNION of all queries' ids (both classes)
    *     prunes the one scan. Per-query candidates cap at
    *     [[MaxPushedVerifyDocs]] (row_number window); over-cap queries
    *     fall back.
    *   - VERIFY for both classes: union of per-query PRUNED content
    *     scans (In(doc_id) pushed below the regexp filter, like the
    *     single path / lines batch), CHUNKED so the driver collect stays
    *     under `maxCollectRows`.
    *   - FULL SCAN (no usable literal): ONE content pass evaluates every
    *     scan query's regex per row (array-of-when + explode) — B full
    *     scans become one; per-query top-k taken distributed (window)
    *     before the collect.
    *   - One shared url lookup attaches urls for every query's winners.
    */
  def searchBatch(index: BuiltIndex, pagesText: DataFrame,
      patterns: Seq[String], k: Int,
      maxCollectRows: Long = Bm25Query.MaxBatchCollectRows): Seq[Vector[Hit]] = {
    val spark = index.spark
    import spark.implicits._
    val kk = math.max(1, math.min(k, 1000))
    val out = scala.collection.mutable.Map.empty[Int, Vector[Hit]]
    def rxOf(p: String) = "(?is)" + p

    // ---- driver-side classification ----
    final case class Planned(qi: Int, branches: Seq[Seq[Lit]])
    val ranked = scala.collection.mutable.ArrayBuffer.empty[Planned]
    val accel = scala.collection.mutable.ArrayBuffer.empty[Planned]
    val fullscan = scala.collection.mutable.ArrayBuffer.empty[Int]
    patterns.zipWithIndex.foreach { case (p, qi) =>
      val branches = requiredLiteralBranches(p)
      if (branches.size == 1 && branches.head.forall(_.bothBound))
        ranked += Planned(qi, branches)
      else if (branches.nonEmpty) accel += Planned(qi, branches)
      else fullscan += qi
    }

    // full-scan class launched NOW as a future (consumed further down):
    // it reads only the content table, independent of every other leg
    val fFullscan: scala.concurrent.Future[Array[(Int, Long)]] =
      if (fullscan.isEmpty) scala.concurrent.Future.successful(Array.empty)
      else graft.Par.leg(spark) {
        val tagged = fullscan.map(qi =>
          when(regexp_like(col("text"), lit(rxOf(patterns(qi)))), lit(qi)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qi").orderBy(col("doc_id").asc)
        pagesText.select(col("doc_id"),
            explode(filter(array(tagged.toSeq: _*), x => x.isNotNull)).as("qi"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= kk)
          .select("qi", "doc_id").as[(Int, Long)].collect()
      }

    // ---- ranked class: driver-side term analysis only (round 7 — the
    // round-6 shape paid one scoredNaive collect job PER ranked pattern,
    // the exact per-query driver-job floor the batch exists to
    // amortize; ranked terms now ride the SAME shared postings pass as
    // the accelerated class, with the per-(qi, doc) score replayed by
    // the canonical ascending-term_id fold scoredNaive uses, so scores
    // stay bit-identical to the single path) ----
    val rankedPairs = scala.collection.mutable.Map.empty[Int, Array[(Long, Double)]]
    final case class RankedPlan(qi: Int, terms: Vector[QueryTerm])
    val rankedLive = scala.collection.mutable.ArrayBuffer.empty[RankedPlan]
    ranked.foreach { pl =>
      val a = Bm25Query.analyze(index,
        pl.branches.head.map(_.text).mkString(" "))
      if (a.terms.isEmpty || !a.allResolved)
        out(pl.qi) = Vector.empty // literal not in corpus (single path: None)
      else rankedLive += RankedPlan(pl.qi, a.terms)
    }

    // ---- shared postings pass: accelerated + ranked classes ----
    val accelIds = scala.collection.mutable.Map.empty[Int, Array[Long]]
    if (accel.nonEmpty || rankedLive.nonEmpty) {
      // resolve every literal's term_ids (tiny pruned dictionary jobs;
      // exact literals batch into ONE In(term) scan)
      // round 8: the exact-literal scan and every distinct open literal's
      // dictionary lookup are INDEPENDENT pruned scans — overlap them
      // (guide §2.6); the collected id sets (and thus results) are
      // unchanged. (The old serial loop skipped remaining lookups of an
      // already-over-cap query — a shortcut, not a semantic.)
      val exactTexts = accel.flatMap(_.branches).flatten
        .filter(_.bothBound).map(_.text).distinct
      val fExact = graft.Par.leg[Map[String, Array[Long]]](spark) {
        if (exactTexts.isEmpty) Map.empty
        else index.terms.where(col("term").isin(exactTexts.toSeq: _*))
          .select("term", "term_id").as[(String, Long)].collect()
          .groupBy(_._1).map { case (t, a) => t -> a.map(_._2) }
      }
      val distinctOpen = accel.flatMap(_.branches).flatten
        .filterNot(_.bothBound)
        .map(l => ((l.text, l.leftBound, l.rightBound), l)).toMap
      val fOpen = distinctOpen.map { case (key, l) =>
        key -> graft.Par.leg(spark) {
          termIdsForLiteral(index, l)
            .limit(MaxBatchLiteralTermIds + 1).as[Long].collect()
        }
      }
      val exactIds = graft.Par.join(fExact)
      val openIds = scala.collection.mutable.Map.empty[(String, Boolean, Boolean), Array[Long]]
      val overCap = scala.collection.mutable.Set.empty[Int]
      val openResolved = fOpen.map { case (k, f) =>
        k -> graft.Par.join(f) }
      accel.foreach { pl =>
        pl.branches.flatten.foreach { l =>
          if (!l.bothBound) {
            val key = (l.text, l.leftBound, l.rightBound)
            val ids = openResolved(key)
            if (ids.length > MaxBatchLiteralTermIds) overCap += pl.qi
            else openIds(key) = ids
          }
        }
      }
      def idsOf(l: Lit): Array[Long] =
        if (l.bothBound) exactIds.getOrElse(l.text, Array.empty)
        else openIds.getOrElse((l.text, l.leftBound, l.rightBound), Array.empty)
      overCap.foreach { qi =>
        out(qi) = search(index, pagesText, patterns(qi), kk).collect().toVector
      }
      val live = accel.filterNot(pl => overCap(pl.qi))
      // mapping (term_id, qi, branch, req, rk) for branches where EVERY
      // literal resolved (a branch with an unresolvable literal yields
      // no candidates in the single path — skip it here the same way);
      // rk marks ranked-class rows, whose (term_id, impact) structs feed
      // the score fold below (accelerated rows contribute no structs —
      // collect_list drops the null the when() yields)
      val mapRows = live.flatMap { pl =>
        pl.branches.zipWithIndex.flatMap { case (br, bi) =>
          val perLit = br.map(idsOf)
          if (perLit.exists(_.isEmpty)) Nil
          else perLit.zipWithIndex.flatMap { case (ids, req) =>
            ids.map(id => (id, pl.qi, bi, req, false))
          }
        }
      } ++ rankedLive.flatMap { rp =>
        rp.terms.zipWithIndex.map { case (t, req) =>
          (t.term_id, rp.qi, 0, req, true)
        }
      }
      if (mapRows.nonEmpty) {
        val needRows = live.flatMap { pl =>
          pl.branches.zipWithIndex.map { case (br, bi) => (pl.qi, bi, br.size) }
        } ++ rankedLive.map(rp => (rp.qi, 0, rp.terms.size))
        val rows = batchCandidatesDf(index, mapRows.toIndexedSeq,
          needRows.toIndexedSeq).as[(Int, Long, Double)].collect()
        val byQ = rows.groupBy(_._1)
        live.foreach { pl =>
          val ids = byQ.getOrElse(pl.qi, Array.empty[(Int, Long, Double)]).map(_._2)
          if (ids.length > MaxPushedVerifyDocs)
            out(pl.qi) = search(index, pagesText, patterns(pl.qi), kk)
              .collect().toVector
          else accelIds(pl.qi) = ids.sorted
        }
        rankedLive.foreach { rp =>
          val pairs = byQ.getOrElse(rp.qi, Array.empty[(Int, Long, Double)])
            .map(r => (r._2, r._3))
          if (pairs.length > MaxPushedVerifyDocs)
            out(rp.qi) = search(index, pagesText, patterns(rp.qi), kk)
              .collect().toVector
          else rankedPairs(rp.qi) = pairs
        }
      } else {
        live.foreach(pl => accelIds(pl.qi) = Array.empty)
        rankedLive.foreach(rp => rankedPairs(rp.qi) = Array.empty)
      }
    }

    // ---- verify: chunked union of per-query pruned scans ----
    final case class Leg(qi: Int, ids: Array[Long])
    val legs = (rankedPairs.keysIterator.map(qi =>
        Leg(qi, rankedPairs(qi).map(_._1))) ++
      accelIds.keysIterator.map(qi => Leg(qi, accelIds(qi))))
      .filter(_.ids.nonEmpty).toSeq.sortBy(_.qi)
    rankedPairs.keysIterator.filter(rankedPairs(_).isEmpty)
      .foreach(qi => out(qi) = Vector.empty)
    accelIds.keysIterator.filter(accelIds(_).isEmpty)
      .foreach(qi => out(qi) = Vector.empty)
    val verified = scala.collection.mutable.Map.empty[Int, Array[Long]]
    if (legs.nonEmpty) {
      // chunk by cumulative id budget (the collect upper bound)
      val chunks = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[Leg])
      var budget = 0L
      legs.foreach { leg =>
        if (budget + leg.ids.length > maxCollectRows && chunks.last.nonEmpty) {
          chunks += scala.collection.mutable.ArrayBuffer.empty[Leg]
          budget = 0L
        }
        chunks.last += leg; budget += leg.ids.length
      }
      chunks.foreach { chunk =>
        val rows = chunk.map { leg =>
          pagesText
            .where(col("doc_id").isin(leg.ids.toIndexedSeq: _*))
            .where(regexp_like(col("text"), lit(rxOf(patterns(leg.qi)))))
            .select(lit(leg.qi).as("qi"), col("doc_id"))
        }.reduce(_ unionByName _).as[(Int, Long)].collect()
        rows.groupBy(_._1).foreach { case (qi, arr) =>
          verified(qi) = arr.map(_._2)
        }
      }
    }
    legs.foreach { leg =>
      val ids = verified.getOrElse(leg.qi, Array.empty[Long])
      val hitsSorted: Array[(Long, Double)] = rankedPairs.get(leg.qi) match {
        case Some(pairs) =>
          val scoreOf = pairs.toMap
          ids.map(d => (d, scoreOf(d))).sortBy { case (d, s) => (-s, d) }
        case None => ids.sorted.map(d => (d, 0.0))
      }
      out(leg.qi) = hitsSorted.take(kk).toVector.map { case (d, s) =>
        Hit(d, "", s, 0) // url + rank attached below
      }
    }

    // ---- full-scan class: ONE content pass for every scan query ----
    // awaited here, LAUNCHED before the accel/ranked postings+verify
    // legs (round 8, guide §2.6): the scan shares no data with them, so
    // its content pass back-fills the cluster while the other classes'
    // driver round trips run
    if (fullscan.nonEmpty) {
      val rows = graft.Par.join(fFullscan)
      val byQ = rows.groupBy(_._1)
      fullscan.foreach { qi =>
        out(qi) = byQ.getOrElse(qi, Array.empty[(Int, Long)]).map(_._2).sorted.take(kk)
          .toVector.map(d => Hit(d, "", 0.0, 0))
      }
    }

    // ---- one shared url lookup + final ranks ----
    val needUrls = out.valuesIterator.flatten.map(_.doc_id).toArray.distinct
    val urls =
      if (needUrls.isEmpty) Map.empty[Long, String]
      else index.docs.where(col("doc_id").isin(needUrls.toIndexedSeq: _*))
        .select("doc_id", "url").as[(Long, String)].collect().toMap
    patterns.indices.map { qi =>
      out.getOrElse(qi, Vector.empty).zipWithIndex.map { case (h, i) =>
        Hit(h.doc_id, urls.getOrElse(h.doc_id, h.url), h.score, i + 1)
      }
    }.toVector
  }
}
