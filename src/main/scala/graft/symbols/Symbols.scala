package graft.symbols

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Symbols-only search mode — the Spark re-expression of the reference's
  * symbol subsystem: extraction (/root/reference/src/symbols/extractor.rs:
  * 8-123, tree-sitter there) and `search_symbols`
  * (src/search/engine.rs:1628-1824), 15% of the validator's load-test
  * workload (src/bin/fast_code_search_validator.rs:744-768).
  *
  * The extraction stand-in for web text: one symbol per line — the line's
  * first token (length > 2, lowercased), kind cycled from the line number
  * (the reference's kinds come from tree-sitter node types; the STRUCTURE
  * — an exploded `symbols(doc_id, name, kind, line)` table feeding a
  * name-field search — is the operator being grafted, and a real extractor
  * drops in as another `extract`). Search semantics mirror the reference:
  * case-insensitive containment on the name, exact name == query doubled
  * (engine.rs:1795-1800), top-k by (score DESC, doc_id ASC).
  */
object Symbols {

  /** `pages(doc_id, text) -> symbols(doc_id, name, kind, line)` (line is
    * 1-based). Pure Catalyst — split/filter/posexplode stay in codegen.
    */
  def extract(pages: DataFrame): DataFrame =
    pages
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("ln0", "line")))
      .select(col("doc_id"),
        (col("ln0") + 1).cast("int").as("line"),
        get(filter(split(lower(col("line")), "[^a-z0-9]+"),
          t => length(t) > lit(2)), lit(0)).as("name"))
      .where(col("name").isNotNull)
      .select(col("doc_id"), col("name"),
        when(col("line") % 3 === 1, "def")
          .when(col("line") % 3 === 2, "ref")
          .otherwise("use").as("kind"),
        col("line"))

  /** Web-structural symbol extraction (round 4) — title / heading /
    * anchor-text elements of an html column, the web-corpus analog of the
    * reference's tree-sitter node kinds (extractor.rs:8-30: function /
    * class / variable kinds from grammar nodes; here the "grammar" is the
    * html element structure). Pure Catalyst `regexp_extract_all` —
    * codegen'd, no UDF. `line` is the 1-based ordinal of the element
    * within its kind (the line-number analog of a structural match).
    * The line-based [[extract]] remains the stand-in for corpora with no
    * markup; this is the real extraction path for web pages.
    */
  def extractWeb(pages: DataFrame): DataFrame = {
    // ONE pass over the html (round 6; the round-5 shape ran 8
    // regexp_extract_all scans — title + six heading levels + anchor —
    // and the gate cost showed it): a combined pattern captures the open
    // tag and its inner text, and the BACKREFERENCE `</\1\s*>` enforces
    // the same-level close tag, so mismatched pairs like <h1>x</h2>
    // still do not extract. `(?i)` keeps backreference matching
    // case-insensitive (<h1>x</H1> pairs, as the per-level patterns
    // did). The attribute form `(?:\s[^>]*)?` requires whitespace before
    // attributes, so <abbr>/<address> never match the anchor
    // alternative. Inner text is [^<]* — matches can never overlap or
    // nest, so the combined scan finds EXACTLY the union of the old
    // per-pattern scans' matches, in document order.
    //
    // `line` is the 1-based ordinal of the element within its TAG (per
    // heading level, like the old per-pattern ordinals): a window over
    // (doc_id, tag) on the global match ordinal, computed BEFORE the
    // short-name filter (filtered-out names consumed an ordinal in the
    // old shape too). The heavy regex runs once over the full html;
    // tag/name re-parse on the small per-match strings.
    val rx = "(?i)<(title|h[1-6]|a)(?:\\s[^>]*)?>([^<]*)</\\1\\s*>"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "tag").orderBy(col("ord0").asc)
    graft.Par.spread(pages)
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("html"), lit(rx), lit(0)))
          .as(Seq("ord0", "m")))
      .select(col("doc_id"), col("ord0"),
        lower(regexp_extract(col("m"), "(?i)^<([a-z0-9]+)", 1)).as("tag"),
        lower(trim(regexp_extract(col("m"), rx, 2))).as("name"))
      .withColumn("line", row_number().over(w).cast("int"))
      .where(length(col("name")) > 2)
      .select(col("doc_id"), col("name"),
        when(col("tag") === "title", "title")
          .when(col("tag") === "a", "anchor")
          .otherwise("heading").as("kind"),
        col("line"))
  }

  /** Optional modifier keywords a definition line may carry before the
    * defining keyword — the cross-language union (Rust pub, Java
    * public/static/final/abstract, TS export/async, Scala override).
    */
  private val CodeModifiers =
    "(?:(?:pub|public|private|protected|static|async|export|final|abstract|override)\\s+)*"

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"

  /** Any keyword-family definition line (used as a negative guard by the
    * keyword-less arms — RE2 has no lookahead, so exclusion is an explicit
    * second predicate both engines evaluate identically).
    */
  private val KwAnyRx =
    s"^\\s*$CodeModifiers(?:function|func|fn|def|interface|object|struct|trait|class|enum|type|const|val|var|let)\\b"

  /** One extraction arm of the definition grammar: regex (group 1 = the
    * name), emitted kind, whether the symbol is attributed to the
    * PREVIOUS line (the C return-type-on-its-own-line shape), and extra
    * guard regexes the line must NOT match (arm disambiguation).
    */
  private[graft] final case class CodeArm(rx: String, kind: String,
      onPrevLine: Boolean = false, notRx: Seq[String] = Nil)

  /** The line-grammar arms, the re-expression of the reference's
    * tree-sitter node kinds (extractor.rs:101-470): keyword families for
    * Rust/Python/JS/TS/Scala-style definitions, Go receiver methods
    * (`method_declaration`), Ruby singleton methods (`singleton_method`),
    * Java/C#-style typed method declarations, and C-style function
    * definitions (keyword-less `name(args...` lines, including the
    * two-line form whose return type sits alone on the preceding line —
    * there the symbol is attributed to the type line, column 0, exactly
    * where tree-sitter starts the `function_definition` node).
    */
  private val SingletonRx = s"^\\s*${CodeModifiers}def\\s+self\\.($Ident)"
  private val GoMethodRx =
    s"^\\s*func\\s*\\(\\s*$Ident\\s+\\*?$Ident\\s*\\)\\s+($Ident)"
  private val TypedMethodRx =
    "^\\s*(?:(?:public|private|protected|static|final|abstract|async|override)\\s+)+" +
      s"$Ident(?:<[^>]*>)?(?:\\[\\])?\\s+($Ident)\\s*\\("
  private val CFnRx = s"^(?:$Ident\\s+)+\\*?($Ident)\\s*\\([^;]*$$"
  private val CNameRx = s"^($Ident)\\s*\\([^;]*$$"
  /** A bare return-type line: words only, optional trailing `*`. */
  private val CTypeLineRx = s"^$Ident(?:\\s+$Ident)*\\s*\\*?\\s*$$"

  private def kwArm(kind: String, keywords: String) =
    CodeArm(s"^\\s*$CodeModifiers(?:$keywords)\\s+($Ident)", kind)

  private[graft] val CodeArms = Seq(
    // longest alternative first so e.g. `function` is never consumed as
    // `func` + non-space (both engines handle it, but explicit is clearer)
    kwArm("function", "function|func|fn|def").copy(notRx = Seq(SingletonRx)),
    CodeArm(SingletonRx, "method"),
    CodeArm(GoMethodRx, "method"),
    CodeArm(TypedMethodRx, "method", notRx = Seq(KwAnyRx)),
    kwArm("class", "class|object"),
    kwArm("struct", "struct"),
    kwArm("trait", "trait"),
    kwArm("interface", "interface"),
    kwArm("enum", "enum"),
    kwArm("type", "type"),
    kwArm("constant", "const"),
    kwArm("variable", "val|var|let"),
    CodeArm(CFnRx, "function", notRx = Seq(KwAnyRx, TypedMethodRx)),
    CodeArm(CNameRx, "function", onPrevLine = true, notRx = Seq(KwAnyRx)))

  /** The prev-line predicates of the two-line C arm, shared with the
    * DuckDB oracle generator (SparkEntry) so both engines compile the
    * SAME strings.
    */
  private[graft] def cTypeLineRx: String = CTypeLineRx
  private[graft] def kwAnyRx: String = KwAnyRx
  private[graft] val FileNameRx = "([^/]+?)(?:\\.[A-Za-z0-9]+)?/?$"

  /** Code-definition symbol extraction (round 5; record shape + taxonomy
    * + multi-line grammar in round 6) — the grammar-based upgrade of the
    * line-based [[extract]] stand-in for corpora that carry source code.
    * Emits the FULL reference `Symbol` record (extractor.rs:23-30):
    * `(doc_id, name, kind, line, column, is_definition)` with the ten
    * content kinds (function / method / class / struct / trait /
    * interface / enum / type / constant / variable; [[extractFileNames]]
    * adds the synthetic eleventh). `line` is 1-based (graft-wide line
    * convention; the reference's tree-sitter rows are 0-based — a
    * documented fixed offset). `column` is the 0-based offset of the
    * definition's first non-space character on its line (tree-sitter's
    * node start column — modifiers are part of the node). `is_definition`
    * is always true: like the reference, extraction only emits
    * definitions (every extractor.rs arm sets it true).
    *
    * Multi-line coverage: the C return-type-on-its-own-line shape
    * (`static long\nmy_fn(args) {`) is matched via a doc-local `lag`
    * window (one narrow per-doc sort, no extra scan) and attributed to
    * the type line at column 0, where tree-sitter starts the
    * `function_definition` node. Decorated/annotated definitions need no
    * special casing — the definition line itself still anchors.
    *
    * ONE pass over the exploded lines (round-6 web-symbols lesson): every
    * arm is evaluated into an array-of-structs and exploded once, instead
    * of one scan per arm. Pure Catalyst — codegen'd, no UDF; patterns
    * stay inside the RE2 ∩ java.util.regex subset (no lookahead — arm
    * disambiguation is explicit NOT-matches) so the DuckDB oracle replays
    * them verbatim. Names lowercase like every extractor here (search
    * semantics are case-insensitive, engine.rs:1795-1800).
    */
  def extractCode(pages: DataFrame): DataFrame = extractCodeArms(pages, CodeArms)

  /** [[extractCode]] over an explicit arm list (the grammar seam tests use). */
  private[graft] def extractCodeArms(pages: DataFrame,
      codeArms: Seq[CodeArm]): DataFrame = {
    val ln = (col("ln0") + 1).cast("int")
    // shared guard predicates, evaluated ONCE per line (round 8): the
    // KwAnyRx / TypedMethodRx / SingletonRx regexes each gate several
    // arms — as inline guards they ran up to 3x per line and bloated the
    // codegen tree; as projected columns each runs exactly once. A guard
    // regex outside this map falls back to the inline predicate.
    val guardCol: Map[String, Column] = Map(
      KwAnyRx -> col("_g_kw"), TypedMethodRx -> col("_g_tm"),
      SingletonRx -> col("_g_sg"))
    def armStruct(a: CodeArm): Column = {
      val name = lower(regexp_extract(col("ltxt"), a.rx, 1))
      val guards = a.notRx.map(r => !guardCol.getOrElse(r, col("ltxt").rlike(r)))
        .foldLeft(lit(true))(_ && _)
      if (!a.onPrevLine)
        struct(name.as("name"), lit(a.kind).as("kind"), ln.as("line"),
          col("_ind").as("column"), (name =!= "" && guards).as("ok"))
      else {
        // two-line C definition: the name line matches CNameRx, the
        // PREVIOUS line is a bare type line (and itself no keyword
        // definition) — symbol attributed to the type line, column 0
        struct(name.as("name"), lit(a.kind).as("kind"),
          (ln - 1).as("line"), lit(0).cast("int").as("column"),
          (name =!= "" && guards && col("_g_prev")).as("ok"))
      }
    }
    val arms = codeArms.map(armStruct)
    // split on \r?\n, NOT \n (ADVICE r6): several arms are $-anchored,
    // and java.util.regex `$` (no MULTILINE) matches BEFORE a final \r
    // while RE2/DuckDB `$` does not — lines split on bare \n keep the
    // \r on CRLF content and the two engines diverge on every C-style
    // arm. Splitting both engines on \r?\n (the oracle twin mirrors
    // this) removes the terminator from the matched text entirely.
    //
    // prev line via ARRAY SHIFT, not a lag window (round 8): the lag
    // forced an Exchange + per-doc sort of every exploded line; zipping
    // each line with its predecessor inside the array domain keeps the
    // whole extraction one narrow codegen stage from the scan — the
    // PLAN went from scan -> Exchange(doc_id) -> Sort -> Window ->
    // generate to scan -> generate, zero shuffles.
    val lines = split(col("text"), "\r?\n")
    val withPrev = zip_with(
      lines,
      concat(array(lit(null).cast("string")),
        slice(lines, lit(1), greatest(size(lines) - 1, lit(0)))),
      (l, p) => struct(l.as("ltxt"), p.as("prev")))
    graft.Par.spread(pages)
      .select(col("doc_id"), posexplode(withPrev).as(Seq("ln0", "lp")))
      .select(col("doc_id"), col("ln0"),
        col("lp.ltxt").as("ltxt"), col("lp.prev").as("prev"))
      .withColumn("_ind",
        (length(col("ltxt")) - length(ltrim(col("ltxt")))).cast("int"))
      .withColumn("_g_kw", col("ltxt").rlike(KwAnyRx))
      .withColumn("_g_tm", col("ltxt").rlike(TypedMethodRx))
      .withColumn("_g_sg", col("ltxt").rlike(SingletonRx))
      .withColumn("_g_prev",
        coalesce(col("prev").rlike(CTypeLineRx), lit(false)) &&
          coalesce(!col("prev").rlike(KwAnyRx), lit(false)))
      .select(col("doc_id"),
        explode(filter(array(arms: _*),
          s => s.getField("ok") && length(s.getField("name")) > 2)).as("s"))
      .select(col("doc_id"), col("s.name").as("name"),
        col("s.kind").as("kind"), col("s.line").as("line"),
        col("s.column").as("column"), lit(true).as("is_definition"))
  }

  /** Synthetic per-document FileName symbol — the reference pushes the
    * file's stem as a `SymbolType::FileName` symbol at line 0 / column 0
    * (engine.rs:501-509) so path-shaped queries get symbol scoring; web
    * analog: the stem of the url's last path segment. Like the
    * reference, these are for path-based search plumbing — symbol SEARCH
    * filters them out (engine.rs:1868), so they ship as their own
    * extractor rather than inside [[extractCode]].
    */
  def extractFileNames(pages: DataFrame): DataFrame =
    pages
      .select(col("doc_id"),
        lower(regexp_extract(col("url"), FileNameRx, 1)).as("name"),
        lit("filename").as("kind"), lit(0).cast("int").as("line"),
        lit(0).cast("int").as("column"), lit(true).as("is_definition"))
      .where(length(col("name")) > 2)

  /** Symbols-only top-k: docs scored by their matching symbols
    * (containment, exact-name weight x2), with the first matching line
    * exposed (the reference returns the symbol's line per match).
    */
  def search(symbols: DataFrame, query: String, k: Int): DataFrame =
    score(symbols.where(col("name").contains(normalize(query))),
      normalize(query), k)

  @inline private def normalize(query: String): String =
    query.trim.toLowerCase(Locale.ROOT)

  private def score(matched: DataFrame, q: String, k: Int): DataFrame = {
    val kk = math.max(1, math.min(k, 1000))
    matched
      .withColumn("w",
        when(col("name") === q, lit(2.0)).otherwise(lit(1.0)))
      .groupBy("doc_id")
      .agg(sum("w").as("score"),
        count(lit(1)).cast("long").as("n_matches"),
        min("line").as("first_line"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(kk)
  }

  /** Persist symbols as an INDEX ARTIFACT (the reference prefilters symbol
    * search through its index before touching the symbol cache,
    * engine.rs:1628-1824 — a per-query full scan of the exploded symbols
    * table is the anti-pattern this replaces):
    *
    *   {dir}/symbols       (doc_id, name, kind, line), files sorted by
    *                       name -> row-group min/max stats serve pushed
    *                       name predicates
    *   {dir}/symbol_names  distinct (name, n) dimension, sorted — the
    *                       trigram-dictionary analog; ~|vocabulary| rows,
    *                       orders of magnitude smaller than the symbols
    *                       fact table
    */
  def build(pages: DataFrame, dir: String): Unit =
    buildFrom(extract(pages), dir)

  /** Persist an already-extracted symbols table (any extractor — line
    * stand-in or [[extractWeb]]) under the artifact contract above.
    */
  def buildFrom(symbols: DataFrame, dir: String): Unit = {
    // round 8: extract ONCE into a materialization barrier, then write
    // the fact table and the names dimension CONCURRENTLY from it
    // (guide §2.6) — the old shape ran extraction for the symbols write,
    // then re-read the written parquet to derive the dimension, strictly
    // serially.
    val syms = symbols.localCheckpoint()
    graft.Par.all(syms.sparkSession)(
      () => syms
        .sortWithinPartitions("name")
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$dir/symbols"),
      () => syms
        .groupBy("name").agg(count(lit(1)).as("n"))
        .sortWithinPartitions("name")
        .write.mode("overwrite").parquet(s"$dir/symbol_names"))
    ()
  }

  /** Names a containment query may resolve to before the pushed-In plan
    * stops paying (In-list evaluation + task-binary size); past this the
    * query falls back to the containment scan it replaces.
    */
  val MaxPushedNames = 10000

  /** Symbols search against a persisted artifact. The containment
    * predicate runs over the small names DIMENSION first; the big symbols
    * table is then read with a pushed `In(name)` filter (sorted files ->
    * row-group pruning), never containment-scanned — unless the name set
    * exceeds `maxPushedNames` (stopword-ish query), where the full scan is
    * the honest plan anyway. Results are identical to [[search]] by
    * construction: isin(all names containing q) ≡ contains(q).
    */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      query: String, k: Int,
      maxPushedNames: Int = MaxPushedNames): DataFrame = {
    val q = normalize(query)
    val symbols = spark.read.parquet(s"$dir/symbols")
    val names = spark.read.parquet(s"$dir/symbol_names")
      .where(col("name").contains(q))
      .select("name").limit(maxPushedNames + 1)
      .collect().map(_.getString(0))
    val matched =
      if (names.length <= maxPushedNames)
        symbols.where(col("name").isin(names.toIndexedSeq: _*))
      else symbols.where(col("name").contains(q))
    score(matched, q, k)
  }
}
