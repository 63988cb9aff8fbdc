package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexBuilder
import graft.query.Bm25Query
import graft.symbols.Symbols

class SymbolsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha first line\nbravo second\nzz tiny skipped here\ncharlie last"),
    (2L, "ALPHA uppercased\n\n42abc numeric start"),
    (3L, "alphabet contains alpha\nalpha again"))
    .toDF("doc_id", "text")

  test("extract: first len>2 token per line, 1-based lines, cycled kinds") {
    val got = Symbols.extract(docs)
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == Set(
      (1L, "alpha", "def", 1),
      (1L, "bravo", "ref", 2),
      (1L, "tiny", "use", 3), // 'zz' dropped (len<=2), next token wins
      (1L, "charlie", "def", 4),
      (2L, "alpha", "def", 1), // lowercased
      // line 2 of doc 2 is empty -> no symbol
      (2L, "42abc", "use", 3),
      (3L, "alphabet", "def", 1),
      (3L, "alpha", "ref", 2)))
  }

  test("extractWeb: title/heading/anchor kinds, per-pattern ordinals") {
    val pages = Seq((7L,
      "<html><head><title> My Title </title></head><body>" +
        "<h1>First</h1><h2>Second</h2><p>body text</p>" +
        "<a href=\"x\">Link One</a><a href=\"y\">ab</a>" +
        "<a href=\"z\">Link Two</a></body></html>"))
      .toDF("doc_id", "html")
    val got = Symbols.extractWeb(pages)
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == Set(
      (7L, "my title", "title", 1),   // trimmed + lowercased
      (7L, "first", "heading", 1),
      (7L, "second", "heading", 1),   // ordinal is PER LEVEL (h2's first)
      (7L, "link one", "anchor", 1),
      // 'ab' dropped (len <= 2) but keeps its ordinal slot
      (7L, "link two", "anchor", 3)))
    // search/searchIndexed run unchanged over the web extraction
    val hits = Symbols.search(Symbols.extractWeb(pages), "link", 10)
      .collect()
    assert(hits.length == 1 && hits.head.getLong(0) == 7L)
    assert(hits.head.getDouble(1) == 2.0) // two containment matches
  }

  test("extractWeb: uppercase tags + attributes match; mismatched heading " +
      "pairs and non-anchor <a...> tags do not") {
    val pages = Seq((9L,
      "<HTML><HEAD><TITLE>Shouty Title</TITLE></HEAD><body>" +
        "<h1 class=\"big\">Attributed Heading</h1>" +
        "<h1>crossed</h2>" +              // mismatched pair: must NOT extract
        "<abbr>not a link</abbr>" +       // <abbr> must not match the anchor
        "<A HREF=\"u\">Upper Link</A></body></html>"))
      .toDF("doc_id", "html")
    val got = Symbols.extractWeb(pages)
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == Set(
      (9L, "shouty title", "title", 1),
      (9L, "attributed heading", "heading", 1),
      (9L, "upper link", "anchor", 1)))
  }

  test("search: containment match, exact name doubled, (score,doc_id) order") {
    val sym = Symbols.extract(docs)
    val got = Symbols.search(sym, "Alpha", 10)
      .as[(Long, Double, Long, Int)].collect().toSeq
    // doc 3: exact 'alpha' (2.0) + containment 'alphabet' (1.0) = 3.0
    // doc 1: exact 'alpha' = 2.0; doc 2: exact 'alpha' = 2.0 (tie -> doc_id)
    assert(got == Seq(
      (3L, 3.0, 2L, 1),
      (1L, 2.0, 1L, 1),
      (2L, 2.0, 1L, 1)))
  }

  test("indexed search == scan search; symbols scan carries pushed In(name)") {
    val dir = Files.createTempDirectory("graft-sym-art").toString
    Symbols.build(docs, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Long, Int)].collect().toSeq
    for (q <- Seq("Alpha", "alphabet", "charlie", "zzz-none", "bravo")) {
      val scan = rows(Symbols.search(Symbols.extract(docs), q, 10))
      val indexed = rows(Symbols.searchIndexed(spark, dir, q, 10))
      assert(indexed == scan, s"query '$q'")
      // cap=0 forces the containment fallback — still identical
      val fallback = rows(Symbols.searchIndexed(spark, dir, q, 10,
        maxPushedNames = 0))
      assert(fallback == scan, s"fallback for query '$q'")
    }
    // the In(name) filter must reach the parquet scan of the big table
    val q = "alpha"
    val names = spark.read.parquet(s"$dir/symbol_names")
      .where(org.apache.spark.sql.functions.col("name").contains(q))
      .select("name").collect().map(_.getString(0))
    val plan = spark.read.parquet(s"$dir/symbols")
      .where(org.apache.spark.sql.functions.col("name")
        .isin(names.toIndexedSeq: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(name"),
      s"expected pushed In(name) filter in:\n$plan")
  }

  test("extractCode: definition grammar — kinds, modifiers, anchoring, " +
      "non-definition lines skipped") {
    val code = Seq((11L, Seq(
      "def process_batch(x):",            // function, plain
      "    return table_rows",            // indented non-def: no symbol
      "pub fn hash_join(a, b) {",         // function behind a modifier
      "public static async function doIt() {", // stacked modifiers
      "class TableScan:",                 // class, case lowered
      "  struct RowBlock {",              // indented definition still matches
      "let cursor = 0",                   // variable
      "const DB = 1",                     // name len <= 2 -> dropped
      "x = classify(y)",                  // 'classify' is not kw 'class '+name
      "redefine everything",              // 'redefine' does not anchor as 'def'
      "fndef broken").mkString("\n")))    // neither 'fn' nor 'def' anchored
      .toDF("doc_id", "text")
    val got = Symbols.extractCode(code)
      .as[(Long, String, String, Int, Int, Boolean)].collect().toSet
    assert(got == Set(
      (11L, "process_batch", "function", 1, 0, true),
      (11L, "hash_join", "function", 3, 0, true),
      (11L, "doit", "function", 4, 0, true),
      (11L, "tablescan", "class", 5, 0, true),
      (11L, "rowblock", "struct", 6, 2, true),
      (11L, "cursor", "variable", 7, 0, true)))
    // search over the code extraction: containment + exact-name doubling
    val hits = Symbols.search(Symbols.extractCode(code), "hash_join", 10)
      .collect()
    assert(hits.length == 1 && hits.head.getLong(0) == 11L)
    assert(hits.head.getDouble(1) == 2.0) // exact name weight
    // indexed path identical to scan path over the code extraction
    val dir = Files.createTempDirectory("graft-sym-code").toString
    Symbols.buildFrom(Symbols.extractCode(code), dir)
    val scan = Symbols.search(Symbols.extractCode(code), "table", 10)
      .collect().toSeq
    val indexed = Symbols.searchIndexed(spark, dir, "table", 10)
      .collect().toSeq
    assert(scan == indexed)
  }

  test("extractCode round 6: full kind taxonomy, method arms (Go receiver / " +
      "Ruby singleton / typed declaration), two-line C definitions, column") {
    val code = Seq((21L, Seq(
      "trait RowLike:",                    // trait (own kind now)
      "interface Scanner {",               // interface
      "enum JoinSide {",                   // enum
      "type RowId = long",                 // type alias
      "const MAX_ROWS = 9",                // constant (split from variable)
      "func (s *Shard) lookupRow(k) {",    // Go receiver -> method
      "def self.from_disk(path)",          // Ruby singleton -> method (not fn 'self')
      "  public static int rowCount() {",  // typed declaration -> method, col 2
      "public class Outer(arg) {",         // class wins over the typed-method arm
      "static long",                       // C return type on its own line...
      "scan_rows(int n) {",                // ...two-line def, attributed above
      "int main(int argc) {",              // single-line C definition
      "int decl_only(int x);",             // prototype (';') -> NOT a definition
      "annotated_call(foo) {").mkString("\n")))  // prev 'prototype;' not a type line
      .toDF("doc_id", "text")
    val got = Symbols.extractCode(code)
      .as[(Long, String, String, Int, Int, Boolean)].collect().toSet
    assert(got == Set(
      (21L, "rowlike", "trait", 1, 0, true),
      (21L, "scanner", "interface", 2, 0, true),
      (21L, "joinside", "enum", 3, 0, true),
      (21L, "rowid", "type", 4, 0, true),
      (21L, "max_rows", "constant", 5, 0, true),
      (21L, "lookuprow", "method", 6, 0, true),
      (21L, "from_disk", "method", 7, 0, true),
      (21L, "rowcount", "method", 8, 2, true),
      (21L, "outer", "class", 9, 0, true),
      (21L, "scan_rows", "function", 10, 0, true),
      (21L, "main", "function", 12, 0, true)))
  }

  test("extractCode: an arm guard with no projected column falls back to " +
      "the inline predicate") {
    val code = Seq((31L, Seq(
      "def process_batch(x):",            // keyword line: the guard drops it
      "static long compute_total(int a) {",
      "int other_fn(char *s) {").mkString("\n")))
      .toDF("doc_id", "text")
    val rx = "^(?:[A-Za-z_][A-Za-z0-9_]*\\s+)+\\*?([A-Za-z_][A-Za-z0-9_]*)\\s*\\("
    val mapped = Symbols.CodeArm(rx, "function", notRx = Seq(Symbols.kwAnyRx))
    // the same predicate under a regex string the guard map does not hold
    val unmapped = mapped.copy(notRx = Seq(s"(?:${Symbols.kwAnyRx})"))
    def rows(arm: Symbols.CodeArm): Set[(Long, String, String, Int, Int, Boolean)] =
      Symbols.extractCodeArms(code, Seq(arm))
        .as[(Long, String, String, Int, Int, Boolean)].collect().toSet
    val got = rows(unmapped)
    assert(got == rows(mapped))
    assert(got.map(_._2) == Set("compute_total", "other_fn"))
    assert(rows(mapped.copy(notRx = Nil)).map(_._2).contains("process_batch"))
  }

  test("extractCode round 7: CRLF content extracts exactly like LF (ADVICE r6)") {
    // the $-anchored C arms diverged on CRLF before the \r?\n split:
    // java.util.regex `$` matches before a trailing \r, RE2 does not —
    // lines must simply never carry the \r
    val body = Seq(
      "static long",
      "scan_rows(int n) {",
      "int main(int argc) {",
      "def alpha_fn():")
    val lf = Seq((1L, body.mkString("\n"))).toDF("doc_id", "text")
    val crlf = Seq((1L, body.mkString("\r\n"))).toDF("doc_id", "text")
    val a = Symbols.extractCode(lf)
      .as[(Long, String, String, Int, Int, Boolean)].collect().toSet
    val b = Symbols.extractCode(crlf)
      .as[(Long, String, String, Int, Int, Boolean)].collect().toSet
    assert(a == b)
    assert(a.map(x => (x._2, x._3, x._4)) == Set(
      ("scan_rows", "function", 1), ("main", "function", 3),
      ("alpha_fn", "function", 4)))
  }

  test("extractFileNames: url stem as a synthetic filename symbol at 0:0") {
    val pages = Seq(
      (1L, "https://host.example/a/b/report-2024.html"),
      (2L, "https://host.example/section/guide/"),   // trailing slash -> segment
      (3L, "https://host.example/x/ab.txt")          // stem 'ab' too short -> drop
    ).toDF("doc_id", "url")
    val got = Symbols.extractFileNames(pages)
      .as[(Long, String, String, Int, Int, Boolean)].collect().toSet
    assert(got == Set(
      (1L, "report-2024", "filename", 0, 0, true),
      (2L, "guide", "filename", 0, 0, true)))
  }

  test("the BM25 machinery runs over the name field (symbols-as-index)") {
    val dir = Files.createTempDirectory("graft-sym-idx").toString
    // one 'document' per doc_id whose text is its symbol names — the same
    // IndexBuilder/Bm25Query stack then serves symbols-only queries
    val namePages = Symbols.extract(docs)
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.concat_ws(" ",
        org.apache.spark.sql.functions.collect_list("name")).as("text"))
      .withColumn("url", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("sym-"),
        org.apache.spark.sql.functions.col("doc_id")))
      .select("doc_id", "url", "text")
    val idx = IndexBuilder.build(spark, namePages, dir, blockBits = 4)
    val hits = Bm25Query.searchBlocks(idx, "charlie", 10).collect()
    assert(hits.map(_.doc_id).toSeq == Seq(1L))
    val hits2 = Bm25Query.searchBlocks(idx, "alpha", 10).collect()
    assert(hits2.map(_.doc_id).toSet == Set(1L, 2L, 3L))
  }
}
