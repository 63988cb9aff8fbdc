package graft

import java.nio.file.Files

import org.apache.spark.sql.functions
import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexBuilder
import graft.query.Bm25Query

class LineHitsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val (index, pages) = {
    val manyLines = (1 to 150).map(i => s"line $i has needleterm inside")
      .mkString("\n")
    val docs = Seq(
      (1L, "url-1", "plain filler text\nhere CAPITAL Needleterm appears\nlast line"),
      (2L, "url-2", manyLines),
      (3L, "url-3", "no match in this doc at all padding padding"),
      (4L, "url-4", "prefix " + ("x" * 300) + " needleterm " + ("y" * 300)))
      .toDF("doc_id", "url", "text")
    val dir = Files.createTempDirectory("graft-lines-idx").toString
    (IndexBuilder.build(spark, docs, dir, blockBits = 4), docs)
  }

  test("line records: 1-based line/position, case-insensitive, term span") {
    val got = Bm25Query.searchWithLines(index, pages, "needleterm", 10)
      .collect().filter(_.doc_id == 1L)
    assert(got.length == 1)
    val h = got.head
    assert(h.line_number == 2)
    val line = "here CAPITAL Needleterm appears"
    assert(h.match_start == line.toLowerCase.indexOf("needleterm") + 1)
    assert(h.match_end == h.match_start + "needleterm".length)
    assert(h.snippet == line) // short line: window covers it fully
  }

  test("per-doc match cap at 100 lines (reference OOM guard)") {
    val got = Bm25Query.searchWithLines(index, pages, "needleterm", 10)
      .collect().filter(_.doc_id == 2L)
    assert(got.length == 100)
    assert(got.map(_.line_number).sorted.toSeq == (1 to 100))
  }

  test("snippet windows +/-200 chars around the match position") {
    val got = Bm25Query.searchWithLines(index, pages, "needleterm", 10)
      .collect().filter(_.doc_id == 4L)
    assert(got.length == 1)
    val h = got.head
    assert(h.snippet.length == 400)
    assert(h.snippet.contains("needleterm"))
    // window starts 200 chars before the match
    assert(h.match_start - 200 >= 1)
    assert(h.snippet.startsWith("x"))
  }

  test("no line rows for docs without a term occurrence; ranks preserved") {
    val all = Bm25Query.searchWithLines(index, pages, "needleterm", 10).collect()
    assert(!all.exists(_.doc_id == 3L))
    val ranks = all.map(h => (h.doc_id, h.rank)).toSet
    val hits = Bm25Query.searchBlocks(index, "needleterm", 10).collect()
      .map(h => (h.doc_id, h.rank)).toSet
    assert(ranks == hits)
  }

  test("short query synthesizes line-0 records (filename-match analog)") {
    val got = Bm25Query.searchWithLines(index, pages, "ab", 10).collect()
    assert(got.map(_.doc_id).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.forall(h => h.line_number == 0 && h.score == 0.0))
  }

  test("line matching lowercases exactly as Spark's lower") {
    // ASCII, Latin-1, final sigma, dotted capital I, Cyrillic, titlecase
    // digraphs and Cherokee, supplementary code points, Kelvin and Ohm
    val texts = Seq("", "Plain ASCII Needleterm",
      "\u00DCn\u00EFc\u00F6d\u00E9 \u00C0\u00C9\u00CE\u00D5\u00DC",
      "\u03A3\u0391\u03A3 \u039F\u0394\u039F\u03A3 \u03A3",
      "\u0130stanbul D\u0130\u015E",
      "\u041F\u0420\u0418\u0412\u0415\u0422 \u041F\u043E\u0438\u0441\u043A",
      "\u01C5 \u01C8 \u1E9E \u13A0\uAB70", "\uD801\uDC00 \uD83D\uDE00 x", "\u00A0\u212A\u2126")
    val got = texts.toDF("s")
      .select(functions.lower($"s"), Bm25Query.lowerCase($"s")).as[(String, String)].collect()
    got.zip(texts).foreach { case ((want, mine), s) => assert(mine == want, s"lower of '$s'") }
  }
}
