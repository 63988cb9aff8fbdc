package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.query.PathFilter

/** Mirrors the reference PathFilter semantics and tests
  * (/root/reference/src/search/path_filter.rs:35-169).
  */
class PathFilterSpec extends AnyFunSuite {

  private def m(p: String, inc: Seq[String] = Nil, exc: Seq[String] = Nil) =
    PathFilter.matches(p, inc, exc)

  test("empty include matches all; empty exclude excludes none") {
    assert(m("any/path/file.rs"))
  }

  test("relative patterns auto-prefix **/ (match at any depth)") {
    assert(m("deep/nested/src/main.rs", Seq("src/**/*.rs"))) // **/ auto-prefix
    assert(m("src/a/b/main.rs", Seq("src/**/*.rs")))
    assert(m("repo/src/a/main.rs", Seq("src/**/*.rs"))) // **/ prefix lets it match deeper
    assert(m("main.rs", Seq("*.rs")))
    assert(m("a/b/main.rs", Seq("*.rs")))
  }

  test("** crosses separators, * does not") {
    assert(m("a/b/c/x.txt", Seq("a/**/x.txt")))
    assert(m("a/x.txt", Seq("a/**/x.txt"))) // ** can match zero dirs
    assert(!m("a/b/x.txt", Seq("/a/*/q/x.txt")))
    assert(!m("/a/b/c/x.txt", Seq("/a/*.txt")))
  }

  test("brace alternation and ? semantics") {
    assert(m("f.js", Seq("*.{js,ts}")))
    assert(m("f.ts", Seq("*.{js,ts}")))
    assert(!m("f.rs", Seq("*.{js,ts}")))
    assert(m("a/f1.rs", Seq("f?.rs")))
    assert(!m("a/f12.rs", Seq("f?.rs")))
    // ',' and '}' outside a '{...}' group are literal path chars, not
    // alternation syntax (a bare comma must not split the pattern)
    assert(m("x/a,b/f.rs", Seq("a,b/*")))
    assert(!m("x/a/f.rs", Seq("a,b/*")))
    assert(!m("x/b/f.rs", Seq("a,b/*")))
    assert(m("x/w}v/f.rs", Seq("w}v/*")))
    assert(!m("x/wv/f.rs", Seq("w}v/*")))
    // nested groups still alternate correctly
    assert(m("f.tsx", Seq("*.{js,{ts,tsx}}")))
    assert(!m("f.rsx", Seq("*.{js,{ts,tsx}}")))
  }

  test("exclude wins over include") {
    assert(!m("src/test/foo.rs", Seq("src/**"), Seq("**/test/**")))
    assert(m("src/main/foo.rs", Seq("src/**"), Seq("**/test/**")))
  }

  test("backslash normalization") {
    assert(m("a\\b\\x.txt", Seq("a/b/*.txt")))
  }

  test("matcher equals the Column predicate row by row") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val urls = Seq(
      "https://a.example/x", "https://a.example/x\n", "https://a.example/x\r\n",
      "https://a.example/y", "a\\b\\x.txt", "https:\\\\a.example\\x",
      "x/a,b/f.rs", "x/a/f.rs", "x/w}v/f.rs", "x/wv/f.rs", "f.js", "f.ts",
      "f.tsx", "d/f1.rs", "d/fx.rs", "d/[1].rs", null)
    val globs: Seq[(Seq[String], Seq[String])] = Seq(
      (Nil, Nil),
      (Seq("https://a.example/x"), Nil),
      (Seq("https://a.example/**"), Seq("**/y")),
      (Nil, Seq("https://a.example/x")),
      (Seq("a/b/*.txt"), Nil),
      (Seq("a,b/*"), Nil),
      (Seq("w}v/*"), Nil),
      (Seq("*.{js,ts}"), Nil),
      (Seq("*.{js,{ts,tsx}}"), Seq("f.ts")),
      (Seq("f[0-9].rs", "[cd]/*.rs"), Nil),
      (Seq("f[!0-9x].rs"), Nil))
    val df = urls.map(Option(_)).toDF("url")
    for ((inc, exc) <- globs) {
      val keep = PathFilter.matcher(inc, exc)
      val rows = df.select(col("url"), PathFilter.predicate(col("url"), inc, exc))
        .collect()
      assert(rows.length == urls.length)
      rows.foreach { r =>
        val sql = !r.isNullAt(1) && r.getBoolean(1)
        assert(keep(r.getString(0)) == sql, s"$inc / $exc on ${r.getString(0)}")
      }
    }
    // the line-terminator case that String.matches got wrong
    assert(m("https://a.example/x\n", Seq("https://a.example/x")))
  }

  test("url filtering in search (column twin)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      "https://site-0001.example/page-1",
      "https://site-0002.example/page-2",
      "https://other.example/page-3").toDF("url")
    val kept = df.where(PathFilter.predicate(col("url"),
        Seq("https://site-*.example/**"), Seq("**/page-2")))
      .as[String].collect().toSet
    assert(kept == Set("https://site-0001.example/page-1"))
  }
}
