package graft.query

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Include/exclude glob filter over urls — the reference's PathFilter
  * (/root/reference/src/search/path_filter.rs:35-138) re-expressed as a
  * Column predicate (glob -> anchored Java regex), applied to the
  * CANDIDATE set after index lookup, exactly like the reference
  * (engine.rs:1464-1472).
  *
  * Semantics preserved:
  *  - backslashes normalize to '/' (pattern and path);
  *  - a relative pattern (not starting with '/' or '**' + '/', no ':')
  *    gets a '**' + '/' prefix so it matches at any depth;
  *  - semicolon-delimited pattern lists; empty include = match all,
  *    empty exclude = exclude none;
  *  - glob tokens: '**' crosses '/', '*' and '?' don't, '{a,b}'
  *    alternation, '[...]' classes.
  */
object PathFilter {

  /** One glob -> anchored Java regex string. */
  def globToRegex(glob0: String): String = {
    val glob = normalize(glob0)
    val sb = new StringBuilder("^")
    var i = 0
    val n = glob.length
    var inClass = false
    // ',' and '}' are alternation syntax ONLY inside an open '{...}'
    // group; a literal comma in a path segment ('**/a,b/*') or an
    // unmatched '}' must match itself, not corrupt the regex
    var braceDepth = 0
    while (i < n) {
      val c = glob.charAt(i)
      if (inClass) {
        if (c == ']') { sb.append(']'); inClass = false }
        else if (c == '\\') { sb.append("\\\\") }
        else sb.append(c)
        i += 1
      } else c match {
        case '*' =>
          if (i + 1 < n && glob.charAt(i + 1) == '*') {
            // '**' crosses separators; swallow a following '/' so that
            // '**/foo' also matches 'foo' at depth 0 (globset semantics)
            if (i + 2 < n && glob.charAt(i + 2) == '/') { sb.append("(?:.*/)?"); i += 3 }
            else { sb.append(".*"); i += 2 }
          } else { sb.append("[^/]*"); i += 1 }
        case '?' => sb.append("[^/]"); i += 1
        case '{' => sb.append("(?:"); braceDepth += 1; i += 1
        case ',' if braceDepth > 0 => sb.append('|'); i += 1
        case '}' if braceDepth > 0 => sb.append(')'); braceDepth -= 1; i += 1
        case '[' => sb.append('['); inClass = true; i += 1
        case ch if "\\.^$+()|,}".indexOf(ch) >= 0 => sb.append('\\').append(ch); i += 1
        case ch => sb.append(ch); i += 1
      }
    }
    sb.append("$").toString
  }

  private def normalize(pattern0: String): String = {
    val p = pattern0.replace('\\', '/')
    if (p.startsWith("/") || p.startsWith("**/") || p.contains(":")) p
    else "**/" + p
  }

  def parsePatterns(s: String): Seq[String] =
    if (s == null || s.trim.isEmpty) Nil
    else s.split(';').map(_.trim).filter(_.nonEmpty).toSeq

  /** Column predicate over a url/path column. */
  def predicate(url: Column, include: Seq[String], exclude: Seq[String]): Column = {
    val normalized = translate(url, "\\", "/")
    val inc =
      if (include.isEmpty) lit(true)
      else include.map(g => normalized.rlike(globToRegex(g))).reduce(_ || _)
    val exc =
      if (exclude.isEmpty) lit(false)
      else exclude.map(g => normalized.rlike(globToRegex(g))).reduce(_ || _)
    inc && !exc
  }

  /** Convenience: semicolon-delimited include/exclude strings. */
  def predicateDelimited(url: Column, include: String, exclude: String): Column =
    predicate(url, parsePatterns(include), parsePatterns(exclude))

  /** Row-level twin of [[predicate]], compiled once: backslashes become
    * '/' and each glob regex is tested with `Matcher.find`, as `rlike`
    * does (so a url ending in a line terminator matches like it does in
    * SQL). A null url passes only when there are no globs at all, as the
    * predicate's null result drops the row.
    */
  def matcher(include: Seq[String], exclude: Seq[String]): String => Boolean = {
    val inc = include.map(g => Pattern.compile(globToRegex(g)))
    val exc = exclude.map(g => Pattern.compile(globToRegex(g)))
    path =>
      if (path == null) inc.isEmpty && exc.isEmpty
      else {
        val p = path.replace('\\', '/')
        (inc.isEmpty || inc.exists(_.matcher(p).find())) &&
          !exc.exists(_.matcher(p).find())
      }
  }

  /** A one-off [[matcher]] call. */
  def matches(path: String, include: Seq[String], exclude: Seq[String]): Boolean =
    matcher(include, exclude)(path)
}
