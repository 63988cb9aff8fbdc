package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.PagesCorpus
import graft.index.IndexBuilder
import graft.query.{BatchQuery, Bm25Query}

/** End-to-end CLI: generate (or reuse) a pages corpus, build the inverted
  * index, serve BM25 top-k queries. The Spark analog of the reference's
  * server binary surface (/root/reference/src/server/service.rs:210-310 —
  * we print hits instead of streaming them over gRPC).
  *
  * Usage:
  *   runMain graft.SearchCli build <nDocs> <indexDir>
  *   runMain graft.SearchCli query <indexDir> <k> <mode:and|or> <query...>
  */
object SearchCli {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val builder = SparkSession.builder()
      .appName("graft-search-cli")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // respect spark-submit's --master / shuffle config when present
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  private def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "build" :: nDocs :: dir :: Nil =>
      val t0 = System.nanoTime()
      val raw = PagesCorpus.pages(spark, nDocs.toLong)
      val extracted = IndexBuilder.extractPages(raw.toDF())
      // IndexBuilder persists the extracted pages at <dir>/pages; the
      // `lines` mode late-materializes content from there
      val idx = IndexBuilder.build(spark, extracted, dir)
      val secs = (System.nanoTime() - t0) / 1e9
      val s = idx.stats
      println(f"[build] docs=${s.num_docs} terms=${s.num_terms} " +
        f"postings=${s.num_postings} avgdl=${s.avgdl}%.2f " +
        f"wall=${secs}%.1fs docs_per_sec=${s.num_docs / secs}%.0f")
    case "query" :: dir :: k :: mode :: rest if rest.nonEmpty =>
      val idx = IndexBuilder.load(spark, dir).cacheHot().cacheDictionary()
      val q = rest.mkString(" ")
      val conj = mode != "or"
      val t0 = System.nanoTime()
      val hits = Bm25Query.searchBlocks(idx, q, k.toInt, conj).collect()
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[query] q='$q' mode=$mode k=$k hits=${hits.length} wall=${ms}%.0fms")
      hits.foreach(h => println(f"  ${h.rank}%3d ${h.score}%10.4f ${h.doc_id}%8d ${h.url}"))
    // S9: JSON result sink (reference REST response shape,
    // web/api.rs:146-260): one JSON record per hit + a summary line
    case "query-json" :: dir :: k :: mode :: rest if rest.nonEmpty =>
      val idx = IndexBuilder.load(spark, dir).cacheHot().cacheDictionary()
      val q = rest.mkString(" ")
      val t0 = System.nanoTime()
      val hits = Bm25Query.searchBlocks(idx, q, k.toInt, mode != "or").collect()
      val ms = (System.nanoTime() - t0) / 1e6
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
      hits.foreach(h => println(
        s"""{"rank":${h.rank},"score":${h.score},"doc_id":${h.doc_id},""" +
        s""""url":"${esc(h.url)}"}"""))
      println(f"""{"query":"${esc(q)}","mode":"$mode","hits":${hits.length},"elapsed_ms":$ms%.1f}""")
    // batched serving: semicolon-separated queries, ONE Spark job for the
    // whole batch (the per-query scheduling floor amortizes across B) —
    // the load-test shape of the reference validator
    case "batch" :: dir :: k :: mode :: rest if rest.nonEmpty =>
      val idx = IndexBuilder.load(spark, dir).cacheHot().cacheDictionary()
      val conj = mode != "or"
      // ',' OR ';' separate queries (sbt -batch eats ';' as its own
      // command separator, so ',' is the reachable spelling there)
      val queries = rest.mkString(" ").split("[;,]").map(_.trim)
        .filter(_.nonEmpty).toSeq.map(q => BatchQuery(q, conj))
      val t0 = System.nanoTime()
      val res = Bm25Query.searchBlocksBatchEx(idx, queries, k.toInt)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[batch] queries=${queries.size} mode=$mode k=$k " +
        f"wall=${ms}%.0fms amortized=${ms / queries.size}%.1fms/query")
      queries.zip(res).foreach { case (q, hits) =>
        println(s"  q='${q.query}' hits=${hits.length}" + (if (hits.nonEmpty)
          f" top=(${hits.head.doc_id},${hits.head.score}%.4f)" else ""))
      }
    // line-level results (reference result record: path, line, span,
    // snippet — proto/search.proto:19-28); needs the pages parquet for
    // late content materialization
    case "lines" :: dir :: pagesDir :: k :: mode :: rest if rest.nonEmpty =>
      val idx = IndexBuilder.load(spark, dir).cacheHot()
      val pages = spark.read.parquet(pagesDir)
        .select("doc_id", "url", "text")
      val q = rest.mkString(" ")
      val t0 = System.nanoTime()
      val rows = Bm25Query.searchWithLines(idx, pages, q, k.toInt, mode != "or")
        .collect().sortBy(r => (r.rank, r.line_number))
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[lines] q='$q' mode=$mode k=$k rows=${rows.length} wall=${ms}%.0fms")
      rows.foreach(r => println(
        f"  ${r.rank}%3d ${r.score}%10.4f ${r.doc_id}%8d:${r.line_number}%-4d " +
        f"[${r.match_start},${r.match_end}) ${r.snippet.take(70)}"))
    case other =>
      System.err.println(s"unknown args: ${other.mkString(" ")}")
      System.err.println(
        "usage: build <nDocs> <indexDir> | query <indexDir> <k> <and|or> <terms...>" +
        " | query-json <indexDir> <k> <and|or> <terms...>" +
        " | batch <indexDir> <k> <and|or> <q1; q2; ...>" +
        " | lines <indexDir> <pagesParquet> <k> <and|or> <terms...>")
      sys.exit(2)
  }
}
