package graft.index

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One tf row routed into the block encoder, with its term's idf
  * (top-level so Catalyst's generated deserializer can construct it).
  */
case class TfRowIn(term_id: Long, doc_id: Long, tf: Int, doc_len: Int, idf: Double)

/** Encoded posting block: all postings of one term whose docIds fall in one
  * fixed docId range (block_id = docId >> blockBits).
  *
  * Fixed docId ranges are the skew defense (SURVEY.md §7.4 "head-term
  * skew"): a stopword with df ~ N fans out over ~N/2^blockBits independent
  * (termId, blockId) groups, so no reducer ever concentrates a hot term —
  * the blockId IS the salt, and salted sub-lists concatenate in docId order
  * without re-encoding. The reference's analog merge is the single-writer
  * RwLock section (/root/reference/src/search/engine.rs:797-831) that this
  * shuffle design replaces.
  */
case class PostingBlock(
    term_id: Long,
    block_id: Long,
    n: Int,
    docs_enc: Array[Byte],
    impacts_enc: Array[Byte],
    block_max: Double)

object PostingBlocks {
  /** Default block width: 8192 docIds per block. */
  val DefaultBlockBits = 13

  /** The parquet schema of the `blocks` table, pinned for read-backs. */
  private[graft] val Schema: StructType = Encoders.product[PostingBlock].schema

  /** Blocks with an `idf` column the caller joined -> one `(term_id,
    * doc_id, impact)` row per posting, the impact recomputed from the
    * payload with the idf and `avgdl`
    * ([[PostingCodec.decodeTfDlImpacts]]); a row whose idf is null
    * decodes no impact. Any other column a caller joined onto the blocks
    * rides along after `term_id`, so a join decodes only the blocks it
    * keeps. The decode is a generator, so a term_id filter pushes below
    * it into the scan; it is an outer one (every block has n >= 1)
    * because Spark would infer a non-empty filter for an inner one and
    * decode each block twice.
    */
  private[graft] def decode(blocks: DataFrame, avgdl: Double): DataFrame = {
    val impacts = (bytes: Array[Byte], n: Int, idf: Double) =>
      PostingCodec.decodeTfDlImpacts(bytes, n, idf, avgdl)
    val keep = blocks.columns.filterNot(Schema.fieldNames.toSet - "term_id" + "idf")
      .map(col).toSeq
    blocks.select(keep ++ Seq(
        udf(PostingCodec.decodeDocIds _).apply(col("docs_enc"), col("n")).as("docs"),
        udf(impacts).apply(col("impacts_enc"), col("n"), col("idf")).as("impacts")): _*)
      .select(keep ++ Seq(posexplode_outer(col("docs")).as(Seq("i", "doc_id")), col("impacts")): _*)
      .select(keep ++ Seq(col("doc_id"), col("impacts").getItem(col("i")).as("impact")): _*)
  }

  /** Blocks -> `(term_id, doc_id, tf, doc_len)`, one row per posting, each
    * pair read back from the "tfdl" payload ([[PostingCodec.decodeTfDl]]):
    * the tf rows the blocks were encoded from, with their column types
    * ([[IndexBuilder.termFrequencies]]). An outer generator, as in
    * [[decode]].
    */
  private[graft] def decodeTf(blocks: DataFrame): DataFrame = {
    blocks.select(col("term_id"),
        udf(PostingCodec.decodeDocIds _).apply(col("docs_enc"), col("n")).as("docs"),
        udf(PostingCodec.decodeTfDl _).apply(col("impacts_enc"), col("n")).as("tfdl"))
      .select(col("term_id"), posexplode_outer(col("docs")).as(Seq("i", "doc_id")), col("tfdl"))
      .select(col("term_id"), col("doc_id"), col("tfdl._1").getItem(col("i")).as("tf"),
        col("tfdl._2").getItem(col("i")).cast("long").as("doc_len"))
  }

  /** Tf rows `(term_id, doc_id, tf, doc_len, idf)` -> encoded blocks, the
    * idf taken from each row: the encode past the broadcast ceiling,
    * whose rows come from an id-keyed join with the dictionary.
    *
    * Shuffle-once streaming design: hash-repartition on the group key
    * (term_id, doc_id >> blockBits) — Tungsten UnsafeRow shuffle, no
    * object serialization, and nothing extra shipped for the salt — then
    * a spillable local sort by (term_id, doc_id), which within a term IS
    * the block sort, and a streaming mapPartitions encode whose live
    * state is ONE group's arrays (bounded by 2^blockBits docIds).
    */
  def encode(tfRows: DataFrame, avgdl: Double,
      blockBits: Int = DefaultBlockBits): Dataset[PostingBlock] =
    encodeSorted(shuffled(tfRows, blockBits, col("idf")), avgdl, blockBits)

  /** [[encode]] for tf rows `(term_id, doc_id, tf, doc_len)` with the idf
    * looked up in a broadcast `(term_id -> idf)` dictionary after the
    * shuffle, so the build's one dominant Exchange ships the (tf,
    * doc_len) ints alone. Both encoders write the same bytes (asserted
    * in BlocksEncodeSpec).
    */
  def encodeFromTf(tfRows: DataFrame, avgdl: Double,
      idf: org.apache.spark.broadcast.Broadcast[LongDoubleMap],
      blockBits: Int = DefaultBlockBits): Dataset[PostingBlock] = {
    val lookup = udf((termId: Long) => idf.value(termId))
    encodeSorted(shuffled(tfRows, blockBits).withColumn("idf", lookup(col("term_id"))),
      avgdl, blockBits)
  }

  /** `(term_id, doc_id, tf, doc_len)` and `extra` columns of `tfRows`,
    * hash-partitioned by block group and sorted by (term_id, doc_id).
    */
  private def shuffled(tfRows: DataFrame, bits: Int, extra: Column*): DataFrame =
    tfRows
      .select(Seq(col("term_id"), col("doc_id"),
        col("tf").cast("int").as("tf"),
        col("doc_len").cast("int").as("doc_len")) ++ extra: _*)
      .repartition(col("term_id"), shiftright(col("doc_id"), bits))
      .sortWithinPartitions("term_id", "doc_id")

  private def encodeSorted(rows: DataFrame, avgdl: Double, bits: Int): Dataset[PostingBlock] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.as[TfRowIn].mapPartitions(it => encodeGroups(it, bits, avgdl))
  }

  /** Streaming group encoder over rows sorted by (term_id, doc_id): one
    * block per (term_id, doc_id >> bits) group, whose live state is that
    * group's arrays. The payload is the group's (tf, doc_len) pairs
    * ("tfdl"); block_max is the largest impact `Bm25.impact(tf, doc_len,
    * avgdl, idf)`, the value every reader recomputes. Strictly-increasing doc_ids within a group are
    * enforced by the codec — a violation means a term_id hash collision
    * merged two terms' postings, and the build fails loudly.
    */
  private def encodeGroups(it: Iterator[TfRowIn], bits: Int, avgdl: Double): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private var pending: TfRowIn = if (it.hasNext) it.next() else null
      def hasNext: Boolean = pending != null
      def next(): PostingBlock = {
        val t = pending.term_id
        val idf = pending.idf
        val block = pending.doc_id >> bits
        var cap = 64
        var docs = new Array[Long](cap)
        var tfs = new Array[Int](cap)
        var dls = new Array[Int](cap)
        var n = 0
        var blockMax = Double.NegativeInfinity
        var r = pending
        while (r != null && r.term_id == t && (r.doc_id >> bits) == block) {
          if (n == cap) {
            cap *= 2
            docs = java.util.Arrays.copyOf(docs, cap)
            tfs = java.util.Arrays.copyOf(tfs, cap)
            dls = java.util.Arrays.copyOf(dls, cap)
          }
          val imp = Bm25.impact(r.tf.toDouble, r.doc_len.toDouble, avgdl, idf)
          docs(n) = r.doc_id; tfs(n) = r.tf; dls(n) = r.doc_len
          if (imp > blockMax) blockMax = imp
          n += 1
          r = if (it.hasNext) it.next() else null
        }
        pending = r
        PostingBlock(t, block, n,
          PostingCodec.encodeDocIds(java.util.Arrays.copyOf(docs, n)),
          PostingCodec.encodeTfDl(tfs, dls, n),
          blockMax)
      }
    }

  /** Write encoded blocks BUCKETED (bucketBy block_id, files sorted by
    * (term_id, block_id)) under `$outDir/blocks`; returns the block and
    * posting counts, observed on the write. `blocks` is the encode itself
    * ([[encode]] or [[encodeFromTf]]), so the tf shuffle, the encode, the
    * local bucket sort and the write run as one plan, with no intermediate
    * table. It goes through a catalog table named for `outDir` only because
    * Spark writes bucket files only through one; no reader reads it.
    *
    * The bucketing is the serving-path contract: each file is named for
    * its bucket, and a query reads its terms' blocks (row groups pruned by
    * term_id) with ONE TASK PER BUCKET ([[graft.query.BucketFiles]]), so
    * every (term_id, block_id) group of one docId range is complete inside
    * a single task and the WAND merge runs with zero per-query Exchange.
    *
    * The write adds no shuffle to the encode's: each encode task writes
    * its groups into per-bucket files after a local sort by the bucket
    * expression (a bucket may hold files from many tasks — correctness
    * only needs bucket-level co-location, because the query side re-sorts
    * locally by (block_id, term_id)).
    */
  def writeBlocksEncoded(blocks: Dataset[PostingBlock], outDir: String,
      numBuckets: Int): (Long, Long) = {
    val spark = blocks.sparkSession
    val blocksTableName = "graft_blocks_" + java.security.MessageDigest.getInstance("MD5")
      .digest(outDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    spark.sql(s"DROP TABLE IF EXISTS $blocksTableName")
    val obs = org.apache.spark.sql.Observation()
    blocks
      .observe(obs, count(lit(1)).as("rows"), sum("n").as("postings"))
      .write.format("parquet")
      // zstd over the snappy default: the already-delta/varint-coded
      // binary payloads still shrink ~20-30%, and the serving scan is
      // I/O-bound, not decompressor-bound
      .option("compression", "zstd")
      .bucketBy(numBuckets, "block_id")
      .sortBy("term_id", "block_id")
      .option("path", s"$outDir/blocks")
      .mode(SaveMode.Overwrite)
      .saveAsTable(blocksTableName)
    (obs.get("rows").asInstanceOf[Long], Option(obs.get("postings")).fold(0L)(_.asInstanceOf[Long]))
  }
}
