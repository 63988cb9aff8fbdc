package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One posting row routed into the block encoder (top-level so Catalyst's
  * generated deserializer can construct it).
  */
case class PostingRowIn(
    term_id: Long, doc_id: Long, impact: Double, block_id: Long)

/** One tf row routed into the tf-driven block encoder ([[PostingBlocks
  * .encodeFromTf]]): the impact is computed INSIDE the encode task from a
  * broadcast idf dictionary, so the build shuffle ships (tf, doc_len)
  * small ints instead of an 8-byte near-incompressible double.
  */
case class TfRowIn(term_id: Long, doc_id: Long, tf: Int, doc_len: Int)

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

  /** Blocks -> one `(term_id, doc_id, impact)` row per posting; any
    * column a caller joined onto the blocks rides along after `term_id`,
    * so a join decodes only the blocks it keeps. The decode is a
    * generator, so a term_id filter pushes below it into the scan; it is
    * an outer one (every block has n >= 1) because Spark would infer a
    * non-empty filter for an inner one and decode each block twice.
    */
  private[graft] def decode(blocks: DataFrame, codec: String): DataFrame = {
    val impacts: (Array[Byte], Int) => Array[Double] =
      if (codec == "q8") PostingCodec.decodeImpactsQ8 else PostingCodec.decodeImpacts
    val keep = blocks.columns.filterNot(Schema.fieldNames.toSet - "term_id").map(col).toSeq
    blocks.select(keep ++ Seq(
        udf(PostingCodec.decodeDocIds _).apply(col("docs_enc"), col("n")).as("docs"),
        udf(impacts).apply(col("impacts_enc"), col("n")).as("impacts")): _*)
      .select(keep ++ Seq(posexplode_outer(col("docs")).as(Seq("i", "doc_id")), col("impacts")): _*)
      .select(keep ++ Seq(col("doc_id"), col("impacts").getItem(col("i")).as("impact")): _*)
  }

  /** Posting rows -> encoded blocks.
    *
    * Shuffle-once streaming design: hash-repartition on the exact group key
    * (term_id, block_id) — Tungsten UnsafeRow shuffle, no object
    * serialization — then a spillable local radix sort and a streaming
    * mapPartitions encode whose live state is ONE group's arrays (bounded
    * by 2^blockBits docIds).
    */
  def encode(postings: DataFrame,
      blockBits: Int = DefaultBlockBits,
      quantizeImpacts: Boolean = false): Dataset[PostingBlock] = {
    val spark = postings.sparkSession
    import spark.implicits._
    val q8 = quantizeImpacts
    postings
      .withColumn("block_id", shiftright(col("doc_id"), blockBits))
      .repartition(col("term_id"), col("block_id"))
      .sortWithinPartitions("term_id", "block_id", "doc_id")
      // the serving artifact carries docIds + impacts only: tf is never
      // read at query time (impacts subsume it at fixed k1/b) and lives in
      // the tf table for rebuilds — one byte/posting saved in the
      // shuffle, the files and the hot cache
      .select(col("term_id"), col("doc_id"), col("impact"), col("block_id"))
      .as[PostingRowIn]
      .mapPartitions(it =>
        encodeGroups[PostingRowIn](it, blockBits, q8, _.term_id, _.doc_id, _.impact))
  }

  /** Streaming group encoder over rows sorted by (term_id, doc_id): one
    * block per (term_id, doc_id >> bits) group, whose live state is that
    * group's arrays. Strictly-increasing doc_ids within a group are
    * enforced by the codec — a violation means a term_id hash collision
    * merged two terms' postings, and the build fails loudly.
    */
  private def encodeGroups[R <: AnyRef](it: Iterator[R], bits: Int, q8: Boolean,
      term: R => Long, doc: R => Long, impact: R => Double): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private var pending: R = if (it.hasNext) it.next() else null.asInstanceOf[R]
      def hasNext: Boolean = pending != null
      def next(): PostingBlock = {
        val t = term(pending)
        val block = doc(pending) >> bits
        var cap = 64
        var docs = new Array[Long](cap)
        var imps = new Array[Double](cap)
        var n = 0
        var blockMax = Double.NegativeInfinity
        var r = pending
        while (r != null && term(r) == t && (doc(r) >> bits) == block) {
          if (n == cap) {
            cap *= 2
            docs = java.util.Arrays.copyOf(docs, cap)
            imps = java.util.Arrays.copyOf(imps, cap)
          }
          val imp = impact(r)
          docs(n) = doc(r); imps(n) = imp
          if (imp > blockMax) blockMax = imp
          n += 1
          r = if (it.hasNext) it.next() else null.asInstanceOf[R]
        }
        pending = r
        val impArr = java.util.Arrays.copyOf(imps, n)
        PostingBlock(t, block, n,
          PostingCodec.encodeDocIds(java.util.Arrays.copyOf(docs, n)),
          if (q8) PostingCodec.encodeImpactsQ8(impArr)
          else PostingCodec.encodeImpacts(impArr),
          blockMax)
      }
    }

  /** Posting blocks straight from TF ROWS `(term_id, doc_id, tf,
    * doc_len)` with the BM25 impact computed inside the streaming encode
    * from a broadcast `(term_id -> idf)` dictionary, a byte cut through
    * the build's one dominant Exchange. The [[encode]] path ships
    * `impact DOUBLE` per posting: 8 bytes
    * of near-incompressible mantissa through the shuffle. Here the
    * shuffle ships `(tf INT, doc_len INT)` instead — small, highly
    * repetitive integers that the shuffle's lz4 squeezes to a fraction
    * of the doubles — and the impact materializes only inside the
    * encoder's bounded per-group arrays.
    *
    * BIT-EXACT by construction: [[Bm25.impact]] is the scalar twin of
    * the [[Bm25.impactCol]] operand tree of the [[encode]] path (same
    * operand order, same doubles; equivalence asserted block-for-block in
    * PostingCodecSpec and DecodedPostingsSpec), and idf values come from
    * the same dictionary table.
    *
    * The repartition hashes on (term_id, doc_id >> blockBits) expressions
    * — nothing extra is shipped for the salt — and within a term the
    * docId sort IS the block sort (block_id is monotonic in doc_id), so
    * the sort key needs no block_id column either.
    */
  def encodeFromTf(tfRows: DataFrame, avgdl: Double,
      idf: org.apache.spark.broadcast.Broadcast[LongDoubleMap],
      blockBits: Int = DefaultBlockBits,
      quantizeImpacts: Boolean = false): Dataset[PostingBlock] = {
    val spark = tfRows.sparkSession
    import spark.implicits._
    val q8 = quantizeImpacts
    val bits = blockBits
    tfRows
      .select(col("term_id"), col("doc_id"),
        col("tf").cast("int").as("tf"),
        col("doc_len").cast("int").as("doc_len"))
      .repartition(col("term_id"), shiftright(col("doc_id"), bits))
      .sortWithinPartitions("term_id", "doc_id")
      .as[TfRowIn]
      .mapPartitions { it =>
        val m = idf.value
        encodeGroups[TfRowIn](it, bits, q8, _.term_id, _.doc_id,
          r => Bm25.impact(r.tf.toDouble, r.doc_len.toDouble, avgdl, m(r.term_id)))
      }
  }

  /** Write encoded blocks as a BUCKETED table (bucketBy block_id, files
    * sorted by (term_id, block_id)) registered in the session catalog with
    * the data under `$outDir/blocks`; returns the block and posting counts,
    * observed on the write. `blocks` is the encode itself ([[encode]] or
    * [[encodeFromTf]]), so the tf shuffle, the encode, the local bucket
    * sort and the write run as one plan, with no intermediate table.
    *
    * The bucketing is the serving-path contract: a query reads the blocks
    * of its terms (pushed In(term_id) filter; file sort keeps row-group
    * stats tight) with ONE TASK PER BUCKET, so every (term_id, block_id)
    * group of one docId range is complete inside a single task and the
    * WAND merge runs with zero per-query Exchange.
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
    val table = BuiltIndex.blocksTableName(outDir)
    spark.sql(s"DROP TABLE IF EXISTS $table")
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
      .saveAsTable(table)
    (obs.get("rows").asInstanceOf[Long], Option(obs.get("postings")).fold(0L)(_.asInstanceOf[Long]))
  }
}
