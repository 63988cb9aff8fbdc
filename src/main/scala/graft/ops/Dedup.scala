package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tokenize.Tokenizer

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes (the 100 TB story):
  *  - exact / fingerprint dedup: one hash-keyed shuffle with map-side
  *    combine — embarrassingly scalable;
  *  - n-gram Jaccard: exact pairwise, driven through a shingle-key
  *    equi-join — only pairs sharing >=1 shingle materialize. Correct but
  *    O(pairs-with-overlap); at web scale run [[minhashCandidates]] first
  *    and verify only candidates (the standard MinHash+LSH funnel);
  *  - MinHash/LSH: signature build is one agg; banding turns near-dup
  *    search into an equi-join on (band, bucket) — no cross join anywhere;
  *  - SimHash: 128-bit signature; hamming<=3 search via 4x32-bit chunk
  *    bucketing (pigeonhole, 2^32 buckets) — again an equi-join.
  */
object Dedup {

  /** Marks each row with the canonical (minimum) id of its exact-text
    * group. `is_canonical` = keep-row marker.
    *
    * The window partitions by `md5(lower(text))`, NOT by the lowered
    * text itself (VERDICT r6 #1): at web scale the partition key is
    * hashed for the Exchange and compared during the in-partition sort,
    * and doing that on KB-sized strings is pure memory-bus waste when a
    * 16-byte digest groups identically. Semantics are guarded, not
    * assumed: every group asserts min == max of the lowered text and
    * RAISES on an md5 collision (2^-64-ish at any realistic corpus —
    * but silent wrong dedup is the one failure mode this operator must
    * never have). The guard rides the same window (two extra string
    * min/max aggregates, no extra shuffle).
    */
  def exactByText(df: DataFrame, id: String, text: String): DataFrame =
    exactByKey(df, id, text, md5(lower(col(text)).cast("binary")))

  /** [[exactByText]] with an explicit group-key expression — the test
    * seam for the collision guard (a real md5 collision is not
    * constructible in a spec; a deliberately coarse key is).
    */
  private[graft] def exactByKey(df: DataFrame, id: String, text: String,
      key: Column): DataFrame = {
    val w = Window.partitionBy(key)
    val lo = min(lower(col(text))).over(w)
    val hi = max(lower(col(text))).over(w)
    df.withColumn("canonical_id", min(col(id)).over(w))
      .withColumn("is_canonical",
        // <=> : a group of all-null texts must pass the guard, not raise
        when(lo <=> hi, col(id) === col("canonical_id"))
          .otherwise(raise_error(concat(
            lit("digest collision in exactByText: distinct texts share a key ("),
            substring(lo, 1, 40), lit(" ... vs "), substring(hi, 1, 40),
            lit(")")))))
  }

  /** Token n-gram shingles (distinct) from an already-materialized token
    * ARRAY column. Guarded for docs shorter than n tokens (Spark
    * `sequence` would descend). Taking the token array as a bound column
    * matters: referencing `tokensCol(text)` inside the transform lambda
    * would re-tokenize the full text per element (quadratic per doc).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    val count = size(toks) - lit(n - 1)
    val raw = transform(sequence(lit(1), count), i =>
      concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*))
    array_distinct(when(count >= 1, raw).otherwise(array()))
  }

  /** Exploded distinct shingle rows: (id, shingle). Tokens materialize in
    * a projection of their own so the shingle lambda reads an attribute,
    * not a recomputed expression.
    */
  def shingleRows(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    df.select(col(id).as("sid"), Tokenizer.tokensCol(col(text)).as("toks"))
      .select(col("sid"), explode(shinglesFromTokens(col("toks"), n)).as("s"))

  /** Per-doc distinct shingle ARRAY `(sid, sarr)`, materialized once
    * (round 8): every stage of the minhash/jaccard funnels — signature
    * build, size filter, exact verification — derives from the same
    * tokenize+shingle pass, but as separate lineage each self-join side
    * re-ran the full pass (2-3 corpus scans per operator) and the
    * verify stage re-ASSEMBLED arrays it already had via an
    * explode + collect_list shuffle. One `localCheckpoint` of the
    * per-doc arrays (MEMORY_AND_DISK, spills gracefully) replaces all
    * of that: one tokenize pass, zero signature/verify shuffles.
    * The arrays are uncapped here — signatures must hash the FULL
    * shingle set; [[verifyJaccardArrays]] applies the
    * [[MaxVerifyShingles]] cap where the arrays enter join payloads.
    */
  private def shingleArrays(df: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    graft.Par.spread(df)
      .select(col(id).as("sid"), Tokenizer.tokensCol(col(text)).as("toks"))
      .select(col("sid"), shinglesFromTokens(col("toks"), n).as("sarr"))
      .localCheckpoint()

  /** Exact pairwise n-gram Jaccard over shingle sets, for pairs with
    * similarity >= minJ. Only pairs sharing a shingle are generated
    * (shingle-key equi-join, no cross product).
    */
  /** Exact threshold Jaccard join via prefix + length filtering (PPJoin
    * family): with shingles globally ordered rarest-first, two sets with
    * j >= t MUST share a shingle inside their prefixes of size
    * |A| - ceil(t*|A|) + 1. Candidate pairs therefore join only on
    * low-frequency prefix shingles — this is what defuses the hot-shingle
    * skew (a stopword shingle present in every doc would otherwise emit
    * O(N^2) pair rows on one join key). Candidates are then verified with
    * an exact intersection count, so results are EXACT.
    */
  def jaccardPairs(df: DataFrame, id: String, text: String, n: Int,
      minJ: Double): DataFrame = {
    val shA = shingleArrays(df, id, text, n)
    // round 8: the candidate phase is keyed by the 8-byte
    // xxhash64(shingle), not the ~25-byte shingle string (guide §2.3
    // "narrower types") — the rarity window, the prefix self-join and
    // the distinct then shuffle (sid, h) longs only. Correctness does
    // not rest on hash luck: the df aggregation carries a min/max
    // string guard, so hash-equality ≡ shingle-equality or the operator
    // RAISES (the exactByText / termId house pattern), and the PPJoin
    // prefix guarantee holds under ANY consistent global total order —
    // (df, h) with the guard is one. Candidates are still exactly
    // verified against the full shingle arrays, so emitted pairs are
    // identical.
    val sh = shA.select(col("sid"), explode(col("sarr")).as("s"))
      .select(col("sid"), col("s"), xxhash64(col("s")).as("h"))
    // doc sizes read off the materialized arrays — the round-7 shape
    // paid a groupBy-count shuffle to recount what size(sarr) knows
    val sizes = shA.select(col("sid"), size(col("sarr")).cast("long").as("sz"))
      .where(col("sz") > 0)
    val sdf = sh.groupBy("h").agg(count(lit(1)).as("sdf"),
        min("s").as("smn"), max("s").as("smx"))
      .select(col("h"),
        when(col("smn") <=> col("smx"), col("sdf"))
          .otherwise(raise_error(concat(
            lit("xxhash64 collision in jaccardPairs shingle df: "),
            substring(col("smn"), 1, 40), lit(" vs "),
            substring(col("smx"), 1, 40)))).as("sdf"))

    // per-doc prefix of the (globally) rarest shingles
    val w = Window.partitionBy("sid").orderBy(col("sdf").asc, col("h").asc)
    val prefix = sh.select("sid", "h").join(sdf, Seq("h")).join(sizes, Seq("sid"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("sz") - ceil(lit(minJ) * col("sz")) + 1)
      .select(col("sid"), col("h"), col("sz"))

    // candidate generation on prefixes + length filter (j <= min/max)
    val x = prefix.toDF("a", "h", "na")
    val y = prefix.toDF("b", "h", "nb")
    val cands = x.join(y, Seq("h"))
      .where(col("a") < col("b") &&
        least(col("na"), col("nb")).cast("double") >=
          lit(minJ) * greatest(col("na"), col("nb")).cast("double"))
      .select("a", "b").distinct()

    verifyJaccardArrays(cands, shA, minJ)
  }

  /** Verify-stage shingle-array ceiling: a pathological doc (hundreds of
    * KB of text) would otherwise drag a huge collect_list array through
    * the candidate joins. A doc above the cap is represented by its
    * `MaxVerifyShingles` smallest-xxhash64 shingles — a deterministic
    * bottom-k sketch, so pairs involving such docs degrade to a documented
    * estimate instead of an executor-memory hazard. Every doc within the
    * corpus safety contract (100 KB line cap, web-page sizes) stays under
    * the cap, where results remain EXACT.
    */
  val MaxVerifyShingles = 25000

  /** Exact Jaccard verification of candidate (a,b) pairs: join each side
    * with its full shingle ARRAY (a compact per-doc dimension — two hash
    * joins on ids, no exploded shingle join), intersect inside codegen.
    *
    * Docs above [[MaxVerifyShingles]] are represented by their bottom-k
    * (smallest-xxhash64) shingle sketch; a pair touching a sketched doc
    * uses the STANDARD KMV union estimator — Ĵ = |{x ∈ bottom-k(A∪B) :
    * x ∈ A ∩ B}| / k — which is unbiased, unlike intersecting two
    * independently capped sets over capped-size denominators (that
    * under-estimates asymmetric pairs and silently drops true near-dups).
    * bottom-k(A∪B) is computable from the two sketches (the k smallest
    * of the union are among each side's k smallest), and membership in
    * A∩B is decidable inside it for the same reason. Such pairs carry
    * `estimated = true` so consumers can re-verify exactly if they care.
    * In-contract docs (100 KB-line safety gate, web-page sizes) never
    * cap: their pairs are exact with `estimated = false`.
    */
  private def verifyJaccardArrays(cands: DataFrame, shA: DataFrame,
      minJ: Double): DataFrame = {
    val byHash = (l: Column, r: Column) =>
      when(xxhash64(l) < xxhash64(r), lit(-1))
        .when(xxhash64(l) > xxhash64(r), lit(1)).otherwise(lit(0))
    // round 8: the arrays come straight from the materialized per-doc
    // shingle frame ([[shingleArrays]]) — the round-7 shape re-exploded
    // them and paid a collect_list shuffle to reassemble what it had
    val shArr = shA
      .withColumn("capped", size(col("sarr")) > lit(MaxVerifyShingles))
      .withColumn("arr",
        when(!col("capped"), col("sarr"))
          .otherwise(slice(array_sort(col("sarr"), byHash), 1, MaxVerifyShingles)))
      .withColumn("sz", size(col("sarr")).cast("long"))
      .drop("sarr")
    val joined = cands
      .join(shArr.select(col("sid").as("a"), col("arr").as("arr_a"),
        col("sz").as("na"), col("capped").as("ca")), Seq("a"))
      .join(shArr.select(col("sid").as("b"), col("arr").as("arr_b"),
        col("sz").as("nb"), col("capped").as("cb")), Seq("b"))
    val inter = array_intersect(col("arr_a"), col("arr_b"))
    val exactC = size(inter).cast("long")
    val exactJ =
      exactC.cast("double") / (col("na") + col("nb") - exactC).cast("double")
    val estJ = {
      // an uncapped side's full set is a superset of its bottom-k, so the
      // k smallest of (arr_a ∪ arr_b) are exactly bottom-k(A ∪ B)
      val union = array_sort(array_union(col("arr_a"), col("arr_b")), byHash)
      val kk = least(size(union), lit(MaxVerifyShingles))
      val sk = slice(union, lit(1), kk)
      size(array_intersect(sk, inter)).cast("double") / kk.cast("double")
    }
    joined
      .withColumn("estimated", col("ca") || col("cb"))
      .withColumn("j", when(col("estimated"), estJ).otherwise(exactJ))
      .where(col("j") >= minJ)
      .select("a", "b", "j", "estimated")
  }

  /** MinHash signature ARRAY per doc: sig[i] = min over shingles of
    * xxhash64(i, s), derived DOC-LOCALLY from the materialized shingle
    * arrays (round 8) — array_min over a transform, zero shuffle. The
    * round-7 shape exploded the shingles and ran a 64-min-aggregate
    * groupBy (one Exchange + the same number of hash evaluations).
    * Docs with no shingles carry no signature (same absence semantics
    * as the old groupBy).
    */
  /** sig[i] = min over `sarr` of xxhash64(i, s) — allocation-free inner
    * min (least() over a fold; no 64 temp hash arrays per doc), the same
    * min the round-7 64-column groupBy aggregate computed.
    */
  private def sigExpr(sarr: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => aggregate(sarr, lit(Long.MaxValue),
        (acc, s) => least(acc, xxhash64(i, s))))

  private def minhashSigArr(shA: DataFrame, k: Int): DataFrame =
    shA.where(size(col("sarr")) > 0)
      .select(col("sid"), sigExpr(col("sarr"), k).as("sig"))
      // materialized once: the band self-join references the signatures
      // from BOTH sides, and without a barrier each side re-hashes every
      // shingle 64x (the round-7 groupBy shape shared its Exchange;
      // narrow lineage has nothing to reuse)
      .localCheckpoint()

  /** MinHash signatures: k hash functions h_i(s) = xxhash64(i, s), min per
    * doc — the wide (h0..h{k-1}) public schema over [[minhashSigArr]].
    */
  def minhashSignatures(df: DataFrame, id: String, text: String, n: Int,
      k: Int): DataFrame = {
    val sa = minhashSigArr(shingleArrays(df, id, text, n), k)
    sa.select(col("sid").as(id) +:
      (0 until k).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*)
  }

  /** LSH banding over signatures: bands of `rowsPerBand` components hashed
    * to a bucket; candidate pairs = distinct (a,b) colliding in any band,
    * with the estimated Jaccard (fraction of equal signature components).
    */
  /** Distinct banded candidate id pairs (a < b) from a signature-array
    * frame — the shared core of [[minhashCandidates]] and
    * [[minhashDuplicates]].
    */
  private def bandedCandidateIds(sigArr: DataFrame, k: Int,
      bands: Int): DataFrame = {
    val rpb = k / bands
    // banded rows carry (sid, band, bucket) ONLY — the 64-long signature
    // (~520B/row, x bands rows per doc) stays OUT of the band-bucket
    // shuffle and joins back onto the (far smaller) distinct candidate
    // set afterwards.
    val banded = sigArr.select(
      col("sid"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          xxhash64(b +: (0 until rpb).map(r =>
            element_at(col("sig"), b * lit(rpb) + lit(r + 1))): _*).as("bucket")))).as("bb"))
      .select(col("sid"), col("bb.band"), col("bb.bucket"))
    val x = banded.toDF("a", "band", "bucket")
    val y = banded.toDF("b", "band", "bucket")
    x.join(y, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  def minhashCandidates(df: DataFrame, id: String, text: String,
      n: Int = 3, k: Int = 64, bands: Int = 8): DataFrame = {
    require(k % bands == 0)
    val sigArr = minhashSigArr(shingleArrays(df, id, text, n), k)
    val candIds = bandedCandidateIds(sigArr, k, bands)
    // est_j (component-equality fraction of the FULL signatures) is
    // band-independent, so computing it once after the distinct equals
    // the old per-band-then-max form exactly.
    candIds
      .join(sigArr.select(col("sid").as("a"), col("sig").as("siga")), Seq("a"))
      .join(sigArr.select(col("sid").as("b"), col("sig").as("sigb")), Seq("b"))
      .select(col("a"), col("b"),
        (size(filter(zip_with(col("siga"), col("sigb"), (p, q) =>
          (p === q).cast("int")), v => v === 1)).cast("double") / lit(k.toDouble))
          .as("est_j"))
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard >= minJ —
    * the full funnel (candidates via banding, exact check via shingle
    * join restricted to candidates).
    */
  /** Band geometry: k=64, bands=8 (r=8 rows/band) keeps the candidate
    * rate low on corpora with high baseline similarity (P[collide] =
    * 1-(1-j^8)^8 is ~0.3% at j=0.37 but ~100% at j=0.95); candidates are
    * exactly verified, so banding only affects recall near the threshold.
    */
  def minhashDuplicates(df: DataFrame, id: String, text: String,
      n: Int = 3, k: Int = 64, bands: Int = 8, minJ: Double = 0.8): DataFrame = {
    require(k % bands == 0)
    // ONE shingle pass, ONE materialization, carrying (sid, sarr, sig):
    // the banding funnel projects the signatures, the exact verification
    // projects the arrays — round 7 tokenized the corpus twice and
    // attached est_j signatures the verified output discards; the first
    // round-8 cut still materialized arrays and signatures separately.
    val shSig = graft.Par.spread(df)
      .select(col(id).as("sid"), Tokenizer.tokensCol(col(text)).as("toks"))
      .select(col("sid"), shinglesFromTokens(col("toks"), n).as("sarr"))
      .withColumn("sig", sigExpr(col("sarr"), k))
      .localCheckpoint()
    val cands = bandedCandidateIds(
      shSig.where(size(col("sarr")) > 0).select(col("sid"), col("sig")),
      k, bands)
    verifyJaccardArrays(cands, shSig.select(col("sid"), col("sarr")), minJ)
  }

  /** One alternating contraction round (large-star then small-star) —
    * the loop body of [[connectedComponents]]. The large-star output is
    * localCheckpoint'ed BEFORE small-star consumes it: small-star
    * references its input from three subtrees (the join's probe side,
    * the min-aggregate build side, and the union leg), and without a
    * materialization barrier each reference re-executes the entire
    * large-star subtree — the plan audit (PLANS.md 18) caught exactly
    * this as three duplicated large-star plans per round. One extra
    * materialization buys back ~3x the half-round's shuffle work.
    */
  private[graft] def contractionRound(e: DataFrame): DataFrame =
    smallStar(largeStar(e).localCheckpoint())

  private[graft] def largeStar(e: DataFrame): DataFrame = {
    // connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u})
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  private[graft] def smallStar(e: DataFrame): DataFrame = {
    // orient high->low; connect u and its smaller neighbors to their min
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
    val mins = dir.groupBy("u").agg(min("v").as("m"))
    dir.join(mins, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Edge-count ceiling for the driver union-find shortcut in
    * [[connectedComponents]]: 4M edges collect as two long arrays
    * (~64 MB), and the union-find runs over their sorted distinct ids (at
    * most 8M longs) with an int parent array (~96 MB more, no boxed
    * entries) — the same documented driver-budget class as the term
    * dictionary and broadcast rank sets elsewhere in this engine. A
    * near-dup pair list under the ceiling resolves in ONE collect + a
    * path-compressed union-find instead of 3-4 alternating contraction
    * rounds of ~3 Spark jobs each — identical components, identical
    * min-id labels. Past the ceiling (web-scale dedup graphs) the
    * alternating large-star/small-star loop below is the path, exactly
    * as before.
    */
  val DriverComponentsMaxEdges = 4000000L

  /** Connected components over a near-dup pair list — the cluster-
    * resolution stage a dedup pipeline needs AFTER pair generation
    * ([[minhashDuplicates]]/[[simhashDuplicates]] emit pairs; keeping one
    * survivor per transitive cluster requires components, not pairs:
    * a~b, b~c must retire both b and c even when a~c was never emitted).
    *
    * Algorithm: alternating large-star / small-star contractions
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — converges in O(log^2 n) rounds to min-rooted stars, so
    * the component label IS the minimum id of the cluster (consistent
    * with [[exactByText]]'s canonical_id semantics). Pair lists under
    * [[DriverComponentsMaxEdges]] (with long ids) take the documented
    * driver union-find shortcut instead — same output, a fraction of
    * the Spark jobs.
    *
    * Scale notes (the 100 TB story):
    *  - each half-round is one map-side-combinable groupBy-min plus one
    *    equi-join — no collect_list/neighborhood arrays, so a viral
    *    near-dup hub (a boilerplate page with 10^6 copies) costs a
    *    wide min-aggregate, not an executor-memory array;
    *  - every round's output is localCheckpoint'ed: iterative DataFrame
    *    algorithms otherwise accumulate a plan that re-executes the
    *    whole history each round and eventually breaks the planner;
    *  - rounds are data-driven with a loud cap: maxIter=50 covers
    *    O(log^2 n) for any physical corpus (the paper's bound; real
    *    dedup graphs converge in <10);
    *  - the output carries one row per NON-isolated node only — at web
    *    scale the near-dup subgraph is a small fraction of the corpus,
    *    so the final membership join back onto the corpus
    *    ([[clusters]]) broadcasts or shuffles a minor side.
    *
    * Returns (id, component). A node appearing in no pair is absent
    * (callers left-join and coalesce to self — see [[clusters]]).
    * Null ids raise loudly (ADVICE r7): a silent three-valued-logic
    * drop would leave two docs un-clustered with no signal.
    */
  def connectedComponents(pairs: DataFrame, a: String = "a",
      b: String = "b", maxIter: Int = 50,
      driverMaxEdges: Long = DriverComponentsMaxEdges): DataFrame = {
    // (count, hash-xor) digest: an order-free edge-SET fingerprint (the
    // frame is distinct, so xor never self-cancels; sum would overflow
    // under ANSI); one single-row aggregate per round on a checkpointed
    // frame
    def digest(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // loud null gate riding the same projection (no extra job): a null
    // id would otherwise vanish in the =!= filter's three-valued logic
    def nn(c: Column): Column =
      when(c.isNull, raise_error(lit(
        "connectedComponents: null id in pairs — corrupt input"))).otherwise(c)

    var e = pairs.select(nn(col(a)).as("u"), nn(col(b)).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var d = digest(e)

    // driver union-find shortcut (round 8; bounded + documented above)
    val longIds = e.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (longIds && d._1 <= driverMaxEdges) {
      val spark = e.sparkSession
      import spark.implicits._
      // the edges as two primitive id arrays, one pair of arrays per task
      val parts = e.as[(Long, Long)].mapPartitions { it =>
        val (us, vs) = (Array.newBuilder[Long], Array.newBuilder[Long])
        it.foreach { case (u, v) => us += u; vs += v }
        Iterator((us.result(), vs.result()))
      }.collect()
      val us = Array.concat(parts.map(_._1): _*)
      val vs = Array.concat(parts.map(_._2): _*)
      // union-find over the indices of the sorted distinct ids, so the
      // smaller index is the smaller id
      val ids = {
        val all = Array.concat(us, vs)
        java.util.Arrays.sort(all)
        var k = 0
        all.indices.foreach { i => if (k == 0 || all(i) != all(k - 1)) { all(k) = all(i); k += 1 } }
        java.util.Arrays.copyOf(all, k)
      }
      val parent = Array.tabulate(ids.length)(identity)
      def find(i0: Int): Int = {
        var i = i0
        while (parent(i) != i) { // path halving
          parent(i) = parent(parent(i)); i = parent(i)
        }
        i
      }
      us.indices.foreach { j =>
        val ru = find(java.util.Arrays.binarySearch(ids, us(j)))
        val rv = find(java.util.Arrays.binarySearch(ids, vs(j)))
        // union by MIN root so the final label is the component minimum
        if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
      }
      val out = ids.indices.map(i => (ids(i), ids(find(i))))
      return spark.createDataset(out).toDF("id", "component")
    }

    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = contractionRound(e).localCheckpoint()
      val nd = digest(next)
      converged = nd == d
      e = next; d = nd; it += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter alternating " +
        "rounds — the bound is O(log^2 n); this indicates corrupt input " +
        "(e.g. NaN ids) rather than a larger graph")

    // converged stars: every edge is (member -> component-min); roots
    // label themselves. Guard star-ness loudly (a node with two distinct
    // component labels means the contraction is broken, and silent
    // arbitrary cluster assignment is the one failure mode this operator
    // must never have).
    val member = e.select(col("u").as("id"), col("v").as("component"))
    val roots = e.select(col("v").as("id"), col("v").as("component")).distinct()
    member.union(roots).distinct()
      .groupBy("id")
      .agg(min("component").as("component"), max("component").as("mx"))
      .select(col("id"),
        when(col("component") <=> col("mx"), col("component"))
          .otherwise(raise_error(concat(
            lit("non-star state after convergence at id "),
            col("id").cast("string")))).as("component"))
  }

  /** Marks each row with the canonical (minimum) id of its near-dup
    * CLUSTER — [[exactByText]]'s contract lifted from exact-equality
    * groups to the transitive closure of a pair list. `pairs` is any
    * (a, b) near-dup pair frame ([[minhashDuplicates]],
    * [[simhashDuplicates]], [[jaccardPairs]]); rows in no pair are their
    * own canonical. One membership equi-join on the id — the components
    * side carries only near-dup docs, a minor fraction at corpus scale.
    */
  def clusters(df: DataFrame, id: String, pairs: DataFrame,
      a: String = "a", b: String = "b"): DataFrame = {
    // the components side is aliased to reserved names BEFORE the join
    // (ADVICE r7): an input df that already carries a 'component' column
    // would otherwise make the coalesce ambiguous. Output columns
    // 'component'/'is_canonical' overwrite same-named input columns.
    val comp = connectedComponents(pairs, a, b)
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    df.join(comp, df(id) === comp("__cc_id"), "left")
      .withColumn("component", coalesce(col("__cc_comp"), col(id)))
      .withColumn("is_canonical", col(id) === col("component"))
      .drop("__cc_id", "__cc_comp")
  }

  /** 128-bit SimHash signature (two 64-bit words). */
  case class Sig128(hi: Long, lo: Long)

  /** 128-bit SimHash over the token stream: per-occurrence md5 (md5 is
    * available bit-identically in Spark, DuckDB and every SQL engine, so
    * the correctness gate can recompute signatures from scratch — an
    * xxhash64 variant would be faster but unverifiable externally); each
    * of the 128 hash bits votes +1/-1 per occurrence (tf weighting),
    * sign -> bit. `hi` = first 16 hex chars of the digest (bytes 0-7
    * big-endian), `lo` = the last 16.
    *
    * 128 bits also fix the round-1 scale hazard: they give 4x32-bit
    * pigeonhole chunks => 2^32 buckets (vs 65,536 with 64-bit/16-bit
    * chunks, whose within-bucket verify join is O((N/65k)^2) pairs at
    * web scale).
    *
    * A UDF: the 128-bit-vote fold would explode the codegen expression
    * tree, and the per-row loop is trivially cheap in Scala.
    */
  val simhashUdf = udf { text: String =>
    val votes = new Array[Int](128)
    val md = java.security.MessageDigest.getInstance("MD5")
    Tokenizer.tokenize(if (text == null) "" else text).foreach { t =>
      md.reset()
      val d = md.digest(t.getBytes("UTF-8"))
      var hi = 0L; var lo = 0L
      var i = 0
      while (i < 8) {
        hi = (hi << 8) | (d(i) & 0xffL)
        lo = (lo << 8) | (d(i + 8) & 0xffL)
        i += 1
      }
      var b = 0
      while (b < 64) {
        if (((hi >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        if (((lo >>> b) & 1L) == 1L) votes(64 + b) += 1 else votes(64 + b) -= 1
        b += 1
      }
    }
    var sigHi = 0L; var sigLo = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) sigHi |= (1L << b)
      if (votes(64 + b) >= 0) sigLo |= (1L << b)
      b += 1
    }
    Sig128(sigHi, sigLo)
  }

  /** struct(hi, lo) signature column. */
  def simhash128(text: Column): Column = simhashUdf(text)

  /** Near-dup pairs with hamming(simhash128) <= maxHamming (<= 3), via
    * 4x32-bit chunk bucketing (pigeonhole: <=3 differing bits leave >=1 of
    * 4 chunks identical => recall 1.0) + exact popcount verify. Zero-token
    * docs carry no signal and are excluded.
    */
  def simhashDuplicates(df: DataFrame, id: String, text: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole covers hamming<=3")
    // localCheckpoint: the chunk self-join below references the signature
    // frame from BOTH sides — as raw lineage each side re-ran the
    // md5-per-token signature UDF over the whole corpus (round 8; same
    // lesson as the contraction-round and shingle-array barriers)
    val withSig = graft.Par.spread(df)
      .where(size(Tokenizer.tokensCol(col(text))) > 0)
      .select(col(id).as("sid"), simhash128(col(text)).as("sig"))
      .select(col("sid"), col("sig.hi").as("hi"), col("sig.lo").as("lo"))
      .localCheckpoint()
    val chunkStructs = (0 until 4).map { c =>
      val word = if (c < 2) col("hi") else col("lo")
      struct(lit(c).as("chunk"),
        shiftrightunsigned(word, (c % 2) * 32)
          .bitwiseAND(lit(0xffffffffL)).as("piece"))
    }
    val chunked = withSig.select(col("sid"), col("hi"), col("lo"),
      explode(array(chunkStructs: _*)).as("cp"))
      .select(col("sid"), col("hi"), col("lo"), col("cp.chunk"), col("cp.piece"))
    val x = chunked.toDF("a", "hia", "loa", "chunk", "piece")
    val y = chunked.toDF("b", "hib", "lob", "chunk", "piece")
    x.join(y, Seq("chunk", "piece"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        (bit_count(col("hia").bitwiseXOR(col("hib"))) +
         bit_count(col("loa").bitwiseXOR(col("lob")))).as("hamming"))
      .groupBy("a", "b").agg(min("hamming").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
