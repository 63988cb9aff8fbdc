package graft.index

/** Minimal open-addressed long->double map (linear probing, power-of-two
  * capacity, primitive arrays — no boxing). Broadcast to the blocks-encode
  * tasks as the (term_id -> idf) dictionary: ~16 bytes/entry at load
  * factor 0.5, so the 2M-term broadcast ceiling is a ~64 MB payload —
  * the same budget class as a broadcast-hash join of the dictionary.
  *
  * Build once (driver), read-only afterwards (executor tasks) — safe to
  * share across threads after the broadcast's deserialization barrier.
  */
final class LongDoubleMap(expected: Int) extends Serializable {
  private val cap: Int = {
    // strictly MORE than 2x expected, so `expected` non-zero keys always
    // fit under the strict n < cap/2 load bound enforced in put()
    var c = 16
    while (c < expected * 2 + 2) c <<= 1
    c
  }
  private val mask = cap - 1
  private val keys = new Array[Long](cap)
  private val vals = new Array[Double](cap)
  private val used = new Array[Boolean](cap)
  private var zeroVal = 0.0
  private var hasZero = false
  private var n = 0

  @inline private def slot(k: Long): Int = {
    // splitmix64-style finalizer spreads xxhash64 ids across the table
    var z = k * 0xbf58476d1ce4e5b9L
    z ^= (z >>> 31)
    (z & mask).toInt
  }

  def put(k: Long, v: Double): Unit = {
    if (k == 0L) { zeroVal = v; hasZero = true; return }
    var i = slot(k)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    if (!used(i)) {
      // capacity is enforced only for a NEW key, after the probe settled
      // on an unused slot: updates of existing keys always succeed, and
      // the 0.5 load factor is a strict bound (n stays < cap/2, so the
      // probe loop always terminates on an unused slot)
      require(n < cap / 2, "LongDoubleMap over capacity")
      used(i) = true; keys(i) = k; n += 1
    }
    vals(i) = v
  }

  /** Value for k; throws on a missing key (every term_id reaching the
    * encoder MUST be in the dictionary — absence means the dictionary and
    * tf tables diverged, which is a build bug to fail loudly on).
    */
  def apply(k: Long): Double = {
    if (k == 0L) {
      require(hasZero, "term_id 0 not in the idf dictionary")
      return zeroVal
    }
    var i = slot(k)
    while (used(i)) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    throw new IllegalStateException(
      s"term_id $k not in the broadcast idf dictionary")
  }

  def size: Int = n + (if (hasZero) 1 else 0)
}
