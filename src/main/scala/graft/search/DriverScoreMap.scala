package graft.search

/** Open-addressing docId → (score, term mask) accumulator for the scoring
  * kernel. Parallel primitive arrays (no boxing, no per-entry objects):
  * exhaustive scoring touches one entry per posting of a hot term's list,
  * so a Scala HashMap's Long/Double boxing dominated its runtime.
  *
  * Keys are non-negative docIds; EMPTY = -1. Linear probing, ×2 growth at
  * 0.7 load. Each entry carries `maskWords` longs of query-term bits (AND
  * mode: ⌈terms/64⌉ words, so any number of AND terms is tracked exactly;
  * OR mode: 0 words, no mask storage at all).
  */
private[graft] final class DriverScoreMap(initialCapacity: Int = 1 << 12,
                                          maskWords: Int = 1) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  private var keys = emptyKeys(cap)
  private var scores = new Array[Double](cap)
  private var masks = new Array[Long](cap * maskWords)
  private var n = 0

  private def emptyKeys(c: Int): Array[Long] = {
    val a = new Array[Long](c)
    java.util.Arrays.fill(a, -1L)
    a
  }

  @inline private def idx(key: Long, c: Int): Int =
    // Stafford mix13 finalizer — docIds are often sequential, spread them
    (java.lang.Long.hashCode(
      (key ^ (key >>> 31)) * 0x7fb5d329728ea185L) & (c - 1))

  /** Adds `delta` to `key`'s score and ORs `mask` (`maskWords` longs; ignored
    * when the map tracks no mask) into its term bits. */
  def add(key: Long, delta: Double, mask: Array[Long]): Unit = {
    var i = idx(key, cap)
    while (true) {
      val k = keys(i)
      if (k == key || k == -1L) {
        if (k == key) scores(i) += delta
        else {
          keys(i) = key; scores(i) = delta
          n += 1
        }
        var w = 0
        while (w < maskWords) { masks(i * maskWords + w) |= mask(w); w += 1 }
        if (n * 10 > cap * 7) grow()
        return
      } else i = (i + 1) & (cap - 1)
    }
  }

  private def grow(): Unit = {
    val oldKeys = keys; val oldScores = scores; val oldMasks = masks
    cap <<= 1
    keys = emptyKeys(cap)
    scores = new Array[Double](cap)
    masks = new Array[Long](cap * maskWords)
    var i = 0
    while (i < oldKeys.length) {
      val k = oldKeys(i)
      if (k != -1L) {
        var j = idx(k, cap)
        while (keys(j) != -1L) j = (j + 1) & (cap - 1)
        keys(j) = k; scores(j) = oldScores(i)
        System.arraycopy(oldMasks, i * maskWords, masks, j * maskWords, maskWords)
      }
      i += 1
    }
  }

  def size: Int = n

  /** Offers every live entry whose term bits number `terms` to `heap` —
    * every entry when the map tracks no mask. */
  def offerMatches(heap: BoundedHitHeap, terms: Int): Unit = {
    var i = 0
    while (i < cap) {
      if (keys(i) != -1L) {
        var bits = 0
        var w = 0
        while (w < maskWords) { bits += java.lang.Long.bitCount(masks(i * maskWords + w)); w += 1 }
        if (maskWords == 0 || bits == terms) heap.offer(keys(i), scores(i))
      }
      i += 1
    }
  }
}
