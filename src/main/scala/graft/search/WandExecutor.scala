package graft.search

import graft.index.PostingCodec

/** Block-Max WAND, the Wand mode of [[ScoringKernel]] (SURVEY.md §7.2 M4;
  * north rule: "posting-list intersection with block-max WAND pruning and
  * a bounded min-heap per partition merged via a final top-k reduce").
  *
  * The kernel hands [[WandExecutor.runWand]] one shard group's cursors in
  * ascending (field, term, seg) order plus the heap to fill. Shard groups
  * are docId-range disjoint, so each runs BMW (Broder et al. WAND +
  * Ding/Suel block-max bounds) on its own:
  *  - on the driver pool (small candidate sets), one heap per group, every
  *    heap pruning against the monotone [[SharedTheta]] floor;
  *  - inside the distributed read ([[ScoringKernel.distributedTopK]]),
  *    where each task streams its partition's groups through ONE heap,
  *    whose θ only tightens as the task progresses.
  * Either way the merged per-group top-ks equal the global top-k, and the
  * driver merge of ≤ k × groups entries is trivially small.
  *
  * Determinism: a fully evaluated doc sums its contributions in cursor
  * order — the same (field, term) order the single-node oracle scorer uses
  * — so scores are bit-identical and ranks exact (SURVEY.md §7.4 float
  * determinism).
  */
private[search] object WandExecutor {

  /** Block-max WAND main loop over one shard group's cursors. Static so
    * the distributed read's closure never captures the SparkSession.
    *
    * Round-6 shape (results identical — pruning only ever skips docs whose
    * block-bounded score is STRICTLY below θ, and every evaluated doc sums
    * its contributions in the same stable cursor order):
    *  - one cursor → [[runWandSingle]], a streaming block walk that skips a
    *    prunable block with ONE metadata hop instead of decoding it
    *    posting-by-posting;
    *  - the per-iteration `java.util.Arrays.sort` (TimSort + comparator
    *    allocation) is replaced by an in-place insertion sort — between
    *    iterations at most a couple of cursors moved, so the array is
    *    nearly sorted and the sort is ~n comparisons;
    *  - a failed block-max refinement skips to the PROVEN-SAFE horizon
    *    (min over contributing cursors' block validity ends, bounded by the
    *    first cursor past the pivot — the Ding/Suel deep skip) instead of
    *    pivotDoc+1, so a cold block is skipped once, not re-proven per doc;
    *  - a deleted posting is one binary search in the shard's [[TombSet]],
    *    and none when the shard has no deletes. */
  def runWand(cursors: Array[TermCursor], tomb: TombSet, heap: BoundedHitHeap): Unit = {
    cursors.foreach(_.init())
    val order: Array[TermCursor] = cursors.filter(!_.exhausted)
    if (order.isEmpty) return
    if (order.length == 1) { runWandSingle(order(0), tomb, heap); return }
    var continue = true
    while (continue) {
      // insertion sort by docId (exhausted cursors report Long.MaxValue and
      // sink to the tail); stable, allocation-free, ~n on nearly-sorted input
      var si = 1
      while (si < order.length) {
        val c = order(si)
        val d = c.docId
        var sj = si - 1
        while (sj >= 0 && order(sj).docId > d) {
          order(sj + 1) = order(sj); sj -= 1
        }
        order(sj + 1) = c
        si += 1
      }
      val theta = heap.threshold
      // pivot: smallest prefix whose summed global upper bounds exceed θ.
      // globalUB is a STRICT upper bound (tf-norm < k1+1), so score==θ docs
      // are never pruned here — exact ties stay eligible for the docId
      // tiebreak.
      var acc = 0.0
      var pivotIdx = -1
      var i = 0
      while (i < order.length && pivotIdx < 0) {
        if (!order(i).exhausted) {
          acc += order(i).globalUB
          if (acc > theta) pivotIdx = i
        }
        i += 1
      }
      if (pivotIdx < 0 || order(pivotIdx).exhausted) {
        continue = false
      } else {
        val pivotDoc = order(pivotIdx).docId
        // Block-max refinement over ALL cursors that could contribute to
        // pivotDoc (including equal-docId cursors beyond the pivot index),
        // using shallow pointers into block metadata — nothing is decoded.
        // Strict <: block bounds are attainable, and an exactly-tied doc
        // with smaller docId must still be evaluated for the tiebreak.
        // Each contributing cursor also reports how far its shallow bound
        // stays valid (its block's lastDocId, or the gap end); cursors past
        // the pivot bound the horizon by their own docId.
        var blockUB = 0.0
        var validUntil = Long.MaxValue
        var j = 0
        while (j < order.length) {
          val c = order(j)
          if (!c.exhausted) {
            if (c.docId <= pivotDoc) {
              blockUB += c.shallowUB(pivotDoc)
              if (c.shallowValidUntil < validUntil) validUntil = c.shallowValidUntil
            } else if (c.docId - 1 < validUntil) validUntil = c.docId - 1
          }
          j += 1
        }
        if (blockUB < theta) {
          // No doc in [pivotDoc, validUntil] can reach θ: the contributing
          // cursors' block bounds hold through validUntil and every other
          // cursor starts past it — skip the whole proven range at block
          // granularity (docs < pivotDoc were already excluded by the pivot
          // invariant). The pivot cursor's current block always yields a
          // finite horizon; the clamp only guards a hypothetical all-gap
          // state from overflowing MaxValue+1.
          if (validUntil == Long.MaxValue) validUntil = pivotDoc
          val target = math.max(pivotDoc, validUntil) + 1
          var n = 0
          while (n < order.length) {
            if (!order(n).exhausted && order(n).docId < target)
              order(n).advanceTo(target)
            n += 1
          }
        } else if (order(0).docId == pivotDoc) {
          // full evaluation: sum live contributions in stable cursor order
          var score = 0.0
          var anyLive = false
          var e = 0
          while (e < cursors.length) {
            val c = cursors(e)
            if (!c.exhausted && c.docId == pivotDoc) {
              if (!tomb.kills(pivotDoc, c.seg)) { score += c.contribution; anyLive = true }
            }
            e += 1
          }
          if (anyLive) heap.offer(pivotDoc, score)
          var e2 = 0
          while (e2 < cursors.length) {
            val c = cursors(e2)
            if (!c.exhausted && c.docId == pivotDoc) c.advanceTo(pivotDoc + 1)
            e2 += 1
          }
        } else {
          // advance the highest-UB cursor positioned before the pivot
          var best = -1
          var bestUB = -1.0
          var m = 0
          while (m < pivotIdx) {
            if (!order(m).exhausted && order(m).docId < pivotDoc && order(m).globalUB > bestUB) {
              best = m; bestUB = order(m).globalUB
            }
            m += 1
          }
          if (best < 0) best = 0
          order(best).advanceTo(pivotDoc)
        }
        if (order.forall(_.exhausted)) continue = false
      }
    }
  }

  /** Single-cursor BMW: stream the list block by block, skipping any block
    * whose (maxTf, minDl) bound is strictly below θ with one metadata hop —
    * a prunable block costs O(1) instead of a decode per posting. Offered
    * scores are the identical per-posting contributions, so the top-k (with
    * the (score desc, docId asc) tie rule) matches the generic loop
    * exactly. */
  private def runWandSingle(c: TermCursor, tomb: TombSet, heap: BoundedHitHeap): Unit = {
    while (!c.exhausted) {
      val blockLast = c.cursor.blockLastDocId
      if (c.currentBlockUB < heap.threshold) {
        // the whole block is provably below θ — hop over it
        if (!c.advanceTo(blockLast + 1)) return
      } else {
        var go = true
        while (go) {
          val d = c.docId
          if (!tomb.kills(d, c.seg)) heap.offer(d, c.contribution)
          if (d >= blockLast) go = false
          else if (!c.cursor.next()) { go = false }
        }
        if (!c.advanceTo(blockLast + 1)) return
      }
    }
  }
}

/** One query term's posting cursor with BM25 bounds. */
private[search] final class TermCursor(
    val seg: Int,
    idf: Double, avgdl: Double, k1: Double, b: Double,
    val cursor: PostingCodec.Cursor) {

  def init(): Unit = { cursor.next(); () }
  def exhausted: Boolean = cursor.isExhausted
  def docId: Long = if (cursor.isExhausted) Long.MaxValue else cursor.docId
  def advanceTo(target: Long): Boolean = cursor.advanceTo(target)

  /** tf-normalization is strictly < (k1+1), so idf·(k1+1) is a strict upper
    * bound on any contribution. */
  val globalUB: Double = idf * (k1 + 1.0)

  @inline private def blockBound(maxTf: Int, minDl: Int): Double = {
    val tf = maxTf.toDouble
    val dl = minDl.toDouble
    idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
  }

  /** Horizon through which the last [[shallowUB]] result stays a valid
    * bound: the end of the block it came from, the end of the gap when the
    * target provably falls between blocks, or ∞ when the list is spent. */
  private var sValidUntil: Long = Long.MaxValue
  def shallowValidUntil: Long = sValidUntil

  /** Tight bound on this cursor's contribution to `target`, from the
    * (maxTf, minDl) metadata of the block that would contain it; 0 when the
    * list provably lacks `target`. Valid because tf/(tf+c) is increasing in
    * tf and decreasing in dl. Allocation-free (the block scan runs on the
    * cursor's metadata arrays); also records [[shallowValidUntil]]. The
    * per-block bound is memoized on the block index: in a dense
    * intersection the refinement runs once per pivot, and ~128 consecutive
    * pivots land in the same block — recomputing the identical div chain
    * per pivot was a measurable share of multi-term WAND time. */
  private var cachedBlockIdx: Int = -1
  private var cachedBound: Double = 0.0
  def shallowUB(target: Long): Double = {
    val bi = cursor.blockIndexFor(target)
    if (bi < 0) { sValidUntil = Long.MaxValue; 0.0 }
    else {
      val first = cursor.blockFirstDocId(bi)
      if (first > target) { sValidUntil = first - 1; 0.0 } // gap: target absent
      else {
        sValidUntil = cursor.blockLastDocIdAt(bi)
        if (bi != cachedBlockIdx) {
          cachedBlockIdx = bi
          cachedBound = blockBound(cursor.blockMaxTf(bi), cursor.blockMinDl(bi))
        }
        cachedBound
      }
    }
  }

  /** BM25 bound of the cursor's CURRENT block — the single-cursor walk's
    * prune test. */
  def currentBlockUB: Double = {
    val blk = cursor.currentBlock
    blockBound(blk.maxTf, blk.minDl)
  }

  def contribution: Double = {
    val tf = cursor.tf.toDouble
    val dl = cursor.dl.toDouble
    idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
  }
}

/** Monotone pruning floor SHARED by the heaps of concurrently-scored shard
  * groups on the driver pool (see [[SearchEngine]]): each group's heap
  * publishes its local k-th-best score once full, and every group prunes
  * against the max published so far. Safe because a subset's k-th best
  * never exceeds the union's k-th best, and pruning is strict-<θ — so a
  * doc pruned against the shared floor is strictly below the FINAL global
  * k-th score and could never appear in the merged top-k. Lock-free CAS
  * max; scores are non-negative (idf > 0, boosts ≥ 0). */
private[search] final class SharedTheta {
  private val bits = new java.util.concurrent.atomic.AtomicLong(
    java.lang.Double.doubleToLongBits(0.0))
  def get: Double = java.lang.Double.longBitsToDouble(bits.get)
  @annotation.tailrec
  def raiseTo(v: Double): Unit = {
    val cur = bits.get
    if (java.lang.Double.longBitsToDouble(cur) < v &&
        !bits.compareAndSet(cur, java.lang.Double.doubleToLongBits(v)))
      raiseTo(v)
  }
}

/** The one shared daemon pool for driver-side scoring, created on first
  * use and grown to the largest parallelism asked for. Callers pass the
  * session's `defaultParallelism` (the `local[N]` core count), never a
  * hard-coded count, so driver scoring scales like executor parallelism;
  * idle threads time out, so the pool costs nothing between queries. */
private[graft] object DriverPool {
  import java.util.concurrent._

  private var pool: ThreadPoolExecutor = _

  private def executor(par: Int): ThreadPoolExecutor = synchronized {
    if (pool == null) {
      pool = new ThreadPoolExecutor(par, par, 30, TimeUnit.SECONDS,
        new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
          val t = new Thread(r, "graft-driver-score")
          t.setDaemon(true)
          t
        })
      pool.allowCoreThreadTimeOut(true)
    } else if (par > pool.getMaximumPoolSize) {
      pool.setMaximumPoolSize(par)
      pool.setCorePoolSize(par)
    }
    pool
  }

  /** Runs `unit(0) … unit(n - 1)` on up to `par` threads and returns their
    * results in unit order; one unit, or `par` ≤ 1, runs inline. The
    * calling thread takes part: it and at most `min(n, par) - 1` pool
    * tasks claim units from one counter, so a small call finishes before a
    * helper is scheduled, and the caller waits only for units already
    * claimed, never for a queued task (a unit may itself call `run`). After
    * the first failure no unit is claimed; the units in flight finish, then
    * that failure reaches the caller as thrown. */
  def run[T: scala.reflect.ClassTag](n: Int, par: Int)(unit: Int => T): Array[T] = {
    if (n <= 1 || par <= 1) return Array.tabulate(n)(unit)
    val out = new Array[T](n)
    val next = new atomic.AtomicInteger()
    val failure = new atomic.AtomicReference[Throwable]()
    val finished = new CountDownLatch(n)
    val claim: Runnable = () => {
      var u = next.getAndIncrement()
      while (u < n) {
        if (failure.get == null)
          try out(u) = unit(u)
          catch { case e: Throwable => failure.compareAndSet(null, e) }
        finished.countDown()
        u = next.getAndIncrement()
      }
    }
    val helpers = executor(par)
    (1 until math.min(n, par)).foreach(_ => helpers.execute(claim))
    claim.run()
    // an interrupted caller stops the helpers claiming further units
    try finished.await()
    catch { case e: InterruptedException => failure.compareAndSet(null, e); throw e }
    val e = failure.get
    if (e != null) throw e
    out
  }
}

/** Bounded top-k collector under the order (score desc, doc_id asc) — a
  * primitive-array binary min-heap whose root is the WORST kept hit.
  * Replaces the tuple-boxing PriorityQueue: `offer` is the innermost call
  * of every WAND/exhaustive scoring loop (one call per surviving posting),
  * and the old path allocated a tuple per offer plus two tuples per
  * comparison inside `Ordering.by`. */
private[graft] final class BoundedHitHeap(k: Int, shared: SharedTheta = null) {
  private val cap = math.max(k, 0)
  private val ids = new Array[Long](math.max(cap, 1))
  private val scs = new Array[Double](math.max(cap, 1))
  private var n = 0

  /** a is WORSE than b under (score desc, docId asc): lower score, or the
    * same score with a larger docId. */
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    sa < sb || (sa == sb && ia > ib)

  /** Current pruning threshold θ: worst kept score once full, else 0 — or
    * the shared cross-group floor when that is higher (see [[SharedTheta]]:
    * always ≤ the final global k-th score, so strict-<θ pruning stays
    * exact). */
  def threshold: Double = {
    val own = if (n < cap || cap == 0) 0.0 else scs(0)
    if (shared == null) own else math.max(own, shared.get)
  }

  def offer(docId: Long, score: Double): Unit = {
    if (cap == 0) return
    if (n < cap) {
      // insert at the end, sift up
      var i = n
      ids(i) = docId; scs(i) = score
      n += 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scs(i), ids(i), scs(p), ids(p))) {
          val ts = scs(i); val ti = ids(i)
          scs(i) = scs(p); ids(i) = ids(p)
          scs(p) = ts; ids(p) = ti
          i = p
        } else i = 0
      }
    } else if (worse(scs(0), ids(0), score, docId)) {
      // beats the worst kept: replace root, sift down
      ids(0) = docId; scs(0) = score
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i // index of the worst among i and its children
        if (l < n && worse(scs(l), ids(l), scs(w), ids(w))) w = l
        if (r < n && worse(scs(r), ids(r), scs(w), ids(w))) w = r
        if (w == i) done = true
        else {
          val ts = scs(i); val ti = ids(i)
          scs(i) = scs(w); ids(i) = ids(w)
          scs(w) = ts; ids(w) = ti
          i = w
        }
      }
    }
    // publish the local k-th-best to concurrent groups once full: monotone,
    // and always ≤ the global k-th score (subset property)
    if (shared != null && n == cap) shared.raiseTo(scs(0))
  }

  def result(): Seq[(Long, Double)] =
    (0 until n).map(i => (ids(i), scs(i))).sortBy { case (d, s) => (-s, d) }
}
