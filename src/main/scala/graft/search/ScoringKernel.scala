package graft.search

import graft.core.Bm25Params
import graft.index.PostingCodec
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** One matched (field, term) pair's BM25 weights and, in AND mode, the bits
  * of the query terms it expands from (⌈terms/64⌉ longs; empty otherwise). */
private[search] final case class PairStat(idf: Double, avgdl: Double, mask: Array[Long])

/** Everything the kernel needs of one query. Plain data: the fused job
  * ships it to executors inside its closure. */
private[search] final case class KernelQuery(stats: Map[(String, String), PairStat],
                                             mode: SearchMode, terms: Int, k: Int,
                                             bm25: Bm25Params) {
  val maskWords: Int = KernelQuery.maskWords(mode, terms)
}

private[search] object KernelQuery {
  /** AND tracks one bit per query term; the other modes track none. */
  def maskWords(mode: SearchMode, terms: Int): Int =
    if (mode == SearchMode.And) (terms + 63) / 64 else 0
}

/** The one BM25 scoring kernel: `(one shard group's rows, term stats, mode,
  * tombstones) → bounded top-k heap`. A shard group is every matched posting
  * row of one docId range (`shard = doc_id / shardSpan`), so groups score
  * independently and their top-ks merge into the global top-k under the
  * (score desc, doc_id asc) order.
  *
  * Inside a group each doc's contributions are summed in ascending (field,
  * term, seg) order — the summation order of [[OracleScorer]] — so scores
  * are bit-identical to it on every path. Or/And accumulate exhaustively in
  * a [[DriverScoreMap]]; Wand runs block-max WAND ([[WandExecutor.runWand]])
  * against the heap's pruning floor.
  *
  * The kernel runs on the driver pool for small candidate sets
  * ([[SearchEngine]]) and inside [[fused]] on executors otherwise. */
private[search] object ScoringKernel {

  /** One posting shard row: (field, term, seg, shard, blocks, blob). */
  type ShardRow = (String, String, Int, Long, Array[Byte], Array[Byte])

  /** Scores one shard group into `heap`. Rows of pairs without stats (not
    * matched, or df 0) are ignored; `tomb` maps a deleted docId to the
    * newest segment it is deleted from. */
  def score(q: KernelQuery, group: Iterable[ShardRow], tomb: collection.Map[Long, Int],
            heap: BoundedHitHeap): Unit = {
    val rows = group.iterator.filter(r => q.stats.contains((r._1, r._2))).toArray
      .sortBy(r => (r._1, r._2, r._3))
    if (rows.isEmpty) return
    val k1 = q.bm25.k1; val b = q.bm25.b
    if (q.mode == SearchMode.Wand)
      WandExecutor.runWand(rows.map { case (f, t, seg, _, blocks, blob) =>
        val st = q.stats((f, t))
        new TermCursor(seg, st.idf, st.avgdl, k1, b,
          new PostingCodec.Cursor(blob, PostingCodec.decodeBlocks(blocks)))
      }, tomb, heap)
    else {
      // ≥ 3 bytes per posting ⇒ blob bytes / 3 bounds the group's docs
      val est = math.min(rows.iterator.map(_._6.length.toLong).sum / 3 + 16, 1L << 21).toInt
      val acc = new DriverScoreMap(math.max(est * 10 / 7, 1 << 10), q.maskWords)
      val noTomb = tomb.isEmpty
      rows.foreach { case (f, t, seg, _, _, blob) =>
        val st = q.stats((f, t))
        val idf = st.idf; val avgdl = st.avgdl; val mask = st.mask
        var p = 0
        var prevDoc = 0L
        while (p < blob.length) {
          // inline LEB128 × 3: docId delta, tf, dl
          var v = 0L; var shift = 0; var by = 0
          do { by = blob(p) & 0xff; v |= (by & 0x7fL) << shift; shift += 7; p += 1 }
          while ((by & 0x80) != 0)
          val d = prevDoc + v
          prevDoc = d
          v = 0L; shift = 0
          do { by = blob(p) & 0xff; v |= (by & 0x7fL) << shift; shift += 7; p += 1 }
          while ((by & 0x80) != 0)
          val tf = v.toDouble
          v = 0L; shift = 0
          do { by = blob(p) & 0xff; v |= (by & 0x7fL) << shift; shift += 7; p += 1 }
          while ((by & 0x80) != 0)
          val dl = v.toDouble
          if (noTomb || !tomb.get(d).exists(seg <= _)) {
            // EXACT expression shape of OracleScorer — re-associating it
            // would break bit-identity
            val part = idf * (tf * (k1 + 1.0)) /
              (tf + k1 * (1.0 - b + b * dl / avgdl))
            acc.add(d, part, mask)
          }
        }
      }
      acc.foreach { (d, s, bits) =>
        if (q.maskWords == 0 || bits == q.terms) heap.offer(d, s)
      }
    }
  }

  /** Distributed top-k as ONE Spark job of two stages. The map stage scans
    * the pruned postings `scan` (field, term, seg, shard, blocks, blob),
    * drops rows of unmatched pairs (prefix expansions are not a field ×
    * term cross product) and keys the rest by shard. With `tombRows`
    * (doc_id, max_seg) — the tombstone set past the driver bound — the raw
    * tombstone rows ride the same shuffle, keyed by their doc's shard, so
    * each group sees exactly its own range's deletes; otherwise the driver
    * map `tomb` is broadcast. The reduce side sorts on shard and streams one
    * shard group at a time through [[score]] into one heap per partition;
    * the driver merges the ≤ k × partitions survivors. */
  def fused(scan: DataFrame, tombRows: Option[DataFrame], tomb: Map[Long, Int],
            q: KernelQuery, shardSpan: Long, partitions: Int): Seq[(Long, Double)] = {
    type Keyed = (Long, Either[(Long, Int), ShardRow])
    val sc = scan.sparkSession.sparkContext
    val posts: RDD[Keyed] = scan.rdd.flatMap { r =>
      val key = (r.getString(0), r.getString(1))
      if (!q.stats.contains(key)) None
      else Some(r.getLong(3) -> Right((key._1, key._2, r.getInt(2), r.getLong(3),
        r.getAs[Array[Byte]](4), r.getAs[Array[Byte]](5))))
    }
    val rows: RDD[Keyed] = tombRows.fold(posts) { t =>
      posts.union(t.rdd.map { r =>
        val d = r.getLong(0)
        (Math.floorDiv(d, shardSpan), Left((d, r.getInt(1))))
      })
    }
    val tombB = if (tomb.isEmpty) None else Some(sc.broadcast(tomb))
    val partial = rows.repartitionAndSortWithinPartitions(new HashPartitioner(partitions))
      .mapPartitions { it =>
        val small = tombB.fold(Map.empty[Long, Int])(_.value)
        val heap = new BoundedHitHeap(q.k)
        val group = mutable.ArrayBuffer.empty[ShardRow]
        val groupTomb = mutable.HashMap.empty[Long, Int]
        var cur = Long.MinValue
        def flush(): Unit = {
          if (group.nonEmpty) score(q, group, if (groupTomb.isEmpty) small else groupTomb, heap)
          group.clear(); groupTomb.clear()
        }
        it.foreach { case (shard, v) =>
          if (shard != cur) { flush(); cur = shard }
          v match {
            case Right(r) => group += r
            case Left((d, s)) => groupTomb(d) = math.max(s, groupTomb.getOrElse(d, s))
          }
        }
        flush()
        heap.result().iterator
      }.collect()
    val top = new BoundedHitHeap(q.k)
    partial.foreach { case (d, s) => top.offer(d, s) }
    top.result()
  }
}
