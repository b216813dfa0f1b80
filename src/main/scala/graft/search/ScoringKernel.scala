package graft.search

import graft.core.Bm25Params
import graft.index.PostingCodec
import org.apache.spark.{OneToOneDependency, Partition, Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** One matched (field, term) pair's BM25 weights and, in AND mode, the bits
  * of the query terms it expands from (⌈terms/64⌉ longs; empty otherwise). */
private[search] final case class PairStat(idf: Double, avgdl: Double, mask: Array[Long])

/** Everything the kernel needs of one query. Plain data: the distributed
  * read ships it to executors inside its [[ScoreTask]]. */
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

/** One shard's deletes, the one form every scoring path reads them in (the
  * analogue of Lucene's per-segment live-docs): the deleted doc ids,
  * ascending, each beside the newest segment it is deleted from. A posting
  * of `doc` in segment `seg` is dead iff `seg ≤` that segment — the rule of
  * [[graft.index.IndexStore.tombstoneAgg]]. */
private[search] final class TombSet private (ids: Array[Long], maxSeg: Array[Int]) extends Serializable {
  def kills(doc: Long, seg: Int): Boolean = ids.length != 0 && {
    val i = java.util.Arrays.binarySearch(ids, doc)
    i >= 0 && seg <= maxSeg(i)
  }
}

private[search] object TombSet {
  val Empty = new TombSet(Array.emptyLongArray, Array.emptyIntArray)

  /** Raw tombstone rows `(doc_id, max_seg)`, in any order and with any
    * duplicates, as one set per shard (`floor(doc_id / span)`, the
    * postings' shard), each id once at its highest segment. */
  def byShard(rows: Iterable[(Long, Int)], span: Long): Map[Long, TombSet] =
    rows.groupMapReduce(_._1)(_._2)(math.max).toArray.sortBy(_._1)
      .groupBy { case (d, _) => Math.floorDiv(d, span) }
      .map { case (shard, rs) => shard -> new TombSet(rs.map(_._1), rs.map(_._2)) }
}

/** The one BM25 scoring kernel: `(one shard group's rows, term stats, mode,
  * the shard's [[TombSet]]) → bounded top-k heap`. A shard group is every
  * matched posting row of one docId range (`shard = doc_id / shardSpan`),
  * so groups score independently and their top-ks merge into the global
  * top-k under the (score desc, doc_id asc) order.
  *
  * Inside a group each doc's contributions are summed in ascending (field,
  * term, seg) order — the summation order of [[OracleScorer]] — so scores
  * are bit-identical to it on every path. Or/And accumulate exhaustively in
  * a [[DriverScoreMap]]; Wand runs block-max WAND ([[WandExecutor.runWand]])
  * against the heap's pruning floor.
  *
  * The kernel runs on the driver pool for small candidate sets
  * ([[SearchEngine]]) and otherwise on executors, over postings held
  * resident there ([[residentPostings]]), as one [[ScoreTask]] per
  * partition of one [[ResidentRead]] ([[distributedTopK]]). */
private[search] object ScoringKernel {

  /** One posting shard row: (field, term, seg, shard, blocks, blob). */
  type ShardRow = (String, String, Int, Long, Array[Byte], Array[Byte])

  /** Scores one shard group into `heap`. Rows of pairs without stats (not
    * matched, or df 0) are ignored; `tomb` holds the group's shard's
    * deletes. */
  def score(q: KernelQuery, group: Iterable[ShardRow], tomb: TombSet,
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
      val postings = rows.iterator.map(r => PostingCodec.postingCount(r._5)).sum
      val est = math.min(postings + 16, 1L << 21).toInt
      val acc = new DriverScoreMap(math.max(est * 10 / 7, 1 << 10), q.maskWords)
      rows.foreach { case (f, t, seg, _, _, blob) =>
        val st = q.stats((f, t))
        val idf = st.idf; val avgdl = st.avgdl; val mask = st.mask
        val c = new PostingCodec.Cursor(blob)
        while (c.next()) {
          val d = c.docId
          if (!tomb.kills(d, seg)) {
            val tf = c.tf.toDouble
            val dl = c.dl.toDouble
            // EXACT expression shape of OracleScorer — re-associating it
            // would break bit-identity
            val part = idf * (tf * (k1 + 1.0)) /
              (tf + k1 * (1.0 - b + b * dl / avgdl))
            acc.add(d, part, mask)
          }
        }
      }
      acc.offerMatches(heap, q.terms)
    }
  }

  /** One segment's postings `(field, term, shard, blocks, blob)` keyed by
    * shard, hash-partitioned by `partitioner` and turned into one
    * [[ResidentPart]] per partition, persisted MEMORY_AND_DISK and
    * materialized: one job, run once per segment. */
  def residentPostings(postings: DataFrame, seg: Int, partitioner: Partitioner,
                       name: String): RDD[ResidentPart] = {
    // Catalyst's binary rows cross the shuffle: no external Row conversion
    // before it, and each row serializes as one byte array
    val rdd = postings.select("field", "term", "shard", "blocks", "blob").queryExecution.toRdd
      .map(r => r.getLong(2) -> r.copy())
      .partitionBy(partitioner)
      .mapPartitions(it => Iterator(ResidentPart(seg, it.map { case (shard, r) =>
        (r.getUTF8String(0).toString, r.getUTF8String(1).toString, shard, r.getBinary(3), r.getBinary(4))
      })), preservesPartitioning = true)
    materialize(rdd, name)
  }

  /** Tombstone rows `(doc_id, max_seg)` keyed by their doc's shard under
    * `partitioner`: per partition, a [[TombSet]] per shard with deletes,
    * beside the resident postings of the same shards. */
  def residentTombstones(rows: DataFrame, shardSpan: Long, partitioner: Partitioner,
                         name: String): RDD[Map[Long, TombSet]] = {
    val rdd = rows.select("doc_id", "max_seg").rdd
      .map { r => val d = r.getLong(0); Math.floorDiv(d, shardSpan) -> (d -> r.getInt(1)) }
      .partitionBy(partitioner)
      .mapPartitions(it => Iterator(TombSet.byShard(it.map(_._2).toSeq, shardSpan)),
        preservesPartitioning = true)
    materialize(rdd, name)
  }

  private def materialize[T](rdd: RDD[T], name: String): RDD[T] = {
    rdd.setName(name).persist(StorageLevel.MEMORY_AND_DISK).count()
    rdd
  }

  /** Distributed top-k over resident postings: ONE job of ONE stage, one
    * task per partition. [[ResidentRead]] hands each task its partition of
    * every segment plus, if the store has deletes, its resident tombstones;
    * [[ScoreTask]] looks up the query's pairs, streams the shard groups in
    * ascending shard order through [[score]] into one heap, and the driver
    * merges the ≤ k × partitions survivors in partition order.
    *
    * Neither the RDD nor the task function is a Scala closure, so Spark's
    * closure cleaner returns at once instead of re-reading class files on
    * every read, as `union`, `mapPartitions`, `zipPartitions` and
    * `collect()` would. */
  def distributedTopK(parts: Seq[RDD[ResidentPart]], tombs: Option[RDD[Map[Long, TombSet]]],
                      q: KernelQuery): Seq[(Long, Double)] = {
    if (parts.isEmpty) return Nil
    val read = new ResidentRead(parts, tombs)
    val out = new Array[Array[(Long, Double)]](read.partitions.length)
    read.sparkContext.runJob(read, new ScoreTask(q), out.indices,
      (i: Int, hits: Array[(Long, Double)]) => out(i) = hits)
    val top = new BoundedHitHeap(q.k)
    out.foreach(_.foreach { case (d, s) => top.offer(d, s) })
    top.result()
  }

  private[search] def scorePartition(q: KernelQuery, parts: Iterator[ResidentPart],
                                     tombs: Map[Long, TombSet]): Iterator[(Long, Double)] = {
    val keys = q.stats.keys.toArray
    val rows = mutable.ArrayBuffer.empty[ShardRow]
    parts.foreach(p => keys.foreach { case (f, t) => rows ++= p.rows(f, t) })
    val heap = new BoundedHitHeap(q.k)
    rows.groupBy(_._4).toArray.sortBy(_._1).foreach { case (shard, group) =>
      score(q, group, tombs.getOrElse(shard, TombSet.Empty), heap)
    }
    heap.result().iterator
  }
}

/** The distributed read's task function: scores one [[ResidentRead]]
  * partition against the partition's resident tombstones. A named class,
  * not a lambda, so that Spark's closure cleaner skips it. */
private[search] final class ScoreTask(q: KernelQuery)
    extends ((TaskContext, Iterator[ResidentRead.Part]) => Array[(Long, Double)]) with Serializable {
  def apply(ctx: TaskContext, it: Iterator[ResidentRead.Part]): Array[(Long, Double)] =
    it.flatMap { case (parts, tombs) => ScoringKernel.scorePartition(q, parts.iterator, tombs) }.toArray
}

/** The one RDD a distributed read runs: partition i holds partition i of
  * every segment's resident postings and, if given, of the resident
  * tombstones, all under one partitioner. Its dependencies are one-to-one,
  * so the read is one stage with no shuffle. It names no preferred
  * locations: the scheduler takes them from its parents, cached blocks
  * first. */
private[search] final class ResidentRead(segs: Seq[RDD[ResidentPart]],
                                         tombs: Option[RDD[Map[Long, TombSet]]])
    extends RDD[ResidentRead.Part](segs.head.sparkContext,
      segs.map(new OneToOneDependency(_)) ++ tombs.map(new OneToOneDependency(_))) {

  override val partitioner: Option[Partitioner] = segs.head.partitioner

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](segs.head.partitions.length) { i =>
      new ReadPartition(i, segs.map(_.partitions(i)), tombs.map(_.partitions(i)))
    }

  override def compute(split: Partition, ctx: TaskContext): Iterator[ResidentRead.Part] = {
    val p = split.asInstanceOf[ReadPartition]
    val parts = segs.zip(p.segs).flatMap { case (r, s) => r.iterator(s, ctx) }
    val tomb = tombs.zip(p.tombs).flatMap { case (r, t) => r.iterator(t, ctx).nextOption() }
    Iterator(parts -> tomb.getOrElse(Map.empty))
  }
}

private[search] object ResidentRead {
  /** One partition's resident parts, one per segment, and its tombstones. */
  type Part = (Seq[ResidentPart], Map[Long, TombSet])
}

/** Partition `index` of a [[ResidentRead]] and its parents' partitions. */
private final class ReadPartition(val index: Int, val segs: Seq[Partition],
                                  val tombs: Option[Partition]) extends Partition

/** One hash partition of one segment's postings, resident on an executor,
  * in columns: each (field, term) key once, keys sorted, each key's shard
  * rows contiguous. Field strings are held once per partition and terms
  * once per key; a row costs its shard id and two byte-array references. */
private[search] final class ResidentPart private (seg: Int, fields: Array[String],
                                                  terms: Array[String], starts: Array[Int],
                                                  shards: Array[Long], blocks: Array[Array[Byte]],
                                                  blobs: Array[Array[Byte]]) extends Serializable {

  /** The shard rows of (f, t) in this partition, by binary search. */
  def rows(f: String, t: String): Iterator[ScoringKernel.ShardRow] = {
    var lo = 0
    var hi = terms.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = fields(mid).compareTo(f) match { case 0 => terms(mid).compareTo(t); case c => c }
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return (starts(mid) until starts(mid + 1)).iterator
        .map(i => (fields(mid), terms(mid), seg, shards(i), blocks(i), blobs(i)))
    }
    Iterator.empty
  }
}

private[search] object ResidentPart {
  private type Row = (String, String, Long, Array[Byte], Array[Byte])

  /** (field, term, shard) order, without a key tuple per comparison. */
  private val byKey: Ordering[Row] = (a: Row, b: Row) => a._1.compareTo(b._1) match {
    case 0 => a._2.compareTo(b._2) match { case 0 => java.lang.Long.compare(a._3, b._3); case c => c }
    case c => c
  }

  /** Columns of `seg`'s posting rows `(field, term, shard, blocks, blob)`. */
  def apply(seg: Int, it: Iterator[Row]): ResidentPart = {
    val rows = it.toArray
    rows.sortInPlace()(byKey)
    val field = mutable.HashMap.empty[String, String]
    val fields = mutable.ArrayBuilder.make[String]
    val terms = mutable.ArrayBuilder.make[String]
    val starts = mutable.ArrayBuilder.make[Int]
    for (i <- rows.indices if i == 0 || rows(i)._1 != rows(i - 1)._1 || rows(i)._2 != rows(i - 1)._2) {
      fields += field.getOrElseUpdate(rows(i)._1, rows(i)._1)
      terms += rows(i)._2
      starts += i
    }
    starts += rows.length
    new ResidentPart(seg, fields.result(), terms.result(), starts.result(),
      rows.map(_._3), rows.map(_._4), rows.map(_._5))
  }
}
