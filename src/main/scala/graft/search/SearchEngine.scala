package graft.search

import graft.analysis.Analyzer
import graft.core._
import graft.index.IndexStore
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Query modes. The reference's multi-term search is disjunctive
  * accumulation (OR, indexing.go:385-493); AND is the intersection variant
  * the north rule's WAND path assumes; Wand is AND/OR-equivalent top-k with
  * block-max pruning. */
/** Driver-side per-(field, term) query statistics. */
final case class TermStat(field: String, term: String, df: Long,
                          idf: Double, avgdl: Double)

sealed trait SearchMode
object SearchMode {
  case object Or extends SearchMode
  case object And extends SearchMode
  case object Wand extends SearchMode // OR semantics + block-max pruning
}

/** BM25 top-k search over an [[IndexStore]] (SURVEY.md §A.4 pinned scorer).
  *
  * Every query scores through the one [[ScoringKernel]]: per docId-range
  * shard group, `(group rows, term stats, mode, the shard's [[TombSet]]) →
  * bounded heap`, summing each doc in (field, term, seg) order —
  * bit-identical to [[OracleScorer]]. Where the kernel runs is one size
  * gate, `max(Σ df, tombstone rows) · 8 ≤ driverWandMaxBytes`:
  *
  *  - Driver path, when it holds: shard rows come from the driver LRU (one
  *    pruned scan on a miss, no Spark job when warm), and the groups score
  *    concurrently on [[DriverPool]] against a shared θ floor, each against
  *    its shard's deletes, collected once per version.
  *  - Distributed path, otherwise: each segment's postings are held
  *    resident on the executors, hash-partitioned by shard under
  *    `spark.sql.shuffle.partitions` partitions and built once, by the first
  *    distributed read that needs the segment; a version's tombstones are
  *    held beside them under the same partitioner. A read is ONE
  *    job of ONE stage, one task per partition, with no parquet scan and no
  *    shuffle: one RDD with one-to-one dependencies on the resident RDDs hands
  *    each task its partitions, a named task function (no closure for Spark
  *    to clean) streams its shard groups through the kernel into one heap,
  *    and the driver merges the ≤ k × partitions survivors
  *    ([[ScoringKernel.distributedTopK]]).
  *
  * Either way `search` returns a local frame of ≤ k rows, already
  * analyzed: the work is done by the time it returns. Its row actions
  * (`collect`, `collectAsList`, `toLocalIterator`, `head`/`take`/`first`/
  * `takeAsList`, `tail`, `count`, `isEmpty`) return the rows held on the
  * driver: no job, no SQL execution, no `QueryExecutionListener` event.
  * Transformations over it run through Spark as usual. Each public entry
  * point polls the store's version token once; a read then runs on one
  * [[Version]]: the stats, tombstones, plans, resident handles and caches of
  * that store version, loaded when a poll first saw its token.
  */
class SearchEngine(val store: IndexStore) {
  import store.spark.implicits._

  private def spark: SparkSession = store.spark
  private def bm25: Bm25Params = store.cfg.bm25

  /** Decoded posting rows for the given shard subset — via the native
    * Catalyst generator [[graft.functions.PostingExplode]]: the blob is
    * consumed straight from the UnsafeRow inside GenerateExec, with no typed
    * encoder round-trip. */
  def decode(shards: DataFrame): DataFrame =
    shards.select($"field", $"term", $"seg",
      graft.functions.GraftFunctions.posting_explode($"blob"))

  /** Expands a `beginsWith` prefix to concrete index terms via a range scan
    * on the term-sorted df table — the analogue of the reference's radix
    * `WalkPrefix` with its 100-subtree cap (indexing.go:773-785). */
  def expandPrefix(prefix: String, fields: Seq[String], cap: Int = 100): Seq[(String, String)] =
    prefixTerms(poll(), prefix, fields, cap)

  private def prefixTerms(v: Version, prefix: String, fields: Seq[String],
                          cap: Int = 100): Seq[(String, String)] = {
    // an empty prefix would "match" cap arbitrary terms — reject loudly
    // (search() never passes one; tokenization drops empty terms)
    require(prefix.nonEmpty, "prefix must be non-empty")
    cachedExpansion(v, "p", prefix, fields, cap) {
      val lo = prefix.toLowerCase
      // Range pruning needs a successor string upper-bounding every
      // lo-prefixed term in UTF-8 (code point) order. Incrementing the
      // final UTF-16 unit is only order-preserving while it stays strictly
      // below the surrogate range; prefixes ending at U+D7FF or above
      // (incl. astral prefixes, whose last unit is a low surrogate, and
      // U+FFFF-adjacent chars) fall back to an unpruned startswith scan —
      // correct, just not min/max-pruned, and vanishingly rare.
      val pred =
        if (lo.nonEmpty && lo.last < 0xD7FF.toChar) {
          val hi = lo.init + (lo.last + 1).toChar
          $"term" >= lo && $"term" < hi
        } else $"term".startsWith(lo)
      v.termDf
        .filter($"field".isInCollection(fields) && pred)
        .select($"field", $"term").orderBy($"term", $"field").limit(cap)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    }
  }

  /** Fuzzy term expansion (reference FuzzySearch, indexing.go:689-709):
    * walk the dictionary subtree of the query's first character and keep
    * terms containing every character of the query. As a term-dictionary
    * range scan + character-containment filter, it needs no extra index.
    * Capped at `cap` terms in deterministic (term, field) order — the same
    * bound the prefix walk applies — so a one-letter fuzzy query against a
    * corpus-scale dictionary never collects an unbounded term list to the
    * driver. */
  def expandFuzzy(key: String, fields: Seq[String], cap: Int = 100): Seq[(String, String)] =
    fuzzyTerms(poll(), key, fields, cap)

  private def fuzzyTerms(v: Version, key: String, fields: Seq[String],
                         cap: Int = 100): Seq[(String, String)] = {
    val k = key.toLowerCase
    if (k.isEmpty) return Seq.empty
    cachedExpansion(v, "f", k, fields, cap) {
      // by code point: a supplementary first character is two UTF-16 units,
      // and a lone surrogate half becomes '?' in UTF-8
      val first = k.codePointAt(0)
      val lo = new String(Character.toChars(first))
      // the successor bounds every lo-led term in UTF-8 (code point) order;
      // where there is none (a surrogate, or past U+10FFFF), startswith
      val next = first + 1
      val range =
        if (next <= Character.MAX_CODE_POINT && (next < 0xD800 || next > 0xDFFF))
          $"term" >= lo && $"term" < new String(Character.toChars(next))
        else $"term".startsWith(lo)
      val containsAll = k.codePoints().distinct().toArray
        .map(c => $"term".contains(new String(Character.toChars(c)))).reduce(_ && _)
      v.termDf
        .filter($"field".isInCollection(fields) && range)
        .filter(containsAll)
        .select($"field", $"term")
        .orderBy($"term", $"field").limit(cap)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    }
  }

  /** A prefix/fuzzy expansion from the version's LRU — warm expanding
    * queries need no dictionary-scan job. */
  private def cachedExpansion(v: Version, kind: String, key: String, fields: Seq[String], cap: Int)(
      compute: => Seq[(String, String)]): Seq[(String, String)] =
    v.expansions.getAll(Seq((kind, key, fields, cap)))(_ => Seq(compute)).head

  /** Fuzzy search: expand each query token with [[expandFuzzy]], then score
    * the matched terms with the standard BM25 accumulation. Returns the
    * top-k as a frame of driver rows, as [[search]] does. */
  def searchFuzzy(query: String, fields: Seq[String] = CorpusDoc.Fields,
                  k: Int = 100): DataFrame = {
    val v = poll()
    val qTerms = Analyzer.tokenize(query).distinct.sorted.toSeq
    topK(v, qTerms, qTerms.flatMap(t => fuzzyTerms(v, t, fields).map { case (f, mt) => (f, mt, t) }),
      k, SearchMode.Or)
  }

  /** Full search entry point mirroring the reference API
    * (`POST /index/search` body {Query, Fields, BeginsWith},
    * indexRoutes.go:13-17): analyze the query with the same analyzer as the
    * index (indexing.go:384), match terms exactly or by prefix, score with
    * pinned BM25, return top-k (doc_id, score). The frame's row actions
    * (`collect`, `head`, `take`, `count`, ...) are answered from the hits
    * on the driver and post no SQL execution or `QueryExecutionListener`
    * event; transformations and joins over it run through Spark. */
  def search(query: String, fields: Seq[String] = CorpusDoc.Fields,
             beginsWith: Boolean = false, k: Int = 100,
             mode: SearchMode = SearchMode.Or,
             boosts: Map[String, Double] = Map.empty): DataFrame = {
    val qTerms = Analyzer.tokenize(query).distinct.sorted.toSeq
    // a negative boost would flip idf's sign and invert WAND's upper bounds
    // into lower bounds, silently breaking pruning
    require(boosts.values.forall(_ >= 0.0), s"boosts must be >= 0: $boosts")
    val v = poll()
    // each matched (field, term) pair keeps the query term it expands from,
    // so AND stays "every query term has ≥ 1 matched expansion" under
    // prefix expansion
    val matched: Seq[(String, String, String)] =
      if (beginsWith)
        qTerms.flatMap(t => prefixTerms(v, t, fields).map { case (f, mt) => (f, mt, t) })
      else fields.flatMap(f => qTerms.map(t => (f, t, t)))
    topK(v, qTerms, matched, k, mode, boosts)
  }

  /** Top-k hits hydrated with the stored documents (reference loads the ≤100
    * hit docs from disk, indexing.go:534-537); broadcast join on ≤k ids. */
  def searchDocs(query: String, fields: Seq[String] = CorpusDoc.Fields,
                 beginsWith: Boolean = false, k: Int = 100,
                 mode: SearchMode = SearchMode.Or,
                 boosts: Map[String, Double] = Map.empty): DataFrame = {
    val hits = search(query, fields, beginsWith, k, mode, boosts)
    store.liveCorpus().join(broadcast(hits), Seq("doc_id"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  // ---------- store versions ----------
  // The reference answers every query from one in-RAM index
  // (indexing.go:379-540). Here each store version is loaded once, when a
  // poll first sees its token, into one immutable Version that the read
  // carries: fieldStats, tombstones and the table plans are read from the
  // store once per version instead of on every query (3-4 driver-side jobs
  // and file listings), and the version's caches hold its shard rows, dfs
  // and expansions. Nothing a read uses can come from another version.
  //
  // Each committed segment's postings live on the executors, hash-
  // partitioned by shard under ONE partitioner — the distributed analogue of
  // the reference's all-in-RAM index (indexing.go:130-139). A segment's RDD
  // is built by the first distributed read that needs it and kept across
  // versions for as long as the manifest lists the segment; the tombstones
  // are per version. An engine that is dropped leaves its RDDs to Spark's
  // ContextCleaner, as does a build that finishes after its version was
  // replaced.

  private val partitioner =
    new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
  /** (segment id, postings marker mtime) — id alone is reused by compact(). */
  private type SegKey = (Int, Long)
  /** Guarded by this engine's monitor, as is the swap of `current`. */
  private val residentC = scala.collection.mutable.HashMap.empty[SegKey, Resident[RDD[ResidentPart]]]
  @volatile private var current: Version = _

  /** The version a read runs on: the current one while the store's token
    * is unchanged, else the store as it is now, loaded once. */
  private def poll(): Version = {
    val token = store.versionToken()
    val v = current
    if (v != null && v.token == token) v
    else synchronized {
      if (current == null || current.token != token) {
        val old = current
        current = load(token)
        if (old != null) old.residentTombs.drop()
      }
      current
    }
  }

  /** The driver gate, on a read's Σ df or a version's tombstone rows:
    * ~8 bytes per posting or deleted id bounds what a driver read holds. */
  private def fitsDriver(rows: Long): Boolean = rows * 8 <= store.cfg.driverWandMaxBytes

  private def load(token: String): Version = {
    val cfg = store.cfg
    // tombstones must be keyed by the span the postings were built with
    val span = store.persistedLayout().fold(cfg.shardSpan)(_._1)
    // rows from parquet footers, no job; the driver collects them only if
    // driver reads are allowed at all (a bulk delete of 10^9 ids must not
    // OOM the driver), else every read runs distributed
    val tombRows = store.tombstoneCount()
    val driverTombs =
      if (!fitsDriver(tombRows)) Map.empty[Long, TombSet]
      else TombSet.byShard(store.tombstonesDF().select("doc_id", "max_seg").collect()
        .map(r => r.getLong(0) -> r.getInt(1)), span)
    val keys = store.postingsStamps()
    residentC.keySet.diff(keys.toSet).foreach(k => residentC.remove(k).foreach(_.drop()))
    val segs = keys.map { case key @ (id, _) =>
      residentC.getOrElseUpdate(key, new Resident(
        () => ScoringKernel.residentPostings(store.segmentPostings(id), id, partitioner,
          s"resident postings seg-$id of ${store.baseDir}"),
        (rdd: RDD[ResidentPart]) => { rdd.unpersist(blocking = false); () }))
    }
    val residentTombs = new Resident[Option[RDD[Map[Long, TombSet]]]](
      () => Option.when(tombRows > 0)(ScoringKernel.residentTombstones(store.tombstonesDF(), span,
        partitioner, s"resident tombstones of ${store.baseDir}")),
      _.foreach(_.unpersist(blocking = false)))
    new Version(token, store.fieldStats(), tombRows, driverTombs, store.postings(), store.termDf(), segs,
      residentTombs, cfg.driverBlobCacheBytes)
  }

  // ---------- scoring ----------

  /** idf + avgdl + df statistics for the matched (field, term) pairs,
    * computed on the driver (≤ |fields|·|terms| rows).
    *
    * Per-field boosts scale idf here, at the single source of scoring
    * statistics: every downstream use (exhaustive accumulation, WAND
    * global/block upper bounds and contributions) is linear in idf, so one
    * multiplication boosts them all consistently — WAND pruning stays safe
    * because bounds scale with contributions. */
  private[search] def termStats(matched: Seq[(String, String)],
                                boosts: Map[String, Double] = Map.empty): Seq[TermStat] =
    statsFor(poll(), matched, boosts)

  private def statsFor(v: Version, matched0: Seq[(String, String)],
                       boosts: Map[String, Double]): Seq[TermStat] = {
    val matched = matched0.distinct // one stat row per pair, always
    matched.zip(fetchDfs(v, matched)).flatMap { case ((f, t), df) =>
      v.fieldStats.get(f).collect { case (n, sumDl) if n > 0 && df > 0 =>
        val boost = boosts.getOrElse(f, 1.0)
        val idf = boost * math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        val avgdl = sumDl.toDouble / n
        TermStat(f, t, df, idf, avgdl)
      }
    }
  }

  /** Per-(field, term) dfs, from the version's LRU. Misses fetch in one
    * pruned scan; absent pairs are cached as 0 so repeated misses cost
    * nothing. A warm repeat query thus needs no Spark job for its
    * statistics. */
  private def fetchDfs(v: Version, matched: Seq[(String, String)]): Seq[Long] =
    v.dfs.getAll(matched) { misses =>
      val fetched = v.termDf
        .filter($"field".isInCollection(misses.map(_._1).distinct) &&
          $"term".isInCollection(misses.map(_._2).distinct))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      misses.map(fetched.getOrElse(_, 0L))
    }

  /** The postings bounded by two parquet-pushable IN filters, on the
    * fields and on the terms of `matched`: exact for a field × term cross
    * product (every non-prefix query), a superset for prefix expansions. */
  private def bounded(v: Version, matched: Seq[(String, String)]): DataFrame =
    v.postings.filter($"field".isInCollection(matched.map(_._1).distinct) &&
      $"term".isInCollection(matched.map(_._2).distinct))

  /** The scan the driver kernel reads on an LRU miss: the bounded
    * postings as [[ScoringKernel.ShardRow]] columns. */
  private[graft] def shardScan(matched: Seq[(String, String)]): DataFrame = rowScan(poll(), matched)

  private def rowScan(v: Version, matched: Seq[(String, String)]): DataFrame =
    bounded(v, matched).select($"field", $"term", $"seg", $"shard", $"blocks", $"blob")

  /** Selects only the shards of the matched terms — equality pushdown on the
    * (field, term)-sorted postings table. */
  def matchedShards(matched0: Seq[(String, String)]): DataFrame = {
    val v = poll()
    val matched = matched0.distinct // duplicates would fool the cross-product check
    val cross = matched.map(_._1).distinct.size.toLong * matched.map(_._2).distinct.size
    // prefix expansions, whose terms differ per field, need the exact pairs
    if (matched.size.toLong == cross) bounded(v, matched)
    else bounded(v, matched).join(broadcast(matched.toDF("field", "term")), Seq("field", "term"), "left_semi")
  }

  /** Scores `matched` — (field, index term, query term it expands from) —
    * through the kernel on version `v` and returns the top-k as a local
    * frame. */
  private def topK(v: Version, qTerms: Seq[String], matched: Seq[(String, String, String)], k: Int,
                   mode: SearchMode, boosts: Map[String, Double] = Map.empty): DataFrame = {
    val pairs = matched.map { case (f, t, _) => (f, t) }.distinct
    val stats = if (pairs.isEmpty || k <= 0) Nil else statsFor(v, pairs, boosts)
    val hits =
      if (stats.isEmpty) Nil
      else {
        val words = KernelQuery.maskWords(mode, qTerms.size)
        val qIdx = qTerms.zipWithIndex.toMap
        val masks = matched.groupBy { case (f, t, _) => (f, t) }.map { case (pair, src) =>
          val m = new Array[Long](words)
          if (words > 0) src.foreach { case (_, _, q) => val i = qIdx(q); m(i >> 6) |= 1L << (i & 63) }
          pair -> m
        }
        val q = KernelQuery(stats.map(s =>
          (s.field, s.term) -> PairStat(s.idf, s.avgdl, masks((s.field, s.term)))).toMap,
          mode, qTerms.size, k, bm25)
        if (fitsDriver(math.max(stats.map(_.df).sum, v.tombRows))) driverTopK(v, q, pairs)
        else ScoringKernel.distributedTopK(v.segs.map(_.get), v.residentTombs.get, q)
      }
    // rows under a fixed schema, in a relation marked analyzed: no encoder
    // to generate code for and nothing for the analyzer to do on every read
    GraftColumnBridge.localFrame(spark, SearchEngine.HitSchema, hits)
  }

  /** The kernel on the driver: the pairs' shard rows (the version's LRU, or
    * one pruned scan of its postings for the misses) grouped by shard, the
    * groups scored concurrently on the pool, each against its shard's
    * deletes. Rows this read scanned are scored even when the LRU keeps
    * none of them. */
  private def driverTopK(v: Version, q: KernelQuery, pairs: Seq[(String, String)]): Seq[(Long, Double)] = {
    val rows = v.rows.getAll(pairs) { misses =>
      val got = rowScan(v, misses).as[ShardRow].collect().groupBy(r => (r._1, r._2))
      misses.map(got.getOrElse(_, Array.empty[ShardRow]))
    }
    val groups = rows.iterator.flatMap(_.iterator).toArray.groupBy(_._4).toArray.sortBy(_._1)
    // only WAND prunes against θ; exhaustive heaps need no shared floor
    val shared = if (q.mode == SearchMode.Wand) new SharedTheta else null
    val heaps = DriverPool.run(groups.length, spark.sparkContext.defaultParallelism) { g =>
      val (shard, group) = groups(g)
      val h = new BoundedHitHeap(q.k, shared)
      ScoringKernel.score(q, group, v.driverTombs.getOrElse(shard, TombSet.Empty), h)
      h
    }
    val top = new BoundedHitHeap(q.k)
    heaps.foreach(_.result().foreach { case (d, s) => top.offer(d, s) })
    top.result()
  }

  private type ShardRow = ScoringKernel.ShardRow

  /** One store version as a read sees it, never changed once loaded: the
    * live field stats, the tombstone row count and, when the driver gate
    * admits it, the tombstones per shard, the postings and df plans, the
    * segments' resident postings and this version's resident tombstones
    * (none without deletes), and three
    * LRUs over them — expansions (≤ cap pairs each, by count), dfs (by
    * count) and the driver path's shard rows per (field, term), by bytes
    * up to `driverBlobCacheBytes`. Only lists small enough for the driver
    * path reach the row LRU, so a repeat query over cached terms runs ZERO
    * Spark jobs. */
  private final class Version(val token: String, val fieldStats: Map[String, (Long, Long)],
                              val tombRows: Long, val driverTombs: Map[Long, TombSet],
                              val postings: DataFrame, val termDf: DataFrame,
                              val segs: Seq[Resident[RDD[ResidentPart]]],
                              val residentTombs: Resident[Option[RDD[Map[Long, TombSet]]]],
                              rowBudget: Long) {
    val expansions = new Lru[(String, String, Seq[String], Int), Seq[(String, String)]](4096, _ => 1L)
    val dfs = new Lru[(String, String), Long](1L << 17, _ => 1L)
    val rows = new Lru[(String, String), Array[ShardRow]](rowBudget, rs =>
      64L + rs.iterator.map(r => (if (r._5 == null) 0L else r._5.length.toLong) + r._6.length + 64).sum)
  }
}

private object SearchEngine {
  val HitSchema: StructType = Encoders.product[Hit].schema
}

/** A value built on first use, once however many threads ask together, and
  * released by `drop` if it was built. */
private final class Resident[T](build: () => T, release: T => Unit) {
  @volatile private var value: Option[T] = None
  def get: T = value.getOrElse(synchronized {
    if (value.isEmpty) value = Some(build())
    value.get
  })
  def drop(): Unit = value.foreach(release)
}

/** A least-recently-used map whose entries' total `weight` (each > 0)
  * stays within `budget`; a budget of 0 keeps nothing. */
private[graft] final class Lru[K, V](budget: Long, weight: V => Long) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private var used = 0L

  /** The values of the distinct `keys`, in order: cached ones, and the rest
    * from ONE call of `fill` on exactly the misses (outside the lock, so a
    * slow fill holds up no other caller), which returns them in order and
    * are then cached as far as the budget allows. */
  def getAll(keys: Seq[K])(fill: Seq[K] => Seq[V]): Seq[V] = {
    val cached = synchronized(keys.map(k => Option(map.get(k))))
    val misses = keys.zip(cached).collect { case (k, None) => k }
    if (misses.isEmpty) return cached.map(_.get)
    val filled = fill(misses)
    synchronized(misses.zip(filled).foreach { case (k, v) => put(k, v) })
    val it = filled.iterator
    cached.map(_.getOrElse(it.next()))
  }

  private def put(k: K, v: V): Unit = {
    val old = map.put(k, v)
    used += weight(v) - Option(old).fold(0L)(weight)
    val it = map.values.iterator
    while (used > budget && it.hasNext) { used -= weight(it.next()); it.remove() }
  }
}
