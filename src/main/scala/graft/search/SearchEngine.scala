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
  * shard group, `(group rows, term stats, mode, tombstones) → bounded
  * heap`, summing each doc in (field, term, seg) order — bit-identical to
  * [[OracleScorer]]. Where the kernel runs is a size gate:
  *
  *  - Driver path (Σ df · 8 ≤ `driverWandMaxBytes` and the tombstones fit
  *    the driver map): shard rows come from the driver LRU (one pruned scan
  *    on a miss, no Spark job when warm), and the groups score concurrently
  *    on [[DriverPool]] against a shared θ floor.
  *  - Distributed path, otherwise: each segment's postings are held
  *    resident on the executors, hash-partitioned by shard under
  *    `spark.sql.shuffle.partitions` partitions and built once, by the first
  *    distributed read that needs the segment; tombstones past the driver
  *    bound are held beside them under the same partitioner. A read is ONE
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
  * point polls the store's version token once; a read then runs on the
  * caches of that version.
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
  def expandPrefix(prefix: String, fields: Seq[String], cap: Int = 100): Seq[(String, String)] = {
    refreshIfStale()
    prefixTerms(prefix, fields, cap)
  }

  private def prefixTerms(prefix: String, fields: Seq[String], cap: Int = 100): Seq[(String, String)] = {
    // an empty prefix would "match" cap arbitrary terms — reject loudly
    // (search() never passes one; tokenization drops empty terms)
    require(prefix.nonEmpty, "prefix must be non-empty")
    cachedExpansion("p", prefix, fields, cap) { termDf =>
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
      termDf
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
  def expandFuzzy(key: String, fields: Seq[String], cap: Int = 100): Seq[(String, String)] = {
    refreshIfStale()
    fuzzyTerms(key, fields, cap)
  }

  private def fuzzyTerms(key: String, fields: Seq[String], cap: Int = 100): Seq[(String, String)] = {
    val k = key.toLowerCase
    if (k.isEmpty) return Seq.empty
    cachedExpansion("f", k, fields, cap) { termDf =>
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
      termDf
        .filter($"field".isInCollection(fields) && range)
        .filter(containsAll)
        .select($"field", $"term")
        .orderBy($"term", $"field").limit(cap)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    }
  }

  /** Version-invalidated LRU for prefix/fuzzy expansions (≤ cap pairs per
    * entry) — warm expanding queries need no dictionary-scan job. */
  private val expandCache =
    new java.util.LinkedHashMap[(String, String, Seq[String], Int), Seq[(String, String)]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Seq[String], Int), Seq[(String, String)]]): Boolean =
        size() > 4096
    }

  private def cachedExpansion(kind: String, key: String, fields: Seq[String], cap: Int)(
      compute: DataFrame => Seq[(String, String)]): Seq[(String, String)] = {
    val ck = (kind, key, fields, cap)
    val (tok, termDf, cached) = synchronized { (cacheToken, termDfC, expandCache.get(ck)) }
    if (cached != null) cached
    else {
      val v = compute(termDf) // dictionary scan outside the monitor
      synchronized {
        if (cacheToken == tok && expandCache.get(ck) == null) expandCache.put(ck, v)
      }
      v
    }
  }

  /** Fuzzy search: expand each query token with [[expandFuzzy]], then score
    * the matched terms with the standard BM25 accumulation. Returns the
    * top-k as a frame of driver rows, as [[search]] does. */
  def searchFuzzy(query: String, fields: Seq[String] = CorpusDoc.Fields,
                  k: Int = 100): DataFrame = {
    refreshIfStale()
    val qTerms = Analyzer.tokenize(query).distinct.sorted.toSeq
    topK(qTerms, qTerms.flatMap(t => fuzzyTerms(t, fields).map { case (f, mt) => (f, mt, t) }),
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
    refreshIfStale()
    // each matched (field, term) pair keeps the query term it expands from,
    // so AND stays "every query term has ≥ 1 matched expansion" under
    // prefix expansion
    val matched: Seq[(String, String, String)] =
      if (beginsWith)
        qTerms.flatMap(t => prefixTerms(t, fields).map { case (f, mt) => (f, mt, t) })
      else fields.flatMap(f => qTerms.map(t => (f, t, t)))
    topK(qTerms, matched, k, mode, boosts)
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

  // ---------- per-store-version caches ----------
  // fieldStats / tombstones / the unioned table plans are re-read only when
  // the store's version token changes (any segment commit or tombstone).
  // This removes 3-4 driver-side jobs + file listings from EVERY query —
  // the reference pays none of these because its index lives in RAM.
  // Each public entry point polls the token once; the private helpers a
  // read runs use the caches as that poll left them.

  private var cacheToken: String = null
  private var fieldStatsC: Map[String, (Long, Long)] = Map.empty
  private var tombstoneC: Map[Long, Int] = Map.empty
  private var tombSmallC: Boolean = true
  private var shardSpanC: Long = store.cfg.shardSpan
  private var postingsC: DataFrame = _
  private var termDfC: DataFrame = _

  private def refreshIfStale(): Unit = synchronized {
    val t = store.versionToken()
    if (t != cacheToken) {
      fieldStatsC = store.fieldStats()
      // size-guard the driver tombstone map: past the configured bound the
      // map is never collected — the distributed read holds the tombstones
      // resident beside the postings instead (a bulk delete of 10^9 ids
      // must not OOM the driver)
      tombSmallC = store.tombstoneCount() <= store.cfg.maxDriverTombstones
      tombstoneC = if (tombSmallC) store.tombstoneMap() else Map.empty
      // tombstones must be keyed by the span the postings were built with
      shardSpanC = store.persistedLayout().fold(store.cfg.shardSpan)(_._1)
      postingsC = store.postings()
      termDfC = store.termDf()
      blobCache.clear()
      blobCacheSize = 0L
      dfCache.clear()
      expandCache.clear()
      refreshResident()
      cacheToken = t
    }
  }

  // ---------- executor-resident postings (distributed path) ----------
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
  private val residentC = scala.collection.mutable.HashMap.empty[SegKey, Resident[RDD[ResidentPart]]]
  private var segKeysC: Seq[SegKey] = Nil
  private var tombsC: Resident[ScoringKernel.Tombs] = _

  private def refreshResident(): Unit = {
    segKeysC = store.postingsStamps()
    residentC.keySet.diff(segKeysC.toSet).foreach(k => residentC.remove(k).foreach(_.drop()))
    segKeysC.foreach { case key @ (id, _) =>
      residentC.getOrElseUpdate(key, new Resident(
        () => ScoringKernel.residentPostings(store.segmentPostings(id), id, partitioner,
          s"resident postings seg-$id of ${store.baseDir}"),
        (rdd: RDD[ResidentPart]) => { rdd.unpersist(blocking = false); () }))
    }
    if (tombsC != null) tombsC.drop()
    val (small, tomb, span) = (tombSmallC, tombstoneC, shardSpanC)
    tombsC = new Resident(
      () =>
        if (!small) (None, Some(ScoringKernel.residentTombstones(store.tombstonesDF(), span,
          partitioner, s"resident tombstones of ${store.baseDir}")))
        else if (tomb.isEmpty) (None, None)
        else (Some(spark.sparkContext.broadcast[ScoringKernel.TombMap](tomb)), None),
      { case (b, r) => b.foreach(_.unpersist()); r.foreach(_.unpersist(blocking = false)) })
  }

  // ---------- driver posting-blob cache ----------
  // Bounded LRU of collected shard rows per (field, term) — the driver fast
  // paths' analogue of the reference's all-in-RAM radix tree (its postings
  // are always resident, indexing.go:130-139). Only lists small enough for
  // the fast paths ever reach here; a repeat query over cached terms runs
  // ZERO Spark jobs. Invalidated wholesale when the store version changes.

  private type ShardRow = ScoringKernel.ShardRow
  private val blobCache =
    new java.util.LinkedHashMap[(String, String), Array[ShardRow]](64, 0.75f, true)
  private var blobCacheSize = 0L
  private def rowBytes(r: ShardRow): Long =
    (if (r._5 == null) 0 else r._5.length).toLong + r._6.length + 64

  /** The pairs' shard rows plus, for prefix expansions, rows of other
    * pairs inside the same field × term bounds; callers pick by key. */
  private def collectRows(pairs: Seq[(String, String)]): Array[ShardRow] =
    rowScan(pairs).as[ShardRow].collect()

  /** Shard rows for the matched pairs, served from the LRU where possible.
    * Rows fetched by this call are returned even if eviction (or a version
    * change) keeps them out of the cache — a query never loses its own
    * data. The Spark collect for misses runs OUTSIDE the engine monitor so
    * one cold query cannot serialize every other query on this engine;
    * inserts re-check the version token (never poison a newer cache).
    *
    * Version consistency: cache hits are captured under one version token
    * and the miss collect runs unlocked, so a concurrent CRUD (notably a
    * compact() that renumbers segments) landing in between would hand one
    * query rows from TWO store versions. If the token moved while misses
    * were fetched, the whole fetch (hits + misses) is retried once from the
    * new version; a second concurrent bump is accepted (bounded retry —
    * CRUD is rare relative to queries, and the tombstone filter still
    * guards deletes either way). */
  private[search] def fetchShardRows(matched0: Seq[(String, String)]): Array[ShardRow] = {
    // dedupe: a duplicated pair would double-score its term
    val matched = matched0.distinct
    if (store.cfg.driverBlobCacheBytes <= 0) return collectRows(matched)
    def attempt(retriesLeft: Int): Array[ShardRow] = {
      val (tok, hits, missKeys) = synchronized {
        val h = Map.newBuilder[(String, String), Array[ShardRow]]
        val m = Seq.newBuilder[(String, String)]
        matched.foreach { key =>
          val c = blobCache.get(key)
          if (c != null) h += key -> c else m += key
        }
        (cacheToken, h.result(), m.result())
      }
      val fetched: Map[(String, String), Array[ShardRow]] =
        if (missKeys.isEmpty) Map.empty
        else collectRows(missKeys).groupBy(r => (r._1, r._2))
      if (missKeys.nonEmpty) synchronized {
        if (cacheToken == tok) {
          missKeys.foreach { key =>
            if (blobCache.get(key) == null) { // racing filler may have won
              val rows = fetched.getOrElse(key, Array.empty[ShardRow])
              blobCache.put(key, rows)
              blobCacheSize += rows.iterator.map(rowBytes).sum
            }
          }
          val it = blobCache.entrySet().iterator()
          while (blobCacheSize > store.cfg.driverBlobCacheBytes && it.hasNext) {
            val e = it.next()
            blobCacheSize -= e.getValue.iterator.map(rowBytes).sum
            it.remove()
          }
        }
      }
      val mixedVersions = missKeys.nonEmpty && hits.nonEmpty && {
        refreshIfStale()
        synchronized { cacheToken != tok }
      }
      if (mixedVersions && retriesLeft > 0) attempt(retriesLeft - 1)
      else matched.iterator.flatMap(k =>
        hits.getOrElse(k, fetched.getOrElse(k, Array.empty[ShardRow]))).toArray
    }
    attempt(1)
  }

  /** Whether the tombstone set fits the driver-map bound; when false, every
    * query runs distributed, against tombstones held beside the postings. */
  def tombstonesSmall: Boolean = { refreshIfStale(); tombSmallC }

  // ---------- scoring ----------

  /** idf + avgdl + df statistics for the matched (field, term) pairs,
    * computed on the driver (≤ |fields|·|terms| rows).
    *
    * Per-field boosts scale idf here, at the single source of scoring
    * statistics: every downstream use (exhaustive accumulation, WAND
    * global/block upper bounds and contributions) is linear in idf, so one
    * multiplication boosts them all consistently — WAND pruning stays safe
    * because bounds scale with contributions. */
  private[search] def termStats(matched0: Seq[(String, String)],
                                boosts: Map[String, Double] = Map.empty): Seq[TermStat] = {
    refreshIfStale()
    statsFor(matched0, boosts)
  }

  private def statsFor(matched0: Seq[(String, String)], boosts: Map[String, Double]): Seq[TermStat] = {
    val matched = matched0.distinct // one stat row per pair, always
    val fstats = synchronized(fieldStatsC)
    val dfMap = fetchDfs(matched)
    matched.flatMap { case (f, t) =>
      dfMap.get((f, t)).filter(_ > 0).flatMap { df =>
        fstats.get(f).collect { case (n, sumDl) if n > 0 =>
          val boost = boosts.getOrElse(f, 1.0)
          val idf = boost * math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          val avgdl = sumDl.toDouble / n
          TermStat(f, t, df, idf, avgdl)
        }
      }
    }
  }

  /** Per-(field, term) dfs with a version-invalidated LRU (8-byte values —
    * the bound is entry count). Misses fetch in one pruned scan; absent
    * pairs are negative-cached as 0 so repeated misses cost nothing. A warm
    * repeat query thus needs no Spark job for its statistics. */
  private val dfCache = new java.util.LinkedHashMap[(String, String), java.lang.Long](1024, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, String), java.lang.Long]): Boolean = size() > (1 << 17)
  }

  private def fetchDfs(matched: Seq[(String, String)]): Map[(String, String), Long] = {
    val (tok, termDf, hits, missKeys) = synchronized {
      val h = Map.newBuilder[(String, String), Long]
      val m = Seq.newBuilder[(String, String)]
      matched.distinct.foreach { key =>
        val c = dfCache.get(key)
        if (c != null) h += key -> c.longValue else m += key
      }
      (cacheToken, termDfC, h.result(), m.result())
    }
    if (missKeys.isEmpty) hits
    else {
      // dictionary scan outside the monitor (see fetchShardRows)
      val fieldsTouched = missKeys.map(_._1).distinct
      val terms = missKeys.map(_._2).distinct
      val fetched = termDf
        .filter($"field".isInCollection(fieldsTouched) && $"term".isInCollection(terms))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      synchronized {
        if (cacheToken == tok) missKeys.foreach { key =>
          dfCache.put(key, java.lang.Long.valueOf(fetched.getOrElse(key, 0L)))
        }
      }
      hits ++ missKeys.map(key => key -> fetched.getOrElse(key, 0L))
    }
  }

  /** The postings bounded by two parquet-pushable IN filters, on the
    * fields and on the terms of `matched`: exact for a field × term cross
    * product (every non-prefix query), a superset for prefix expansions. */
  private def bounded(matched: Seq[(String, String)]): DataFrame =
    synchronized(postingsC).filter($"field".isInCollection(matched.map(_._1).distinct) &&
      $"term".isInCollection(matched.map(_._2).distinct))

  /** The scan the driver kernel reads on an LRU miss: the bounded
    * postings as [[ScoringKernel.ShardRow]] columns. */
  private[graft] def shardScan(matched: Seq[(String, String)]): DataFrame = {
    refreshIfStale()
    rowScan(matched)
  }

  private def rowScan(matched: Seq[(String, String)]): DataFrame =
    bounded(matched).select($"field", $"term", $"seg", $"shard", $"blocks", $"blob")

  /** Selects only the shards of the matched terms — equality pushdown on the
    * (field, term)-sorted postings table. */
  def matchedShards(matched0: Seq[(String, String)]): DataFrame = {
    refreshIfStale()
    val matched = matched0.distinct // duplicates would fool the cross-product check
    val cross = matched.map(_._1).distinct.size.toLong * matched.map(_._2).distinct.size
    // prefix expansions, whose terms differ per field, need the exact pairs
    if (matched.size.toLong == cross) bounded(matched)
    else bounded(matched).join(broadcast(matched.toDF("field", "term")), Seq("field", "term"), "left_semi")
  }

  /** Scores `matched` — (field, index term, query term it expands from) —
    * through the kernel and returns the top-k as a local frame, reading the
    * caches as the caller's version poll left them. A distributed read uses
    * stats, resident postings and tombstones of one store version: if a
    * concurrent poll moves the version between the stats and the snapshot,
    * the read restarts from the new one, at most twice (bounded, as in
    * [[fetchShardRows]]). */
  private def topK(qTerms: Seq[String], matched: Seq[(String, String, String)], k: Int,
                   mode: SearchMode, boosts: Map[String, Double] = Map.empty): DataFrame = {
    val pairs = matched.map { case (f, t, _) => (f, t) }.distinct
    def attempt(retriesLeft: Int): Seq[(Long, Double)] = {
      val (tok, small) = synchronized((cacheToken, tombSmallC))
      val stats = if (pairs.isEmpty || k <= 0) Nil else statsFor(pairs, boosts)
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
        // ~8 bytes per posting bounds the candidate volume
        if (stats.map(_.df).sum * 8 <= store.cfg.driverWandMaxBytes && small)
          driverTopK(q, pairs)
        else {
          val (t, segs, tombs) = synchronized((cacheToken, segKeysC.map(residentC), tombsC))
          if (t != tok && retriesLeft > 0) attempt(retriesLeft - 1)
          else ScoringKernel.distributedTopK(segs.map(_.get), tombs.get, q)
        }
      }
    }
    val hits = attempt(2)
    // rows under a fixed schema, in a relation marked analyzed: no encoder
    // to generate code for and nothing for the analyzer to do on every read
    GraftColumnBridge.localFrame(spark, SearchEngine.HitSchema, hits)
  }

  /** The kernel on the driver: the pairs' shard rows (LRU, or one pruned
    * scan) grouped by shard, the groups scored concurrently on the pool.
    * Rows are read BEFORE the tombstone map: if a delete lands between the
    * two reads, the map is the newer of the pair and the deleted doc stays
    * filtered (the reverse order could resurface it). */
  private def driverTopK(q: KernelQuery, pairs: Seq[(String, String)]): Seq[(Long, Double)] = {
    val groups = fetchShardRows(pairs).groupBy(_._4).toArray.sortBy(_._1).map(_._2)
    val tomb = synchronized(tombstoneC)
    // only WAND prunes against θ; exhaustive heaps need no shared floor
    val shared = if (q.mode == SearchMode.Wand) new SharedTheta else null
    val heaps = DriverPool.run(groups.length, spark.sparkContext.defaultParallelism) { g =>
      val h = new BoundedHitHeap(q.k, shared)
      ScoringKernel.score(q, groups(g), tomb, h)
      h
    }
    val top = new BoundedHitHeap(q.k)
    heaps.foreach(_.result().foreach { case (d, s) => top.offer(d, s) })
    top.result()
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
