package graft.core

/** Core typed data model for the Spark-native full-text engine.
  *
  * The corpus row shape follows BASELINE.json `input_hint`:
  * `(repo, path, commit, lang, content)` — the fixed-schema analogue of the
  * reference's arbitrary flattened JSON documents (reference: json.go:22-40,
  * indexing.go:28-44).
  */
final case class CorpusDoc(
    doc_id: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String
)

object CorpusDoc {
  /** Every column is its own searchable field, exactly as the reference
    * creates one indexMap per JSON field (indexing.go:324-344). */
  val Fields: Seq[String] = Seq("repo", "path", "commit", "lang", "content")

  def fieldValue(d: CorpusDoc, field: String): String = field match {
    case "repo"    => d.repo
    case "path"    => d.path
    case "commit"  => d.commit
    case "lang"    => d.lang
    case "content" => d.content
    case other     => throw new IllegalArgumentException(s"unknown field $other")
  }
}

/** A compressed, shard-local posting list for one (field, term).
  *
  * `shard` = doc_id / shardSpan. Sharding the posting list by docId *range*
  * (not hash) is the structural answer to hot-term skew (SURVEY.md §7.4):
  * a term present in half of 10^12 docs never lands on a single reducer —
  * grouping by (field, term, shard) bounds every group to ≤ shardSpan postings,
  * and query-time merge is a shard-ascending concatenation because ranges
  * are disjoint and internally docId-sorted.
  *
  * `blob` holds the (docId, tf, dl) triplets in bit-packed blocks of ≤ 128
  * (PostingCodec). Carrying `dl` in each posting mirrors the reference,
  * which stores document length as the posting value (indexing.go:130-132,
  * 743, 753): query-time BM25 joins no per-document stats table.
  * `blocks` carries block-max metadata (first/last docId, max tf, min dl
  * per 128-posting block) enabling Block-Max WAND pruning.
  */
final case class PostingShard(
    field: String,
    term: String,
    shard: Long,
    count: Long,
    sum_tf: Long,
    max_tf: Int,
    blocks: Array[Byte],
    blob: Array[Byte]
)

/** Per-(field, term) document frequency. */
final case class TermDf(field: String, term: String, df: Long)

/** Per-document checksum row — the per-row `sha2(content, 256)` invariant
  * required by `input_hint`. */
final case class DocStat(doc_id: Long, content_sha: String)

/** Tombstone: `doc_id` is deleted from all segments with id <= max_seg.
  * The segment bound makes delete+re-add (update, reference
  * indexing.go:669-687) safe: the re-added doc lives in a newer segment. */
final case class Tombstone(doc_id: Long, max_seg: Int)

/** A scored search hit. Mirrors the reference's DocumentObject
  * (indexing.go:56-60) minus the raw JSON payload (hydration joins back to
  * the corpus table instead). */
final case class Hit(doc_id: Long, score: Double)

/** BM25 parameters (SURVEY.md §A.4 pinned values). */
final case class Bm25Params(k1: Double = 1.2, b: Double = 0.75)

/** Index build configuration.
  * @param shardSpan docId range covered by one posting shard. At 10^12 docs
  *        the default 2^20 bounds any (field,term,shard) group to ~1M
  *        postings (~2-4 MB encoded) regardless of term hotness. Tests use
  *        small spans to exercise multi-shard merges at tiny scale. */
final case class IndexConfig(
    shardSpan: Long = 1L << 20,
    bm25: Bm25Params = Bm25Params(),
    fields: Seq[String] = CorpusDoc.Fields,
    /** Driver-read bound (bytes, ~8 per row), on both the read's candidate
      * postings (Σ df) and the store's tombstone rows: a read scores on the
      * driver (one pruned scan, no shuffle) only if both fit, so a bulk
      * delete of 10^9 ids cannot OOM the driver. 0 forces the distributed
      * path (used by tests); hot-term queries at corpus scale exceed any
      * sane bound and always distribute. */
    driverWandMaxBytes: Long = 32L << 20,
    /** Persist the tokenized posting rows (MEMORY_AND_DISK) so the range
      * partitioner's sampling pass doesn't re-tokenize the corpus, and
      * independent stages can overlap. Right at any scale where the cluster
      * has aggregate cache ≈ posting-row volume; at extreme scale (cache ≪
      * data) set false and pay one re-tokenization in the sampler. */
    cacheBuild: Boolean = true,
    /** LRU budget (bytes) for the driver-side posting-blob cache serving the
      * driver fast paths — the bounded analogue of the reference's
      * all-in-RAM index (its radix tree holds every posting resident,
      * indexing.go:130-139). One per store version, so any CRUD starts
      * an empty one. 0 keeps nothing: every driver read scans its rows.
      * Only lists small enough for the fast paths are ever cached, so
      * entries are ≤ driverWandMaxBytes each. */
    driverBlobCacheBytes: Long = 64L << 20
)
