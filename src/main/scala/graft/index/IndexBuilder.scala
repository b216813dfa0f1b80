package graft.index

import graft.analysis.Analyzer
import graft.core._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Batch inverted-index construction (SURVEY.md §7.1-7.2).
  *
  * Shuffle budget: exactly ONE wide dependency for the posting build — the
  * range shuffle on (term, field, shard) in [[encodeShardsNarrow]], whose
  * sorted runs are group-walked into posting lists. Term frequencies are
  * counted *inside each corpus row* (single-pass flatMap), so no
  * (doc, term) pre-aggregation shuffle is needed; the shuffle input is
  * already one row per distinct (field, term, doc).
  *
  * Hot-term skew (SURVEY.md §7.4): `shard = doc_id / shardSpan` bounds every
  * reduce group to ≤ shardSpan postings structurally — a term occurring in
  * half of 10^12 docs becomes ~10^6 independent groups instead of one
  * 5·10^11-row reducer. No aggregation hash map, no AQE dependency, and
  * query-time shard merge is free (disjoint, ascending docId ranges).
  */
object IndexBuilder {

  /** corpus → one row per distinct (field, term, doc): the only tokenize
    * walk of the index (segment build and delete corrections alike).
    *
    * A typed flatMap is used deliberately (SURVEY.md §7.3 decision table):
    * the per-row "tokenize + count" is genuine imperative per-record logic;
    * doing it relationally (explode + groupBy(doc, term)) would add a full
    * extra shuffle over ~200 tokens/doc just to compute tf. tf is counted
    * by sorting the token array in place and walking runs — zero
    * allocation beyond the tokens themselves.
    *
    * The rows are NARROW: the build shuffle carries ~10² rows per document,
    * so row width IS shuffle/sort/cache bytes (guide §2.3 "narrower
    * types"). The field name is replaced by its rank `fidx` in the SORTED
    * field list — a one-byte, order-preserving surrogate restored at
    * encode time — and (tf, dl) share one long `tfdl = tf << 32 | dl`. The
    * shard key is not stored (derivable, projected in
    * [[encodeShardsNarrow]]). Row shape: (fidx, term, doc_id, tfdl). */
  def postingsNarrow(corpus: Dataset[CorpusDoc],
                     fields: Seq[String]): Dataset[(Byte, String, Long, Long)] = {
    import corpus.sparkSession.implicits._
    val sortedFields = fields.sorted.toArray
    corpus.flatMap { doc =>
      Iterator.tabulate(sortedFields.length) { fIdx =>
        val toks = Analyzer.tokenize(CorpusDoc.fieldValue(doc, sortedFields(fIdx)))
        val dl = toks.length
        if (dl == 0) Iterator.empty
        else {
          java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
          new Iterator[(Byte, String, Long, Long)] {
            private var i = 0
            def hasNext: Boolean = i < dl
            def next(): (Byte, String, Long, Long) = {
              val t = toks(i)
              var j = i + 1
              while (j < dl && toks(j) == t) j += 1
              val tf = j - i
              i = j
              (fIdx.toByte, t, doc.doc_id,
                (tf.toLong << 32) | (dl.toLong & 0xffffffffL))
            }
          }
        }
      }.flatten
    }
  }

  /** Narrow rows (see [[postingsNarrow]]) → compressed shard blobs; the
    * index-build shuffle, sort-based (the classic bulk inverted-index
    * build): range shuffle → Tungsten partition-local sort (+ doc_id) →
    * streaming group-walk encode ([[ShardEncoder.encodeSortedRunNarrow]],
    * reused buffers). The walk emits blobs whose postings are docId-sorted
    * by construction (deterministic bytes at any parallelism). A
    * groupBy + Aggregator instead buffers every group as a Kryo-serialized
    * JVM collection — measured GC-bound above ~8 concurrent tasks.
    * `sortedFields` maps the surrogate byte back to the field name.
    *
    * Keys are TERM-MAJOR ((term, fidx, shard), not (field, term, shard)):
    * Tungsten's sort computes an 8-byte prefix from the FIRST order column
    * only, and a leading field key — one of ≤ |fields| values, constant
    * across ~all rows — made every prefix tie, sending EVERY comparison of
    * the build's largest sort through the full row-dereference + string
    * path. With term first, the prefix (the term's first 8 bytes) decides
    * most comparisons in the cache-resident pointer array. Grouping is
    * unaffected (any ordering with these three leading keys makes groups
    * contiguous; the group walk tests all three), and the parquet layout
    * becomes term-range-per-file, which is exactly what exact/prefix term
    * scans prune on — the field filter rides row-group dictionary/stats as
    * before. */
  def encodeShardsNarrow(narrow: Dataset[(Byte, String, Long, Long)],
                         shardSpan: Long,
                         sortedFields: Array[String]): DataFrame = {
    import narrow.sparkSession.implicits._
    narrow.toDF("fidx", "term", "doc_id", "tfdl")
      .withColumn("shard", floor(col("doc_id") / lit(shardSpan)).cast("long"))
      .repartitionByRange(col("term"), col("fidx"), col("shard"))
      .sortWithinPartitions("term", "fidx", "shard", "doc_id")
      .select(col("fidx"), col("term"), col("shard"), col("doc_id"), col("tfdl"))
      .as[(Byte, String, Long, Long, Long)]
      .mapPartitions(rows => ShardEncoder.encodeSortedRunNarrow(rows, sortedFields))
      .toDF()
  }

  /** The segment's df TABLE re-derived from the encoded shard table: each
    * shard row already carries `count` (# postings = # distinct docs of
    * that (field, term, shard)) and `sum_tf`, so df(field, term) = Σ count
    * and sum_tf = Σ sum_tf over its shards. The aggregation input shrinks
    * from one row per (field, term, doc) — ~10² rows per document — to one
    * row per (field, term, shard): vocabulary-sized (guide §2.3,
    * "aggregate before you shuffle" — the shard encode already did), and
    * column pruning keeps the blob/blocks bytes out of the scan. ONE
    * exchange end to end: the rows range-shuffle straight into the table's
    * (field, term) layout and a sorted group-walk sums each run — the
    * hash-aggregate + second range exchange (each with its own sampling
    * pass) that a groupBy→repartitionByRange chain pays buy nothing over a
    * vocabulary-sized input. Values are exact integer sums → row-identical
    * table. */
  def termDfTableFromShards(shards: DataFrame): DataFrame = {
    import shards.sparkSession.implicits._
    shards.select(col("field"), col("term"), col("count"), col("sum_tf"))
      .repartitionByRange(col("field"), col("term"))
      .sortWithinPartitions("field", "term")
      .as[(String, String, Long, Long)]
      .mapPartitions { rows =>
        new Iterator[(String, String, Long, Long)] {
          private var pending: (String, String, Long, Long) = _
          private var hasPending = false
          override def hasNext: Boolean = hasPending || rows.hasNext
          override def next(): (String, String, Long, Long) = {
            val first = if (hasPending) pending else rows.next()
            hasPending = false
            val (field, term) = (first._1, first._2)
            var df = first._3
            var sumTf = first._4
            var done = false
            while (!done && rows.hasNext) {
              val r = rows.next()
              if (r._1 == field && r._2 == term) { df += r._3; sumTf += r._4 }
              else { pending = r; hasPending = true; done = true }
            }
            (field, term, df, sumTf)
          }
        }
      }.toDF("field", "term", "df", "sum_tf")
  }

  /** Per-field (n, sum_dl). sum_dl(field) = Σ_docs dl = Σ_postings tf, so it
    * falls out of the df table's `sum_tf` column — one scan of a table whose
    * row count is the vocabulary size, not the posting count. */
  def fieldStats(df: DataFrame, numDocs: Long): DataFrame =
    df.groupBy(col("field"))
      .agg(sum(col("sum_tf")).as("sum_dl"))
      .withColumn("n", lit(numDocs))
      .select(col("field"), col("n"), col("sum_dl"))

  /** Per-doc content checksum (input_hint per-row invariant). */
  def docStats(corpus: Dataset[CorpusDoc]): DataFrame =
    corpus.select(col("doc_id"), sha2(col("content"), 256).as("content_sha"))

  /** Column-only tokenization of the corpus — the relational twin of the
    * flatMap path, used by SQL-oracle-facing queries (DuckDB parity) and
    * cross-checked against [[postingsNarrow]] in tests. */
  def tokensDF(corpus: DataFrame, textCol: String = "content"): DataFrame =
    corpus.select(col("doc_id"),
      explode(Analyzer.tokens(col(textCol))).as("term"))

  /** Relational (doc, term, tf, dl) — explode + two-level agg; oracle twin. */
  def termFrequenciesDF(corpus: DataFrame, textCol: String = "content"): DataFrame = {
    val withDl = corpus.select(col("doc_id"),
      Analyzer.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
    withDl.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
  }
}
