package perfbench

import graft.analysis.Analyzer
import graft.core.{Bm25Params, CorpusDoc, Hit}

/** Index-independent BM25 reference over the generated documents.
  *
  * It follows `graft.search.OracleScorer`'s definition exactly (same
  * analyzer, idf, length normalisation, and per-document summation in
  * ascending (field, term) order) but analyses the corpus once into an
  * in-memory inverted map, so every distinct benchmark query can be checked
  * without rescanning the corpus. Expansions follow the engine's public
  * contract: a prefix or fuzzy key expands to at most `cap` index terms in
  * ascending (term, field) order. */
final class Reference(docs: Seq[CorpusDoc],
                      fields: Seq[String] = CorpusDoc.Fields,
                      params: Bm25Params = Bm25Params()) {

  private val n: Int = docs.length
  private val docIds: Array[Long] = docs.map(_.doc_id).toArray

  /** (field, term) -> (doc index, tf) pairs in ascending doc index. */
  private val postings: Map[(String, String), Array[(Int, Int)]] = {
    val acc = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.ArrayBuffer[(Int, Int)]]
    docs.iterator.zipWithIndex.foreach { case (d, i) =>
      fields.foreach { f =>
        Analyzer.termFrequencies(CorpusDoc.fieldValue(d, f)).foreach { case (t, tf) =>
          acc.getOrElseUpdate((f, t), scala.collection.mutable.ArrayBuffer.empty) += ((i, tf))
        }
      }
    }
    acc.iterator.map { case (k, v) => k -> v.toArray }.toMap
  }

  /** Per-field token length of every document. */
  private val dl: Map[String, Array[Int]] =
    fields.map(f => f -> docs.map(d => Analyzer.tokenize(CorpusDoc.fieldValue(d, f)).length).toArray).toMap

  private val avgdl: Map[String, Double] =
    fields.map(f => f -> (if (n == 0) 0.0 else dl(f).map(_.toLong).sum.toDouble / n)).toMap

  /** Every indexed (field, term) pair in ascending (term, field) order. */
  private val vocab: IndexedSeq[(String, String)] =
    postings.keys.toIndexedSeq.sortBy { case (f, t) => (t, f) }

  def df(field: String, term: String): Int = postings.get((field, term)).fold(0)(_.length)

  /** Distinct terms of `field` with their document frequency. */
  def termDfs(field: String): Seq[(String, Int)] =
    vocab.collect { case (`field`, t) => (t, df(field, t)) }

  def expandPrefix(prefix: String, fs: Seq[String], cap: Int = 100): Seq[(String, String)] = {
    val lo = prefix.toLowerCase
    vocab.iterator.filter { case (f, t) => fs.contains(f) && t.startsWith(lo) }.take(cap).toSeq
  }

  def expandFuzzy(key: String, fs: Seq[String], cap: Int = 100): Seq[(String, String)] = {
    val k = key.toLowerCase
    if (k.isEmpty) Seq.empty
    else vocab.iterator.filter { case (f, t) =>
      fs.contains(f) && t.nonEmpty && t.charAt(0) == k.charAt(0) && k.forall(c => t.indexOf(c.toInt) >= 0)
    }.take(cap).toSeq
  }

  /** Every matching document with its score (unsorted): OR semantics, or
    * AND over the query terms when `and`. `matched` pairs carry the query
    * term they expand from. */
  def scores(qTerms: Seq[String], matched: Seq[(String, String, String)],
             and: Boolean): Map[Long, Double] = {
    val pairs = matched.groupBy(m => (m._1, m._2)).toSeq.sortBy(_._1)
    val qIdx = qTerms.zipWithIndex.toMap
    val score = new Array[Double](n)
    val mask = new Array[Long](n)
    val hit = new Array[Boolean](n)
    pairs.foreach { case ((f, t), srcs) =>
      val ps = postings.getOrElse((f, t), Array.empty[(Int, Int)])
      if (ps.nonEmpty) {
        val d = ps.length.toDouble
        val idf = math.log(1.0 + (n - d + 0.5) / (d + 0.5))
        val bit = srcs.map(s => 1L << (qIdx(s._3) % 64)).reduce(_ | _)
        ps.foreach { case (i, tf0) =>
          val tf = tf0.toDouble
          val len = dl(f)(i).toDouble
          score(i) += idf * (tf * (params.k1 + 1.0)) /
            (tf + params.k1 * (1.0 - params.b + params.b * len / avgdl(f)))
          mask(i) |= bit
          hit(i) = true
        }
      }
    }
    (0 until n).iterator
      .filter(i => hit(i) && (!and || java.lang.Long.bitCount(mask(i)) == qTerms.size))
      .map(i => docIds(i) -> score(i)).toMap
  }

  /** The engine's `search` contract: analyse, expand (prefix), score. */
  def search(query: String, fs: Seq[String], beginsWith: Boolean,
             and: Boolean): Map[Long, Double] = {
    val qTerms = Analyzer.tokenize(query).distinct.sorted.toSeq
    val matched =
      if (beginsWith) qTerms.flatMap(q => expandPrefix(q, fs).map { case (f, t) => (f, t, q) })
      else fs.flatMap(f => qTerms.map(q => (f, q, q)))
    scores(qTerms, matched, and)
  }

  /** The engine's `searchFuzzy` contract: OR over fuzzy expansions. */
  def searchFuzzy(query: String, fs: Seq[String]): Map[Long, Double] = {
    val qTerms = Analyzer.tokenize(query).distinct.sorted.toSeq
    scores(qTerms, qTerms.flatMap(q => expandFuzzy(q, fs).map { case (f, t) => (f, t, q) }), and = false)
  }
}

object Reference {
  /** Top-k under the engine's total order: score descending, doc id ascending. */
  def topK(scores: Map[Long, Double], k: Int): Seq[Hit] =
    scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(k).map { case (d, s) => Hit(d, s) }

  /** Tolerance on every score (FIXTURES.md §4). */
  val ScoreTol = 1e-5
  /** Scores closer than this are a tie that either order may list. */
  val TieTol = 1e-9

  /** None when `got` is rank-identical to the reference top-k within
    * [[ScoreTol]], else the first difference. A doc id may differ from the
    * reference at a rank only when the engine's doc ties the reference's
    * score there; a doc absent from `all` (deleted or never matching) is
    * always wrong. */
  def mismatch(got: Seq[Hit], all: Map[Long, Double], k: Int): Option[String] = {
    val want = topK(all, k)
    if (got.length != want.length) return Some(s"got ${got.length} hits, want ${want.length}")
    got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if all.get(g.doc_id).forall(s => math.abs(s - g.score) > ScoreTol) =>
        s"rank $i: doc ${g.doc_id} score ${g.score} vs reference ${all.get(g.doc_id)}"
      case ((g, w), i) if math.abs(g.score - w.score) > ScoreTol =>
        s"rank $i: score ${g.score} vs reference ${w.score}"
      case ((g, w), i) if g.doc_id != w.doc_id && math.abs(all(g.doc_id) - w.score) > TieTol =>
        s"rank $i: doc ${g.doc_id} vs reference doc ${w.doc_id}"
    }.orElse {
      val ids = got.map(_.doc_id)
      if (ids.distinct.length != ids.length) Some(s"duplicate doc ids $ids") else None
    }
  }
}
