package perfbench

import graft.search.SearchMode

/** One distinct benchmark query. `shape` names its FIXTURES.md §4 class. */
final case class Query(shape: String, text: String, fields: Seq[String],
                       mode: SearchMode = SearchMode.Or,
                       prefix: Boolean = false, fuzzy: Boolean = false) {
  def isMiss: Boolean = shape == "miss"
  /** `searchDocs` has no fuzzy form, and a miss hydrates nothing. */
  def hydratable: Boolean = !isMiss && !fuzzy
}

/** Seeded query generator and request schedule. The same seed and corpus
  * always give the same queries in the same order; no wall clock and no
  * index state is consulted, only the reference's document frequencies. */
object QueryGen {

  val AllFields: Seq[String] = graft.core.CorpusDoc.Fields

  /** Content-field terms by descending document frequency (ties by term). */
  def ranked(ref: Reference): IndexedSeq[String] =
    ref.termDfs("content").sortBy { case (t, d) => (-d, t) }.map(_._1).toIndexedSeq

  /** The serving mix: one query or more of each FIXTURES.md §4 shape —
    * single terms (hot, mid-df, rare), Or/And/Wand queries of 2–5 terms led
    * by a hot term, a hot+rare AND, a content prefix, a path-field prefix, a
    * fuzzy key, a content-scoped query and a two-term miss. With
    * `distributedOnly` it keeps the shapes that plan Spark jobs on the
    * distributed path: multi-term and prefix queries.
    *
    * Terms are drawn from narrow bands at fixed document-frequency ranks
    * (the band at rank share `q` holds the ~1% of terms just below it), so
    * each seed picks different terms of about the same cost and the mix's
    * latency does not swing with the seed. */
  def queries(ref: Reference, seed: Long, distributedOnly: Boolean): IndexedSeq[Query] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    val terms = ranked(ref)
    val width = math.max(5, terms.length / 100)
    def at(q: Double): String = {
      val from = math.min((q * terms.length).toInt, terms.length - width)
      terms(from + rnd.nextInt(width))
    }
    def distinctAt(qs: Seq[Double]): Seq[String] =
      Iterator.continually(qs.map(at)).find(ts => ts.distinct.size == ts.size).get
    val modes = Seq(SearchMode.Or, SearchMode.And, SearchMode.Wand)
    // query i: a hot term and i + 1 more from the upper half of the ranks
    def multi(i: Int): Query =
      Query("multi", distinctAt(0.0 +: Seq(0.05, 0.2, 0.35, 0.5).take(i + 1)).mkString(" "),
        AllFields, modes(i % 3))
    val hotRare = Query("hot_rare_and", distinctAt(Seq(0.0, 0.9)).mkString(" "), AllFields, SearchMode.And)
    val prefix = Query("prefix", at(0.1).take(3), AllFields, prefix = true)
    val multis = (0 until (if (distributedOnly) 4 else 3)).map(multi)
    if (distributedOnly) (multis ++ Seq(hotRare, prefix)).toIndexedSeq
    else {
      val singles = Seq(0.0, 0.4, 0.95).zipWithIndex.map { case (q, i) =>
        Query("single", at(q), AllFields, if (i % 2 == 0) SearchMode.Or else SearchMode.Wand)
      }
      val pathPrefix = Query("path_prefix", "src/" + at(0.3).take(3), Seq("path"), prefix = true)
      val fuzzy = Query("fuzzy", at(0.3).take(3), AllFields, fuzzy = true)
      val scoped = Query("content_scoped", distinctAt(Seq(0.02, 0.2, 0.4)).mkString(" "), Seq("content"),
        SearchMode.Wand)
      val miss = {
        val t = Iterator.continually(f"qzx${rnd.nextInt(1000000)}%06d").find(t => ref.df("content", t) == 0).get
        Query("miss", s"$t ${t}q", AllFields, SearchMode.Or)
      }
      (singles ++ multis ++ Seq(hotRare, prefix, pathPrefix, fuzzy, scoped, miss)).toIndexedSeq
    }
  }

  /** The endless plain-read schedule: successive seeded permutations of
    * all queries, so every query is timed equally often. */
  def schedule(qs: IndexedSeq[Query], seed: Long): Iterator[Int] = {
    val rnd = new java.util.Random(seed * 17 + 3)
    Iterator.continually(shuffle(qs.indices, rnd)).flatten
  }

  /** `n` hydrated reads: seeded permutations of the [[Query.hydratable]]
    * queries, so none lands on an empty result. */
  def hydrated(qs: IndexedSeq[Query], seed: Long, n: Int): Seq[Int] = {
    val rnd = new java.util.Random(seed * 13 + 5)
    val ids = qs.indices.filter(i => qs(i).hydratable)
    Iterator.continually(shuffle(ids, rnd)).flatten.take(n).toSeq
  }

  private def shuffle(ids: IndexedSeq[Int], rnd: java.util.Random): IndexedSeq[Int] = {
    val a = ids.toArray
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }
}
