package graft

import graft.analysis.Analyzer
import graft.core._
import graft.corpus.CorpusGen
import graft.index.IndexStore
import graft.search.{OracleScorer, SearchEngine, SearchMode}
import org.scalatest.funsuite.AnyFunSuite

/** The seeded reference query set (FIXTURES.md §4; north-rule acceptance):
  * 20 single exact terms across df deciles, 20 multi-term (OR + AND + WAND),
  * 10 prefixes, 5 field-scoped, 5 guaranteed misses — every one required
  * rank-identical to the single-node oracle with bit-identical scores:
  * every path sums each doc in the oracle's (field, term, seg) order. */
class QuerySetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val cfg = IndexConfig(shardSpan = 64)
  private lazy val corpusDS = CorpusGen.generate(spark, 400, seed = 1234, numRepos = 30)
  private lazy val corpusLocal: Seq[CorpusDoc] = corpusDS.collect().toSeq
  private lazy val engine: SearchEngine = {
    val s = new IndexStore(spark, TestSpark.tempDir("qset"), cfg)
    s.createSegment(corpusDS)
    new SearchEngine(s)
  }

  /** content-field vocabulary ordered by ascending df. */
  private lazy val vocabByDf: Seq[(String, Int)] = {
    val df = scala.collection.mutable.HashMap.empty[String, Int]
    corpusLocal.foreach { d =>
      Analyzer.tokenize(d.content).distinct.foreach(t => df.update(t, df.getOrElse(t, 0) + 1))
    }
    df.toSeq.sortBy { case (t, c) => (c, t) }
  }

  private def check(query: String, fields: Seq[String], beginsWith: Boolean,
                    mode: SearchMode, k: Int = 10): Unit = {
    val oracle = OracleScorer.search(corpusLocal, query, fields, beginsWith, k,
      andSemantics = mode == SearchMode.And, cfg.bm25)
    val got = engine.search(query, fields, beginsWith, k, mode)
      .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_.doc_id) == oracle.map(_.doc_id),
      s"rank mismatch [$query] mode=$mode bw=$beginsWith:\n got=${got.map(_.doc_id)}\n exp=${oracle.map(_.doc_id)}")
    got.zip(oracle).foreach { case (g, o) =>
      assert(g.score == o.score, s"score differs [$query] doc=${g.doc_id}: ${g.score} vs ${o.score}")
    }
  }

  test("20 single exact terms sampled across df deciles (rare -> hot)") {
    val rnd = new scala.util.Random(99)
    val v = vocabByDf
    val picks = (0 until 20).map { i =>
      val decile = i % 10
      val lo = v.size * decile / 10
      val hi = math.max(lo + 1, v.size * (decile + 1) / 10)
      v(lo + rnd.nextInt(hi - lo))._1
    }
    picks.foreach(t => check(t, Seq("content"), beginsWith = false, SearchMode.Wand))
  }

  test("20 multi-term queries (2-5 terms): OR, AND, WAND") {
    val rnd = new scala.util.Random(7)
    val v = vocabByDf.map(_._1).toIndexedSeq
    (0 until 20).foreach { i =>
      val n = 2 + rnd.nextInt(4)
      val terms = Seq.fill(n)(v(rnd.nextInt(v.size))).distinct
      val q = terms.mkString(" ")
      val mode = i % 3 match {
        case 0 => SearchMode.Or
        case 1 => SearchMode.And
        case _ => SearchMode.Wand
      }
      check(q, Seq("content"), beginsWith = false, mode)
    }
  }

  test("10 prefix queries (2-4 char prefixes of existing terms)") {
    val rnd = new scala.util.Random(21)
    val v = vocabByDf.map(_._1).filter(_.length >= 4).toIndexedSeq
    (0 until 10).foreach { _ =>
      val t = v(rnd.nextInt(v.size))
      val p = t.take(2 + rnd.nextInt(3))
      check(p, Seq("content"), beginsWith = true, SearchMode.Or)
    }
  }

  test("5 field-scoped queries") {
    check("scala", Seq("lang"), beginsWith = false, SearchMode.Or)
    check("py go", Seq("lang"), beginsWith = false, SearchMode.Or)
    val somePath = Analyzer.tokenize(corpusLocal(5).path).head
    check(somePath, Seq("path"), beginsWith = false, SearchMode.Or)
    val someRepo = corpusLocal(9).repo.toLowerCase
    check(someRepo, Seq("repo"), beginsWith = false, SearchMode.Wand)
    check("import", Seq("path", "content"), beginsWith = false, SearchMode.Or)
  }

  test("WAND == exhaustive top-k on random corpora (FIXTURES.md 6)") {
    import spark.implicits._
    val rnd = new scala.util.Random(555)
    (0 until 4).foreach { round =>
      val nDocs = 50 + rnd.nextInt(120)
      val vocabSize = 10 + rnd.nextInt(40)
      val vocab = (0 until vocabSize).map(i => s"w${round}x$i")
      val docs = (0 until nDocs).map { i =>
        val len = 3 + rnd.nextInt(40)
        CorpusDoc(i.toLong, "r", s"p$i", "c" * 40, "en",
          Seq.fill(len)(vocab(rnd.nextInt(vocabSize))).mkString(" "))
      }
      val store = new IndexStore(spark, TestSpark.tempDir(s"rnd$round"),
        IndexConfig(shardSpan = 16, fields = Seq("content")))
      store.createSegment(spark.createDataset(docs))
      val eng = new SearchEngine(store)
      (0 until 3).foreach { _ =>
        val q = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocabSize)))
          .distinct.mkString(" ")
        val wand = eng.search(q, Seq("content"), k = 10, mode = SearchMode.Wand)
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
        val exh = eng.search(q, Seq("content"), k = 10, mode = SearchMode.Or)
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
        assert(wand == exh, s"WAND != exhaustive for [$q] on random corpus $round")
      }
    }
  }

  test("per-field boosts: WAND == exhaustive, and boost scales the field's contribution") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      CorpusDoc(i.toLong, s"repo${i % 3}", s"p$i", "c" * 40,
        if (i % 2 == 0) "en" else "de", s"alpha beta${i % 5} gamma$i")
    }
    val store = new IndexStore(spark, TestSpark.tempDir("boost"),
      IndexConfig(shardSpan = 16, fields = Seq("content", "lang")))
    store.createSegment(spark.createDataset(docs))
    val eng = new SearchEngine(store)
    val boosts = Map("lang" -> 3.0)
    def run(mode: SearchMode) =
      eng.search("alpha en", Seq("content", "lang"), k = 20, mode = mode, boosts = boosts)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(run(SearchMode.Wand) == run(SearchMode.Or), "boosted WAND != boosted exhaustive")
    // boost=1 vs boost=3 on lang: the lang contribution must scale 3x exactly
    def score(boost: Double): Map[Long, Double] =
      eng.search("en", Seq("lang"), k = 60, boosts = Map("lang" -> boost))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s1 = score(1.0); val s3 = score(3.0)
    assert(s1.nonEmpty && s1.keySet == s3.keySet)
    s1.foreach { case (d, s) => assert(math.abs(s3(d) - 3.0 * s) < 1e-12) }
  }

  test("DriverScoreMap == reference HashMap under random collisions and growth") {
    val rnd = new scala.util.Random(4242)
    (0 until 5).foreach { round =>
      // 0..3 mask words: no mask (OR), one word, and wide AND masks
      val words = round % 4
      val m = new graft.search.DriverScoreMap(16, words) // tiny: force many growths
      val ref = scala.collection.mutable.HashMap.empty[Long, (Double, Set[Int])]
      (0 until 20000).foreach { _ =>
        // adversarial keys: sequential ranges + sparse larges
        val key = if (rnd.nextBoolean()) rnd.nextInt(3000).toLong
                  else rnd.nextLong().abs
        val delta = rnd.nextDouble()
        val mask = new Array[Long](words)
        val bit = if (words == 0) -1 else rnd.nextInt(64 * words)
        if (bit >= 0) mask(bit >> 6) |= 1L << (bit & 63)
        m.add(key, delta, mask)
        val (s0, b0) = ref.getOrElse(key, (0.0, Set.empty[Int]))
        ref(key) = (s0 + delta, if (bit >= 0) b0 + bit else b0)
      }
      assert(m.size == ref.size)
      // a heap that holds every entry returns exactly the offered set; OR
      // offers every entry, AND only those with one bit per query term
      val termCounts = if (words == 0) Seq(3) else Seq(1, 2, 3)
      termCounts.foreach { terms =>
        val heap = new graft.search.BoundedHitHeap(ref.size)
        m.offerMatches(heap, terms)
        val got = heap.result()
        val want = ref.collect { case (k, (s, bits)) if words == 0 || bits.size == terms => k -> s }
        assert(got.size == want.size && got.toMap == want, s"words=$words terms=$terms")
        if (words > 0) assert(want.nonEmpty && want.size < ref.size, s"words=$words terms=$terms")
      }
    }
  }

  test("Lru: least-recent eviction by byte weight, re-puts counted once, one fill of the misses, budget 0") {
    val fills = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    // the value of key "a" is "aaaa": 4 bytes
    def get(lru: graft.search.Lru[String, String], keys: String*): Seq[String] =
      lru.getAll(keys) { misses => fills += misses; misses.map(_ * 4) }
    def missesOf(lru: graft.search.Lru[String, String], keys: String*): Seq[String] = {
      fills.clear()
      assert(get(lru, keys: _*) == keys.map(_ * 4))
      assert(fills.size <= 1, s"fill called ${fills.size} times")
      fills.headOption.getOrElse(Nil)
    }
    val lru = new graft.search.Lru[String, String](12, _.length.toLong)
    assert(missesOf(lru, "a", "b", "c") == Seq("a", "b", "c"))
    // a is used again, so b is the least recent: d's 4 bytes evict b alone
    assert(missesOf(lru, "a", "d") == Seq("d"))
    assert(missesOf(lru, "c", "a", "d") == Nil)
    assert(missesOf(lru, "d", "b", "a") == Seq("b")) // b evicts c
    assert(missesOf(lru, "c") == Seq("c"))
    // two callers filling one key put it twice; it still weighs 4 bytes
    val twice = new graft.search.Lru[String, String](12, _.length.toLong)
    twice.getAll(Seq("x")) { m => get(twice, m: _*); m.map(_ * 4) }
    assert(missesOf(twice, "y", "z") == Seq("y", "z"))
    assert(missesOf(twice, "x", "y", "z") == Nil)
    // a budget of 0 keeps nothing, yet each call returns what it filled
    val none = new graft.search.Lru[String, String](0, _.length.toLong)
    assert(missesOf(none, "a", "b") == Seq("a", "b"))
    assert(missesOf(none, "b", "a") == Seq("b", "a"))
  }

  test("AND + prefix: every query term needs >=1 matched expansion (both paths)") {
    import spark.implicits._
    val docs = Seq(
      CorpusDoc(1L, "r", "p1", "a" * 40, "en", "clap banana"),   // cl? yes, ba? yes
      CorpusDoc(2L, "r", "p2", "b" * 40, "en", "class clone"),   // cl? yes, ba? NO
      CorpusDoc(3L, "r", "p3", "c" * 40, "en", "banana split"),  // cl? NO
      CorpusDoc(4L, "r", "p4", "d" * 40, "en", "clip bar clap")) // both
    val store = new IndexStore(spark, TestSpark.tempDir("andpre"),
      IndexConfig(shardSpan = 16, fields = Seq("content")))
    store.createSegment(spark.createDataset(docs))
    def hits(cfg: IndexConfig): Seq[Long] = {
      val st = new IndexStore(spark, store.baseDir, cfg)
      new SearchEngine(st).search("cl ba", Seq("content"), beginsWith = true,
        k = 10, mode = SearchMode.And).collect().map(_.getLong(0)).sorted.toSeq
    }
    val driver = hits(IndexConfig(shardSpan = 16, fields = Seq("content")))
    val dist = hits(IndexConfig(shardSpan = 16, fields = Seq("content"), driverWandMaxBytes = 0))
    assert(driver == Seq(1L, 4L), s"driver AND+prefix got $driver")
    assert(dist == driver, "distributed AND+prefix must equal the driver path")
  }

  test("5 miss queries return empty") {
    Seq("qqqqxxxx", "zzznotterm", "graftmissing", "nohit404", "absenttok")
      .foreach { t =>
        assert(engine.search(t, Seq("content")).isEmpty, s"expected miss for $t")
        assert(OracleScorer.search(corpusLocal, t, Seq("content")).isEmpty)
      }
  }
}
