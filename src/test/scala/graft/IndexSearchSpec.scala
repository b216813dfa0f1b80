package graft

import graft.core._
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexStore}
import graft.search.{OracleScorer, SearchEngine, SearchMode}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end build + search parity against the single-node oracle scorer
  * (SURVEY.md §5 items 2-5; FIXTURES.md §4-5). */
class IndexSearchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // small shardSpan forces multi-shard posting lists even at 300 docs
  private val cfg = IndexConfig(shardSpan = 64)
  private lazy val corpusDS = CorpusGen.generate(spark, 300, seed = 7, numRepos = 20)
  private lazy val corpusLocal: Seq[CorpusDoc] = corpusDS.collect().toSeq
  private lazy val store: IndexStore = {
    val s = new IndexStore(spark, TestSpark.tempDir("idx"), cfg)
    s.createSegment(corpusDS)
    s
  }
  private lazy val engine = new SearchEngine(store)

  private def assertMatchesOracle(query: String,
                                  fields: Seq[String] = CorpusDoc.Fields,
                                  beginsWith: Boolean = false,
                                  k: Int = 10,
                                  mode: SearchMode = SearchMode.Or,
                                  corpus: Seq[CorpusDoc] = null): Unit = {
    val c = Option(corpus).getOrElse(corpusLocal)
    val oracle = OracleScorer.search(c, query, fields, beginsWith, k,
      andSemantics = mode == SearchMode.And, cfg.bm25)
    val got = engine.search(query, fields, beginsWith, k, mode)
      .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_.doc_id) == oracle.map(_.doc_id),
      s"rank mismatch for [$query] mode=$mode bw=$beginsWith\n got=$got\n exp=$oracle")
    got.zip(oracle).foreach { case (g, o) =>
      assert(math.abs(g.score - o.score) <= 1e-5,
        s"score drift for [$query] doc=${g.doc_id}: ${g.score} vs ${o.score}")
    }
  }

  test("index postings match per-doc analysis (spot check)") {
    val doc = corpusLocal.head
    val tf = graft.analysis.Analyzer.termFrequencies(doc.content)
    val term = tf.keys.min
    val decoded = engine.decode(
      engine.matchedShards(Seq(("content", term)))).collect()
      .map(r => (r.getLong(3), r.getInt(4), r.getInt(5)))
    val mine = decoded.find(_._1 == doc.doc_id)
    assert(mine.exists(_._2 == tf(term)), s"tf mismatch for $term")
    val dl = graft.analysis.Analyzer.tokenize(doc.content).length
    assert(mine.exists(_._3 == dl))
  }

  test("flatMap postings path equals relational explode path (content field)") {
    val fields = Seq("content")
    val walked = IndexBuilder.postingsNarrow(corpusDS, fields)
      .map { case (fidx, term, docId, tfdl) =>
        (fields.sorted.apply(fidx), term, docId, (tfdl >>> 32).toInt, tfdl.toInt) }
      .toDF("field", "term", "doc_id", "tf", "dl")
    assert(walked.select($"field").distinct().as[String].collect().toSeq == fields)
    val viaFlatMap = walked.select($"term", $"doc_id", $"tf", $"dl")
    val viaExplode = IndexBuilder.termFrequenciesDF(corpusDS.toDF(), "content")
      .select($"term", $"doc_id", $"tf".cast("int").as("tf"), $"dl".cast("int").as("dl"))
    assert(viaFlatMap.exceptAll(viaExplode).isEmpty &&
      viaExplode.exceptAll(viaFlatMap).isEmpty)
  }

  test("single exact term, rare and hot (OR)") {
    assertMatchesOracle("import", Seq("content"))          // hot Zipf head
    val rare = corpusLocal.flatMap(d =>
      graft.analysis.Analyzer.tokenize(d.content)).groupBy(identity)
      .minBy(_._2.size)._1
    assertMatchesOracle(rare, Seq("content"))
  }

  test("multi-term OR across all fields") {
    assertMatchesOracle("import class scala", CorpusDoc.Fields)
    assertMatchesOracle("the license go", CorpusDoc.Fields, k = 25)
  }

  test("multi-term AND semantics") {
    assertMatchesOracle("import the", Seq("content"), mode = SearchMode.And)
    assertMatchesOracle("import class def val", Seq("content"), mode = SearchMode.And)
  }

  /** Asserts `eng` returns exactly the oracle's top-k over `docs`: same
    * ranks and bit-identical scores. */
  private def assertExact(eng: SearchEngine, docs: Seq[CorpusDoc], q: String, fields: Seq[String],
                          beginsWith: Boolean, mode: SearchMode, k: Int = 10): Unit = {
    val oracle =
      if (mode == SearchMode.And && beginsWith) {
        // AND under expansion: every query term needs >= 1 matched expansion
        // (the oracle's AND counts matched index terms instead)
        val expansions = graft.analysis.Analyzer.tokenize(q).distinct.map(p => eng.expandPrefix(p, fields).toSet)
        val ok = docs.filter(d => expansions.forall(_.exists { case (f, t) =>
          graft.analysis.Analyzer.tokenize(CorpusDoc.fieldValue(d, f)).contains(t) })).map(_.doc_id).toSet
        OracleScorer.search(docs, q, fields, beginsWith, docs.size, params = cfg.bm25)
          .filter(h => ok(h.doc_id)).take(k)
      } else OracleScorer.search(docs, q, fields, beginsWith, k,
        andSemantics = mode == SearchMode.And, cfg.bm25)
    val got = eng.search(q, fields, beginsWith, k, mode)
      .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
    assert(got == oracle, s"[$q] $mode bw=$beginsWith fields=$fields\n got=$got\n exp=$oracle")
  }

  private val distQueries = Seq(
    ("import", Seq("content"), false), ("import class scala", Seq("content"), false),
    ("the license apache def", Seq("content"), false), ("imp cla", Seq("content"), true),
    ("import scala org-001/repo-010", CorpusDoc.Fields, false), ("sc im", CorpusDoc.Fields, true))

  test("distributed paths (fast path disabled) rank-identical to oracle") {
    val distStore = new graft.index.IndexStore(spark,
      TestSpark.tempDir("dist"), cfg.copy(driverWandMaxBytes = 0))
    distStore.createSegment(corpusDS)
    val distEngine = new SearchEngine(distStore)
    Seq(SearchMode.Wand, SearchMode.Or, SearchMode.And).foreach { mode =>
      distQueries.foreach { case (q, fields, bw) =>
        assertExact(distEngine, corpusLocal, q, fields, bw, mode)
      }
    }
  }

  test("two segments with deletes: both paths, both sides of the tombstone bound, exact to oracle") {
    val dir = TestSpark.tempDir("dist-del")
    val seed = new IndexStore(spark, dir, cfg)
    seed.createSegment(spark.createDataset(corpusLocal.take(200)))
    seed.add(spark.createDataset(corpusLocal.drop(200)))
    val victims = corpusLocal.map(_.doc_id).filter(d => d % 7 == 3)
    seed.delete(victims)
    val live = corpusLocal.filterNot(d => victims.contains(d.doc_id))
    // the tombstone side of the driver gate: rows · 8 just inside and just
    // past the bound (reads whose Σ df is over it run distributed either way)
    Seq(cfg, cfg.copy(driverWandMaxBytes = 0), cfg.copy(driverWandMaxBytes = victims.size * 8L),
        cfg.copy(driverWandMaxBytes = victims.size * 8L - 1),
        cfg.copy(driverBlobCacheBytes = 0)).foreach { c =>
      val eng = new SearchEngine(new IndexStore(spark, dir, c))
      assert(eng.store.segments.size == 2)
      assert(eng.store.tombstoneCount() == victims.size)
      Seq(SearchMode.Wand, SearchMode.Or, SearchMode.And).foreach { mode =>
        distQueries.foreach { case (q, fields, bw) => assertExact(eng, live, q, fields, bw, mode) }
      }
    }
  }

  test("a delete, then an add, through a second store handle reach the next search on both paths") {
    Seq(cfg, cfg.copy(driverWandMaxBytes = 0)).foreach { c =>
      val dir = TestSpark.tempDir("two-handles")
      new IndexStore(spark, dir, c).createSegment(spark.createDataset(corpusLocal.take(200)))
      val eng = new SearchEngine(new IndexStore(spark, dir, c))
      val writer = new IndexStore(spark, dir, c)
      def check(live: Seq[CorpusDoc]): Unit = Seq(SearchMode.Wand, SearchMode.Or, SearchMode.And).foreach { mode =>
        distQueries.foreach { case (q, fields, bw) => assertExact(eng, live, q, fields, bw, mode) }
      }
      check(corpusLocal.take(200))
      val victims = corpusLocal.take(200).map(_.doc_id).filter(_ % 6 == 1)
      writer.delete(victims)
      check(corpusLocal.take(200).filterNot(d => victims.contains(d.doc_id)))
      writer.add(spark.createDataset(corpusLocal.drop(200)))
      val live = corpusLocal.filterNot(d => victims.contains(d.doc_id))
      check(live)
      assert(eng.store.segments.size == 2)
      // compact renumbers the segments and removes the tombstone, dfdelta
      // and tombstats directories the reader's caches were built against
      writer.compact()
      assert(eng.store.segments.map(_.id) == Seq(0))
      Seq("tombstones", "dfdelta", "tombstats").foreach { d =>
        assert(!new java.io.File(s"$dir/$d").exists(), s"$d must be gone after compact")
      }
      check(live)
    }
  }

  test("AND with 64, 65 and 72 terms (and 65 prefixes) on the driver and on the distributed path") {
    // doc i < 80 lacks term i; docs 80..99 hold all 80 terms; tfs vary
    val terms = (0 until 80).map(i => f"wt$i%02d")
    val docs = (0 until 100).map { i =>
      val body = terms.zipWithIndex.collect {
        case (t, j) if j != i => Seq.fill(1 + (i + j) % 3)(t).mkString(" ")
      }
      CorpusDoc(i.toLong, "r", s"p$i", "c" * 40, "en", body.mkString(" "))
    }
    val dir = TestSpark.tempDir("wideand")
    val base = IndexConfig(shardSpan = 16, fields = Seq("content"))
    new IndexStore(spark, dir, base).createSegment(spark.createDataset(docs))
    Seq(base, base.copy(driverWandMaxBytes = 0)).foreach { c =>
      val eng = new SearchEngine(new IndexStore(spark, dir, c))
      Seq(64, 65, 72).foreach { n =>
        val q = terms.take(n).mkString(" ")
        val oracle = OracleScorer.search(docs, q, Seq("content"), k = 100, andSemantics = true)
        assert(oracle.map(_.doc_id).sorted == (n.toLong until 100L)) // docs lacking a query term drop
        assertExact(eng, docs, q, Seq("content"), beginsWith = false, SearchMode.And, k = 100)
      }
      // 65 prefix terms: "wt0" expands to wt00..wt09, the rest to themselves;
      // AND needs every query term matched, so docs 0..63 drop
      val q = ("wt0" +: terms.take(64)).mkString(" ")
      val expected = OracleScorer.search(docs, q, Seq("content"), beginsWith = true, k = 100)
        .filter(_.doc_id >= 64)
      val got = eng.search(q, Seq("content"), beginsWith = true, k = 100, mode = SearchMode.And)
        .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
      assert(got == expected, s"65-prefix AND\n got=$got\n exp=$expected")
    }
  }

  test("WAND rank-identical to oracle and to exhaustive") {
    Seq("import", "import class scala", "the license apache def",
        "handle stream merge").foreach { q =>
      assertMatchesOracle(q, Seq("content"), mode = SearchMode.Wand)
    }
    // all-fields WAND
    assertMatchesOracle("import scala org-001/repo-010", CorpusDoc.Fields,
      mode = SearchMode.Wand)
  }

  test("beginsWith prefix search (radix WalkPrefix analogue)") {
    assertMatchesOracle("imp", Seq("content"), beginsWith = true)
    assertMatchesOracle("cla str", Seq("content"), beginsWith = true)
  }

  test("field-scoped search touches only the requested field") {
    assertMatchesOracle("scala", Seq("lang"))
    assertMatchesOracle("import", Seq("path", "content"))
  }

  test("miss query returns empty") {
    assert(engine.search("zzz_not_a_term_zzz", Seq("content")).isEmpty)
  }

  test("per-row sha256 invariant (input_hint)") {
    import org.apache.spark.sql.functions._
    val src = corpusDS.select($"doc_id", sha2($"content", 256).as("s"))
    val stored = store.docStats().withColumnRenamed("content_sha", "s")
    assert(src.exceptAll(stored).isEmpty && stored.exceptAll(src).isEmpty)
  }

  test("parallel driver scoring is bit-identical to the oracle across many shard groups") {
    // shardSpan 16 → ~19 disjoint shard groups at 300 docs, so with the
    // local[4] test session the driver fast paths score on the shared pool
    // (round-6: concurrent per-shard units + SharedTheta floor for WAND).
    // Scores must stay EXACTLY equal to the sequential oracle sum — the
    // per-doc summation order is unchanged inside a unit and docs never
    // span units, so no tolerance is allowed here.
    val parStore = new IndexStore(spark, TestSpark.tempDir("parshard"),
      IndexConfig(shardSpan = 16))
    parStore.createSegment(corpusDS)
    val parEngine = new SearchEngine(parStore)
    Seq(SearchMode.Or, SearchMode.And, SearchMode.Wand).foreach { mode =>
      Seq("import", "import class scala", "the license apache def").foreach { q =>
        val oracle = OracleScorer.search(corpusLocal, q, Seq("content"), k = 10,
          andSemantics = mode == SearchMode.And, params = cfg.bm25)
        val got = parEngine.search(q, Seq("content"), k = 10, mode = mode)
          .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
        assert(got.map(_.doc_id) == oracle.map(_.doc_id),
          s"parallel rank mismatch for [$q] $mode\n got=$got\n exp=$oracle")
        got.zip(oracle).foreach { case (g, o) =>
          assert(g.score == o.score,
            s"parallel score not bit-identical for [$q] doc=${g.doc_id}: ${g.score} vs ${o.score}")
        }
      }
    }
  }

  test("stats: df/N/avgdl match oracle definitions") {
    val fstats = store.fieldStats()
    assert(fstats("content")._1 == corpusLocal.size)
    val totalDl = corpusLocal.map(d =>
      graft.analysis.Analyzer.tokenize(d.content).length.toLong).sum
    assert(fstats("content")._2 == totalDl)
    val df = store.termDf().filter($"field" === "content" && $"term" === "import")
      .collect().head.getLong(2)
    val expected = corpusLocal.count(d =>
      graft.analysis.Analyzer.tokenize(d.content).contains("import"))
    assert(df == expected)
  }
}
