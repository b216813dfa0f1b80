package graft

import graft.core._
import graft.corpus.CorpusGen
import graft.index.IndexStore
import graft.search.{OracleScorer, SearchEngine, SearchMode}
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases and the many-segment incremental regime. */
class EdgeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("empty store, empty query, whitespace query, unknown field") {
    val store = new IndexStore(spark, TestSpark.tempDir("empty"), IndexConfig(shardSpan = 64))
    val engine = new SearchEngine(store)
    assert(engine.search("anything").isEmpty)
    store.createSegment(CorpusGen.generate(spark, 20, seed = 2))
    assert(engine.search("").isEmpty)
    assert(engine.search("   \t\n ").isEmpty)
    assert(engine.search("import", Seq("content"), k = 0).isEmpty)
  }

  test("delete of unknown ids is a no-op; double delete does not double-count") {
    val store = new IndexStore(spark, TestSpark.tempDir("noop"), IndexConfig(shardSpan = 64))
    store.createSegment(CorpusGen.generate(spark, 30, seed = 3))
    val before = store.fieldStats()("content")
    store.delete(Seq(999999L, 888888L))
    assert(store.fieldStats()("content") == before)
    store.delete(Seq(5L))
    val afterOne = store.fieldStats()("content")
    store.delete(Seq(5L))
    assert(store.fieldStats()("content") == afterOne, "second delete must be a no-op")
  }

  test("ten incremental segments search identically to one batch segment") {
    val docs = CorpusGen.generate(spark, 200, seed = 77).collect().toSeq
    val cfg = IndexConfig(shardSpan = 32, fields = Seq("content"))
    val multi = new IndexStore(spark, TestSpark.tempDir("multi"), cfg)
    docs.grouped(20).foreach(batch => multi.add(spark.createDataset(batch)))
    assert(multi.segments.size == 10)
    val single = new IndexStore(spark, TestSpark.tempDir("single"), cfg)
    single.createSegment(spark.createDataset(docs))
    Seq(("import the", SearchMode.Wand), ("class def val", SearchMode.Or),
        ("import val", SearchMode.And)).foreach { case (q, mode) =>
      val a = new SearchEngine(multi).search(q, Seq("content"), k = 15, mode = mode)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val b = new SearchEngine(single).search(q, Seq("content"), k = 15, mode = mode)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(a == b, s"multi-segment result differs for [$q]")
      // and both equal the oracle
      val oracle = OracleScorer.search(docs, q, Seq("content"), k = 15,
        andSemantics = mode == SearchMode.And)
      assert(a.map(_._1) == oracle.map(_.doc_id))
    }
    // compaction of 10 segments preserves results
    multi.compact()
    val compacted = new IndexStore(spark, multi.baseDir, cfg)
    assert(compacted.segments.size == 1)
    val c = new SearchEngine(compacted).search("import the", Seq("content"), k = 15,
      mode = SearchMode.Wand)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val b = new SearchEngine(single).search("import the", Seq("content"), k = 15,
      mode = SearchMode.Wand)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(c == b)
  }

  test("bulk delete past the driver-tombstone bound: identical results past the bound") {
    val docs = CorpusGen.generate(spark, 80, seed = 21).collect().toSeq
    val victims = docs.map(_.doc_id).filter(_ % 5 == 0)
    assert(victims.size > 3)
    // a term of at most 3 live docs: its candidates fit a bound that the
    // tombstone rows, one per victim, miss by one byte
    val rare = docs.filterNot(d => victims.contains(d.doc_id))
      .flatMap(d => graft.analysis.Analyzer.tokenize(d.content).distinct)
      .groupBy(identity).collect { case (t, ds) if ds.size <= 3 => t }.min
    val cfgSmall = IndexConfig(shardSpan = 32, fields = Seq("content"))
    val cfgGuarded = cfgSmall.copy(driverWandMaxBytes = victims.size * 8L - 1)
    def build(cfg: IndexConfig, tag: String): SearchEngine = {
      val st = new IndexStore(spark, TestSpark.tempDir(tag), cfg)
      st.createSegment(spark.createDataset(docs))
      st.delete(victims)
      new SearchEngine(st)
    }
    val ref = build(cfgSmall, "tomb-ref")
    val guarded = build(cfgGuarded, "tomb-big")
    // a warm rare-term read: on the driver (no job) under the default
    // bound, distributed (one job) past the tombstone side of the gate
    def warmJobs(eng: SearchEngine): Int = {
      eng.search(rare, Seq("content"), k = 15).collect()
      JobCounter(spark)(eng.search(rare, Seq("content"), k = 15).collect())._2.jobs
    }
    assert(warmJobs(ref) == 0 && warmJobs(guarded) == 1)
    Seq((rare, SearchMode.Or), (rare, SearchMode.Wand), ("import the", SearchMode.Or),
        ("class def val", SearchMode.Wand), ("import val", SearchMode.And)).foreach { case (q, mode) =>
      val a = ref.search(q, Seq("content"), k = 15, mode = mode)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val b = guarded.search(q, Seq("content"), k = 15, mode = mode)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(a == b, s"guarded tombstone path diverges for [$q] $mode")
      assert(a.forall { case (d, _) => !victims.contains(d) })
    }
    assert(ref.store.liveCorpus().count() == guarded.store.liveCorpus().count())
  }

  test("deleting a doc with a zero-token field still decrements that field's n") {
    val docs = Seq(
      CorpusDoc(1L, "r1", "p/a", "a" * 40, "en", ""), // content: ZERO tokens
      CorpusDoc(2L, "r2", "p/b", "b" * 40, "en", "some words here"),
      CorpusDoc(3L, "r3", "p/c", "c" * 40, "en", "other words too"))
    val store = new IndexStore(spark, TestSpark.tempDir("zerotok"), IndexConfig(shardSpan = 64))
    store.createSegment(spark.createDataset(docs))
    assert(store.fieldStats()("content") == ((3L, 6L)))
    store.delete(Seq(1L))
    // n decrements by the victim count even though the victim contributed no
    // content tokens; sum_dl is unchanged for content (dl was 0)
    assert(store.fieldStats()("content") == ((2L, 6L)),
      s"content stats drifted: ${store.fieldStats()("content")}")
    assert(store.fieldStats()("repo")._1 == 2L)
  }

  test("fuzzy expansion is capped at 100 terms in (term, field) order") {
    val docs = (0 until 150).map { i =>
      CorpusDoc(i.toLong, "r", s"p/$i", "d" * 40, "en", f"qa$i%03d filler")
    }
    val store = new IndexStore(spark, TestSpark.tempDir("fuzzcap"),
      IndexConfig(shardSpan = 64, fields = Seq("content")))
    store.createSegment(spark.createDataset(docs))
    val engine = new SearchEngine(store)
    val expanded = engine.expandFuzzy("qa", Seq("content"))
    assert(expanded.size == 100)
    assert(expanded == expanded.sortBy(p => (p._2, p._1)), "must be (term, field)-ordered")
    assert(expanded.head._2 == "qa000")
  }

  test("fuzzy expansion of an emoji-led key matches by code point, exact to oracle") {
    val docs = Seq(
      CorpusDoc(1L, "r", "p/1", "a" * 40, "en", "😀park 😀park plain"),
      CorpusDoc(2L, "r", "p/2", "b" * 40, "en", "😀pork 😀xyz"),
      CorpusDoc(3L, "r", "p/3", "c" * 40, "en", "😁pk park"))
    val store = new IndexStore(spark, TestSpark.tempDir("fuzzastral"),
      IndexConfig(shardSpan = 64, fields = Seq("content")))
    store.createSegment(spark.createDataset(docs))
    val eng = new SearchEngine(store)
    assert(eng.expandFuzzy("😀pk", Seq("content")).map(_._2) == Seq("😀park", "😀pork"))
    val got = eng.searchFuzzy("😀pk", Seq("content"), k = 10)
      .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty)
    assert(got == OracleScorer.search(docs, "😀park 😀pork", Seq("content"), k = 10))
  }

  test("resume after one committed segment targets the NEXT id, not the committed one") {
    val store = new IndexStore(spark, TestSpark.tempDir("resume-next"),
      IndexConfig(shardSpan = 64, fields = Seq("content")))
    store.createSegment(CorpusGen.generate(spark, 20, seed = 5))
    assert(store.segments.map(_.id) == Seq(0))
    // a crashed seg-1 build never reached the manifest; resume must build
    // seg-1 from the NEW corpus (the old bug re-ran seg-0, whose done-markers
    // all exist, and silently skipped the new input entirely)
    val extra = Seq(CorpusDoc(9999L, "rx", "p/x", "e" * 40, "en", "graftresumetoken appears"))
    val segId = store.createSegment(spark.createDataset(extra), resume = true)
    assert(segId == 1)
    val hits = new SearchEngine(store).search("graftresumetoken", Seq("content"), k = 5)
      .collect().map(_.getLong(0))
    assert(hits.sameElements(Array(9999L)), "resumed segment must index the new corpus")
  }

  test("compact recovers from a crash between its two renames") {
    val docs = CorpusGen.generate(spark, 30, seed = 8).collect().toSeq
    val cfg = IndexConfig(shardSpan = 32, fields = Seq("content"))
    val store = new IndexStore(spark, TestSpark.tempDir("comprec"), cfg)
    store.createSegment(spark.createDataset(docs))
    store.delete(Seq(3L))
    val expected = new SearchEngine(store).search("import the", Seq("content"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    // simulate the crash window: baseDir moved aside, new store not yet in place
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(store.baseDir),
      new org.apache.hadoop.fs.Path(store.baseDir + ".old")))
    // re-running compact must restore the store first, then compact it
    val reopened = new IndexStore(spark, store.baseDir, cfg)
    reopened.compact()
    assert(reopened.segments.size == 1)
    assert(reopened.tombstoneCount() == 0)
    val after = new SearchEngine(reopened).search("import the", Seq("content"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(after == expected, "recovered+compacted store must serve identical results")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store.baseDir + ".old")))
  }

  test("app registry: per-app stores, listApps live counts, dropApp") {
    val reg = new graft.index.AppRegistry(spark, TestSpark.tempDir("apps"),
      IndexConfig(shardSpan = 64, fields = Seq("content")))
    assert(reg.appNames().isEmpty && reg.listApps().isEmpty)
    reg.app("alpha").createSegment(CorpusGen.generate(spark, 20, seed = 1))
    reg.app("beta").createSegment(CorpusGen.generate(spark, 30, seed = 2))
    assert(reg.appNames() == Seq("alpha", "beta"))
    assert(reg.exists("alpha") && !reg.exists("gamma"))
    def rows = reg.listApps().orderBy("app").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("alpha", 1L, 20L), ("beta", 1L, 30L)))
    // mutations stay namespaced: delete in alpha, append in beta
    reg.app("alpha").delete(Seq(0L, 1L))
    reg.app("beta").add(spark.createDataset(Seq(
      CorpusDoc(500L, "rx", "p/x", "f" * 40, "en", "fresh beta doc"))))
    assert(rows == Seq(("alpha", 1L, 18L), ("beta", 2L, 31L)))
    reg.dropApp("alpha")
    assert(reg.appNames() == Seq("beta"))
    intercept[IllegalArgumentException](reg.app("../evil"))
    intercept[IllegalArgumentException](reg.app(".."))
    intercept[IllegalArgumentException](reg.dropApp("."))
    // compact()'s working suffixes are reserved and never surface as apps
    intercept[IllegalArgumentException](reg.app("x.compact"))
    intercept[IllegalArgumentException](reg.app("y.old"))
    reg.app("beta").compact()
    assert(reg.appNames() == Seq("beta"), "compact work dirs must not list as apps")
  }

  test("app registry: existing apps adopt their persisted layout, new apps use the registry cfg") {
    val root = TestSpark.tempDir("appslayout")
    new graft.index.AppRegistry(spark, root,
      IndexConfig(shardSpan = 64, fields = Seq("content", "lang")))
      .app("alpha").createSegment(CorpusGen.generate(spark, 15, seed = 3))
    // reopen the registry under a DIFFERENT default layout: alpha must keep
    // the layout its segments were encoded with, a fresh app must not
    val reg2 = new graft.index.AppRegistry(spark, root, IndexConfig(shardSpan = 512))
    val alpha = reg2.app("alpha")
    assert(alpha.cfg.shardSpan == 64 && alpha.cfg.fields == Seq("content", "lang"),
      s"existing app must adopt its persisted layout, got ${alpha.cfg}")
    assert(reg2.app("gamma").cfg.shardSpan == 512)
    // and the adopted store still serves queries over its old-layout segments
    assert(new SearchEngine(alpha).search("the", Seq("content"), k = 5).count() > 0)
  }

  test("concurrent queries on one engine: parallel cache fills agree with sequential") {
    val docs = CorpusGen.generate(spark, 120, seed = 31).collect().toSeq
    val store = new IndexStore(spark, TestSpark.tempDir("conc"),
      IndexConfig(shardSpan = 32, fields = Seq("content")))
    store.createSegment(spark.createDataset(docs))
    val eng = new SearchEngine(store)
    val queries = Seq(("import the", SearchMode.Or), ("class def", SearchMode.Wand),
      ("import val", SearchMode.And), ("im", SearchMode.Or))
    def run(q: String, mode: SearchMode): Seq[(Long, Long)] =
      eng.search(q, Seq("content"), beginsWith = q == "im", k = 10, mode = mode)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val expected = queries.map { case (q, m) => (q, m) -> run(q, m) }.toMap
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def hammer(): Unit = {
      val fs = (0 until 16).map { i =>
        val (q, m) = queries(i % queries.size)
        Future { (q, m, run(q, m)) }
      }
      Await.result(Future.sequence(fs), 5.minutes).foreach { case (q, m, got) =>
        assert(got == expected((q, m)), s"parallel result diverged for [$q] $m")
      }
    }
    hammer() // cold caches filled by racing threads
    hammer() // warm caches
    // CRUD between phases: caches invalidate, parallel results track the delete
    val victim = expected(("import the", SearchMode.Or)).head._1
    store.delete(Seq(victim))
    val after = queries.map { case (q, m) => (q, m) -> run(q, m) }.toMap
    assert(!after(("import the", SearchMode.Or)).map(_._1).contains(victim))
    val fs2 = (0 until 8).map { i =>
      val (q, m) = queries(i % queries.size)
      Future { (q, m, run(q, m)) }
    }
    Await.result(Future.sequence(fs2), 5.minutes).foreach { case (q, m, got) =>
      assert(got == after((q, m)), s"post-delete parallel result diverged for [$q] $m")
    }
  }

  test("retry-after-commit detection: lastSegmentMatches") {
    val docs = CorpusGen.generate(spark, 25, seed = 13).collect().toSeq
    val store = new IndexStore(spark, TestSpark.tempDir("retry"),
      IndexConfig(shardSpan = 32, fields = Seq("content")))
    assert(!store.lastSegmentMatches(spark.createDataset(docs)), "empty store matches nothing")
    store.createSegment(spark.createDataset(docs))
    assert(store.lastSegmentMatches(spark.createDataset(docs)),
      "identical corpus must be recognized (build retry becomes a no-op)")
    assert(!store.lastSegmentMatches(spark.createDataset(docs.take(24))))
    val mutated = docs.head.copy(content = docs.head.content + " extra") +: docs.tail
    assert(!store.lastSegmentMatches(spark.createDataset(mutated)))
    // the fingerprint covers EVERY indexed field: a corpus whose content is
    // identical but whose repo/lang metadata changed is NOT the same build
    val metaMutated = docs.head.copy(repo = docs.head.repo + "x") +: docs.tail
    assert(!store.lastSegmentMatches(spark.createDataset(metaMutated)),
      "metadata-only change must not be declared a retry no-op")
    val langMutated = docs.head.copy(lang = "zz") +: docs.tail
    assert(!store.lastSegmentMatches(spark.createDataset(langMutated)))
  }

  test("distributed bulk delete (DataFrame of ids) equals the Seq path past the driver bound") {
    val docs = CorpusGen.generate(spark, 80, seed = 41).collect().toSeq
    val victims = docs.map(_.doc_id).filter(_ % 3 == 0)
    // driverWandMaxBytes = 0: every read after the delete runs distributed,
    // against the resident tombstones
    val cfg = IndexConfig(shardSpan = 32, fields = Seq("content"), driverWandMaxBytes = 0)
    assert(victims.size > 3)
    def build(tag: String): IndexStore = {
      val st = new IndexStore(spark, TestSpark.tempDir(tag), cfg)
      st.createSegment(spark.createDataset(docs))
      st
    }
    val viaSeq = build("bulkdel-seq")
    viaSeq.delete(victims)
    val viaDf = build("bulkdel-df")
    viaDf.delete(victims.toDF("some_id_col")) // any column name, never collected
    // idempotence: re-deleting the same ids (plus unknowns) via the DF path
    // must not double-count df/stats corrections
    viaDf.delete((victims ++ Seq(999999L)).toDF("some_id_col"))
    assert(viaSeq.fieldStats() == viaDf.fieldStats())
    assert(viaSeq.liveCorpus().count() == viaDf.liveCorpus().count())
    Seq(("import the", SearchMode.Or), ("class def val", SearchMode.Wand),
        ("import val", SearchMode.And)).foreach { case (q, mode) =>
      val a = new SearchEngine(viaSeq).search(q, Seq("content"), k = 15, mode = mode)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val b = new SearchEngine(viaDf).search(q, Seq("content"), k = 15, mode = mode)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(a == b, s"DataFrame-delete path diverges for [$q] $mode")
      assert(b.forall { case (d, _) => d % 3 != 0 })
    }
  }

  test("listApps runs at most ONE Spark job even with tombstoned apps") {
    val reg = new graft.index.AppRegistry(spark, TestSpark.tempDir("appjobs"),
      IndexConfig(shardSpan = 64, fields = Seq("content")))
    reg.app("a1").createSegment(CorpusGen.generate(spark, 20, seed = 1))
    reg.app("a2").createSegment(CorpusGen.generate(spark, 25, seed = 2))
    reg.app("a3").createSegment(CorpusGen.generate(spark, 30, seed = 3))
    reg.app("a1").delete(Seq(0L, 1L))
    reg.app("a2").delete(Seq(2L))
    val sc = spark.sparkContext
    sc.setJobGroup("list-apps", "catalog listing")
    val rows = reg.listApps().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    sc.clearJobGroup()
    Thread.sleep(500) // listener bus drain
    val jobs = sc.statusTracker.getJobIdsForGroup("list-apps")
    assert(jobs.length <= 1,
      s"listApps must union all tombstone corrections into one job, ran ${jobs.length}")
    assert(rows == Seq(("a1", 1L, 18L), ("a2", 1L, 24L), ("a3", 1L, 30L)))
  }

  test("listApps fans its per-app metadata reads out in parallel (100-app catalog)") {
    // 100 apps as hand-written manifests (an app IS a dir with a committed
    // manifest): the listing is pure driver-side FS metadata — zero Spark
    // jobs for tombstone-free apps — and the round-trips must be pooled,
    // not serial, so a big catalog lists in ~max(read) not sum(read)
    val root = TestSpark.tempDir("manyapps")
    (0 until 100).foreach { i =>
      val d = java.nio.file.Paths.get(root, f"app$i%03d")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("manifest.json"),
        s"""{"config":{"shardSpan":64,"fields":["content"]},""" +
        s""""segments":[{"id":0,"numDocs":${i + 1}}]}""")
    }
    val reg = new graft.index.AppRegistry(spark, root)
    val rows = reg.listApps().collect()
    assert(rows.length == 100)
    assert(rows.map(r => (r.getString(0), r.getLong(2))).toSeq
      .sortBy(_._1).take(3) == Seq(("app000", 1L), ("app001", 2L), ("app002", 3L)))
    // (no wall-clock assertion: local-FS manifest reads are too fast to
    // distinguish pooled from serial, and timing asserts flake on loaded
    // hosts — the pooling itself is the Future.sequence in listApps)
  }

  test("Cli decontaminate writes pairs + coverage from one report") {
    val work = TestSpark.tempDir("cli-decont")
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$work/train")
    // bench: 4-token snippets of docs 0/10/20 (containment 1.0 in source)
    // plus one sub-k item that must surface as undetectable
    docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 900).as("doc_id"),
        org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.slice(
            graft.analysis.Analyzer.tokens($"text"), 1, 4)).as("text"))
      .unionByName(Seq((999L, "tiny")).toDF("doc_id", "text"))
      .write.parquet(s"$work/bench")
    graft.Cli.run(spark, Array("decontaminate", s"$work/train", s"$work/bench",
      s"$work/out", "--min-containment", "0.8"))
    val pairs = spark.read.parquet(s"$work/out/pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 900L), (10L, 910L), (20L, 920L)))
    val cov = spark.read.parquet(s"$work/out/coverage").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cov(999L) == 0L, "sub-k bench item must be reported undetectable")
    assert(cov.size == 4)
  }

  test("Cli dedup --incremental sweeps via the persisted signature index") {
    val docs = (0 until 12).map { i =>
      CorpusDoc(i.toLong, "r", s"p/$i", "a" * 40, "en",
        s"uno$i dos$i tres$i cuatro$i cinco$i seis$i")
    } ++ Seq(3, 8).map(i =>
      CorpusDoc(i + 100L, "r", s"p/c$i", "b" * 40, "en",
        s"uno$i dos$i tres$i cuatro$i cinco$i seis$i extra"))
    val dir = TestSpark.tempDir("cli-inc")
    val store = new IndexStore(spark, dir,
      IndexConfig(shardSpan = 64, fields = Seq("content")))
    store.createSegment(spark.createDataset(docs))
    graft.Cli.run(spark, Array("dedup", dir, "--min-jaccard", "0.5", "--incremental"))
    assert(store.liveCorpus().count() == 12)
    // second run: watermark covers everything at this threshold — no-op
    graft.Cli.run(spark, Array("dedup", dir, "--min-jaccard", "0.5", "--incremental"))
    assert(store.liveCorpus().count() == 12)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "similarity.json")))
  }

  test("prefix expansion at code-point boundaries: U+D7FF-adjacent and astral prefixes") {
    val docs = Seq(
      CorpusDoc(1L, "r", "p/1", "a" * 40, "en", "x퟾ab x퟿ab"),
      CorpusDoc(2L, "r", "p/2", "b" * 40, "en", "😀park 😀xyz plain"))
    val store = new IndexStore(spark, TestSpark.tempDir("astral"),
      IndexConfig(shardSpan = 64, fields = Seq("content")))
    store.createSegment(spark.createDataset(docs))
    val eng = new SearchEngine(store)
    // safe range: successor of U+D7FE is U+D7FF — must NOT swallow the
    // U+D7FF term (the old (lo.last+1).toChar bound was wrong here)
    assert(eng.expandPrefix("x퟾", Seq("content")).map(_._2) == Seq("x퟾ab"))
    // U+D7FF prefix: successor would be a surrogate — startswith fallback
    assert(eng.expandPrefix("x퟿", Seq("content")).map(_._2) == Seq("x퟿ab"))
    // astral prefix (ends in a low surrogate): startswith fallback
    assert(eng.expandPrefix("😀", Seq("content")).map(_._2).sorted ==
      Seq("😀park", "😀xyz"))
    val hits = eng.search("😀", Seq("content"), beginsWith = true, k = 5)
      .collect().map(_.getLong(0))
    assert(hits.toSeq == Seq(2L))
    // empty prefix would otherwise "match" cap arbitrary terms — reject
    intercept[IllegalArgumentException](eng.expandPrefix("", Seq("content")))
  }

  test("warm repeat query is served from driver caches with ZERO Spark jobs") {
    val docs = CorpusGen.generate(spark, 60, seed = 9).collect().toSeq
    val store = new IndexStore(spark, TestSpark.tempDir("hotcache"),
      IndexConfig(shardSpan = 32, fields = Seq("content")))
    store.createSegment(spark.createDataset(docs))
    val eng = new SearchEngine(store)
    def run(): Seq[(Long, Long)] =
      eng.search("import the", Seq("content"), k = 10, mode = SearchMode.Wand)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val first = run()
    assert(first.nonEmpty)
    val sc = spark.sparkContext
    sc.setJobGroup("warm-query", "warm repeat")
    val second = run()
    sc.clearJobGroup()
    assert(second == first)
    Thread.sleep(500) // listener bus drain
    val jobs = sc.statusTracker.getJobIdsForGroup("warm-query")
    assert(jobs.isEmpty, s"warm repeat query must run no Spark jobs, ran ${jobs.length}")
    // CRUD invalidates the caches: the deleted doc disappears from results
    store.delete(Seq(first.head._1))
    val third = run()
    assert(!third.map(_._1).contains(first.head._1), "cache must invalidate on delete")
  }

  test("driver pool: a failing unit surfaces its own exception type and cancels the rest") {
    import graft.search.DriverPool
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[java.io.IOException] {
      DriverPool.run(64, 2) { u =>
        started.incrementAndGet()
        if (u == 0) throw new java.io.IOException("unit 0 failed")
        Thread.sleep(50)
        u
      }
    }
    assert(e.getMessage == "unit 0 failed")
    Thread.sleep(400) // uncancelled, ≥ 2 threads would start ≥ 16 more units meanwhile
    assert(started.get < 12, s"the remaining units must be cancelled; ${started.get} started")
    assert(DriverPool.run(8, 2)(_ * 2).toSeq == (0 until 8).map(_ * 2), "the pool must stay usable")
  }

  test("driver pool: the calling thread runs units itself") {
    import graft.search.DriverPool
    val caller = Thread.currentThread()
    val threads = DriverPool.run(4, 4) { _ => Thread.sleep(50); Thread.currentThread() }
    assert(threads.contains(caller), s"the caller ran none of the units: ${threads.map(_.getName).toSeq}")
  }

  test("driver pool: units that call run themselves do not deadlock") {
    import graft.search.DriverPool
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // more outer units than threads, each running a nested call on the same
    // shared pool: a caller that waited for queued tasks would hang here
    val nested = Future(DriverPool.run(8, 2) { u =>
      DriverPool.run(4, 2) { v => Thread.sleep(5); u * 10 + v }.sum
    })(scala.concurrent.ExecutionContext.global)
    val sums = Await.result(nested, 30.seconds)
    assert(sums.toSeq == (0 until 8).map(u => (0 until 4).map(u * 10 + _).sum))
  }

  test("driver pool: results come back in unit order") {
    import graft.search.DriverPool
    val rnd = new scala.util.Random(7)
    val delays = Array.fill(64)(rnd.nextInt(3))
    val out = DriverPool.run(64, 3) { u => Thread.sleep(delays(u)); s"unit-$u" }
    assert(out.toSeq == (0 until 64).map(u => s"unit-$u"))
  }

  test("commit-field exact lookup (40-hex unique terms)") {
    val docs = CorpusGen.generate(spark, 50, seed = 12).collect().toSeq
    val store = new IndexStore(spark, TestSpark.tempDir("commit"), IndexConfig(shardSpan = 64))
    store.createSegment(spark.createDataset(docs))
    val engine = new SearchEngine(store)
    val target = docs(17)
    val hits = engine.search(target.commit, Seq("commit"), k = 5)
      .collect().map(_.getLong(0))
    assert(hits.contains(target.doc_id))
  }
}
