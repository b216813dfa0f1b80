package graft

import graft.core._
import graft.corpus.CorpusGen
import graft.index.IndexStore
import graft.search.{OracleScorer, SearchEngine, SearchMode}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IndexStore lifecycle: checkpoint/resume (SURVEY.md §7.2 M5), build
  * determinism across input partitionings, CRUD + compaction. */
class StoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = IndexConfig(shardSpan = 32)
  private def corpus(n: Int, seed: Long = 11) = CorpusGen.generate(spark, n, seed)

  test("resume skips completed stages (checkpoint markers)") {
    val dir = TestSpark.tempDir("resume")
    val store = new IndexStore(spark, dir, cfg)
    store.createSegment(corpus(80))
    def mtimes: Map[String, Long] = new java.io.File(s"$dir/seg-0/_checkpoints")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes
    Thread.sleep(1100)
    store.buildSegmentAt(0, corpus(80), resume = true)
    assert(mtimes == before, "resume must not rerun completed stages")
  }

  test("resume build onto FOREIGN uncommitted stage leftovers rebuilds, never adopts them") {
    // a crashed writer (stream batch or another add()) left full stage
    // outputs + done-markers at the id a resume build targets; the resume
    // must wipe and rebuild from ITS corpus, not commit the foreign docs
    val dir = TestSpark.tempDir("foreign-resume")
    val store = new IndexStore(spark, dir, IndexConfig(shardSpan = 32, fields = Seq("content")))
    val foreign = Seq(CorpusDoc(9999L, "rf", "p/f", "f" * 40, "en", "graftforeign doc content"))
    store.buildSegmentAt(0, spark.createDataset(foreign), resume = false)
    // roll back the manifest commit (the crash point); stage markers remain
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/manifest.json"), false)
    assert(store.segments.isEmpty && store.stageDone(0, "corpus"))
    val own = corpus(40, seed = 51).collect().toSeq
    store.createSegment(spark.createDataset(own), resume = true)
    assert(store.segments.map(_.id) == Seq(0))
    assert(store.segments.head.numDocs == 40, "segment must hold the RESUMING corpus")
    val eng = new SearchEngine(store)
    assert(eng.search("graftforeign", Seq("content"), k = 5).isEmpty,
      "foreign uncommitted docs must not be adopted by a resume build")
    assert(eng.search("import the", Seq("content"), k = 10).collect().nonEmpty)
    // and resuming with the SAME corpus again is a cheap stage-skip no-op
    val mtime = new java.io.File(s"$dir/seg-0/_checkpoints/postings.json").lastModified()
    Thread.sleep(1100)
    store.buildSegmentAt(0, spark.createDataset(own), resume = true)
    assert(new java.io.File(s"$dir/seg-0/_checkpoints/postings.json").lastModified() == mtime,
      "own committed stages must still be reused on resume")
  }

  test("resume recomputes only the missing stage, byte-identically") {
    val dir = TestSpark.tempDir("resume2")
    val store = new IndexStore(spark, dir, cfg)
    store.createSegment(corpus(80))
    def postings = spark.read.parquet(s"$dir/seg-0/postings")
      .select($"field", $"term", $"shard", $"count", hex($"blob").as("b"), hex($"blocks").as("bl"))
      .collect().map(_.toString).sorted.toSeq
    val before = postings
    // simulate a crash that lost the postings stage mid-write
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/seg-0/postings"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/seg-0/_checkpoints/postings.json"), false)
    val corpusMtime = new java.io.File(s"$dir/seg-0/_checkpoints/corpus.json").lastModified()
    store.buildSegmentAt(0, corpus(80), resume = true)
    assert(postings == before, "recomputed stage must be byte-identical")
    assert(new java.io.File(s"$dir/seg-0/_checkpoints/corpus.json").lastModified() == corpusMtime,
      "untouched stages must not rerun")
  }

  test("cacheBuild=false (extreme-scale mode) produces byte-identical output") {
    def build(cache: Boolean): Seq[String] = {
      val dir = TestSpark.tempDir(s"cache$cache")
      val store = new IndexStore(spark, dir, cfg.copy(cacheBuild = cache))
      store.createSegment(corpus(90))
      spark.read.parquet(s"$dir/seg-0/postings")
        .select($"field", $"term", $"shard", hex($"blob").as("b"))
        .collect().map(_.toString).sorted.toSeq
    }
    assert(build(true) == build(false))
  }

  test("build is deterministic across input partitionings") {
    def build(parts: Int): Seq[String] = {
      val dir = TestSpark.tempDir(s"det$parts")
      val store = new IndexStore(spark, dir, cfg)
      store.createSegment(corpus(100).repartition(parts))
      spark.read.parquet(s"$dir/seg-0/postings")
        .select($"field", $"term", $"shard", hex($"blob").as("b"))
        .collect().map(_.toString).sorted.toSeq
    }
    assert(build(2) == build(9), "blob bytes must not depend on parallelism")
  }

  test("delete hides docs; stats and df shrink; update re-adds under new segment") {
    val dir = TestSpark.tempDir("crud")
    val store = new IndexStore(spark, dir, cfg)
    val docs = corpus(60).collect().toSeq
    store.createSegment(spark.createDataset(docs))
    val engine = new SearchEngine(store)
    val n0 = store.fieldStats()("content")._1

    val victim = docs.head
    store.delete(Seq(victim.doc_id))
    assert(store.fieldStats()("content")._1 == n0 - 1)
    val live = docs.filterNot(_.doc_id == victim.doc_id)
    val term = graft.analysis.Analyzer.tokenize(victim.content).head
    val got = engine.search(term, Seq("content"), k = 60).collect().map(_.getLong(0)).toSet
    assert(!got.contains(victim.doc_id))
    // rank-parity vs oracle over the live corpus
    val oracle = OracleScorer.search(live, term, Seq("content"), k = 10)
    val topk = engine.search(term, Seq("content"), k = 10, mode = SearchMode.Wand)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(topk.map(_._1).toSeq == oracle.map(_.doc_id))

    // update: same doc_id, new content
    val updated = victim.copy(content = "graftfresh graftfresh content")
    store.update(spark.createDataset(Seq(updated)))
    val hits = engine.search("graftfresh", Seq("content"), k = 10).collect()
    assert(hits.map(_.getLong(0)).toSeq == Seq(victim.doc_id))
    assert(store.fieldStats()("content")._1 == n0)
    // the old content of the updated doc must no longer match
    val oldOnly = graft.analysis.Analyzer.tokenize(victim.content)
      .find(t => !graft.analysis.Analyzer.tokenize(updated.content).contains(t))
    oldOnly.foreach { t =>
      val ids = engine.search(t, Seq("content"), k = 60).collect().map(_.getLong(0)).toSet
      assert(!ids.contains(victim.doc_id), s"stale posting for $t")
    }
  }

  test("multi-field delete: live df table and field stats equal a fresh build of the survivors") {
    // all five fields, configured in UNSORTED order: the delete corrections
    // must map each narrow row's field rank through the sorted list
    val mcfg = IndexConfig(shardSpan = 32, fields = Seq("path", "content", "repo", "lang", "commit"))
    val docs = corpus(60, seed = 29).collect().toSeq
    val zeroTok = docs.head.copy(doc_id = 1000L, content = " \t ") // content: ZERO tokens
    val all = docs :+ zeroTok
    val victims = zeroTok.doc_id +: docs.slice(5, 10).map(_.doc_id)
    val store = new IndexStore(spark, TestSpark.tempDir("mfdel"), mcfg)
    store.createSegment(spark.createDataset(all))
    store.delete(victims)
    val fresh = new IndexStore(spark, TestSpark.tempDir("mfdel-fresh"), mcfg)
    fresh.createSegment(spark.createDataset(all.filterNot(d => victims.contains(d.doc_id))))
    def dfTable(s: IndexStore): Seq[String] = s.termDf().filter($"df" > 0)
      .select($"field", $"term", $"df").collect().map(_.toString).sorted.toSeq
    val got = dfTable(store)
    assert(got.map(_.takeWhile(_ != ',')).distinct.size == 5, "every field must carry terms")
    assert(got == dfTable(fresh), "df after delete must equal a fresh build of the survivors")
    assert(store.fieldStats() == fresh.fieldStats())
  }

  test("IndexStore.open adopts the persisted storage layout (shardSpan, fields)") {
    val dir = TestSpark.tempDir("layout")
    val built = new IndexStore(spark, dir,
      IndexConfig(shardSpan = 256, fields = Seq("content", "lang")))
    built.createSegment(corpus(20, seed = 61))
    val opened = IndexStore.open(spark, dir)
    assert(opened.cfg.shardSpan == 256 && opened.cfg.fields == Seq("content", "lang"),
      s"open() must adopt the built layout, got ${opened.cfg}")
    // query-side knobs come from the caller's base config, not the manifest
    val tuned = IndexStore.open(spark, dir, IndexConfig(driverWandMaxBytes = 0))
    assert(tuned.cfg.shardSpan == 256 && tuned.cfg.driverWandMaxBytes == 0)
    // a legacy manifest without a config block falls back to the base config
    val legacyDir = TestSpark.tempDir("layout-legacy")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$legacyDir/manifest.json"), true)
    out.write("""{"segments":[]}""".getBytes("UTF-8")); out.close()
    val legacy = IndexStore.open(spark, legacyDir)
    assert(legacy.cfg == IndexConfig())
  }

  test("mergeSmallSegments folds micro-batch segments; results identical; big segs kept") {
    val docs = CorpusGen.generate(spark, 200, seed = 71).collect().toSeq
    val c = IndexConfig(shardSpan = 32, fields = Seq("content"))
    val store = new IndexStore(spark, TestSpark.tempDir("merge"), c)
    // one "big" segment + eight micro-batch segments
    store.add(spark.createDataset(docs.take(120)))
    docs.drop(120).grouped(10).foreach(b => store.add(spark.createDataset(b)))
    assert(store.segments.size == 9)
    val twin = new IndexStore(spark, TestSpark.tempDir("merge-twin"), c)
    twin.createSegment(spark.createDataset(docs))
    def results(s: IndexStore) =
      new SearchEngine(s).search("import the", Seq("content"), k = 15, mode = SearchMode.Wand)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val before = results(store)
    assert(before == results(twin))
    val merged = store.mergeSmallSegments(maxDocs = 50)
    assert(merged.nonEmpty)
    assert(store.segments.size == 2, s"big + merged, got ${store.segments}")
    assert(store.segments.map(_.numDocs).sorted == Seq(80L, 120L))
    assert(results(store) == before, "merge must not change search results")
    // idempotent: only one segment remains at or under the bound
    assert(store.mergeSmallSegments(maxDocs = 50).isEmpty)
    // merged directories are gone from disk
    val live = store.segments.map(_.id).toSet
    val segDirs = new java.io.File(store.baseDir).listFiles()
      .filter(_.getName.startsWith("seg-")).map(_.getName.stripPrefix("seg-").toInt).toSet
    assert(segDirs == live, s"orphan segment dirs: ${segDirs -- live}")
    // with tombstones pending, merge refuses and points at compact()
    store.delete(Seq(docs.head.doc_id))
    intercept[IllegalArgumentException](store.mergeSmallSegments(maxDocs = 1000))
  }

  test("compaction preserves search results and clears tombstones") {
    val dir = TestSpark.tempDir("compact")
    val store = new IndexStore(spark, dir, cfg)
    val docs = corpus(50, seed = 23).collect().toSeq
    store.createSegment(spark.createDataset(docs.take(30)))
    store.add(spark.createDataset(docs.drop(30)))
    store.delete(docs.take(5).map(_.doc_id))
    val engine = new SearchEngine(store)
    val before = engine.search("import the", Seq("content"), k = 20, mode = SearchMode.Wand)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    store.compact()
    val store2 = new IndexStore(spark, dir, cfg)
    assert(store2.segments.size == 1)
    assert(store2.tombstoneCount() == 0L)
    val after = new SearchEngine(store2)
      .search("import the", Seq("content"), k = 20, mode = SearchMode.Wand)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(after == before, "compaction must not change results")
  }

  test("versionToken: equal across handles on an unchanged store, moved by each write of another") {
    val dir = TestSpark.tempDir("token")
    val docs = corpus(60, seed = 37).collect().toSeq
    val writer = new IndexStore(spark, dir, cfg)
    writer.createSegment(spark.createDataset(docs.take(40)))
    val reader = new IndexStore(spark, dir, cfg)
    assert(reader.versionToken() == writer.versionToken())
    assert(reader.versionToken() == reader.versionToken())
    val writes = Seq[(String, () => Unit)](
      "add" -> (() => { writer.add(spark.createDataset(docs.drop(40))); () }),
      "delete" -> (() => writer.delete(docs.take(3).map(_.doc_id))),
      "compact" -> (() => writer.compact()))
    writes.foreach { case (name, write) =>
      val before = reader.versionToken()
      write()
      val after = reader.versionToken()
      assert(after != before, s"$name through another handle must move the reader's token")
      assert(after == writer.versionToken())
    }
  }

  test("manifest numDocs is the stored corpus's row count: file copy, rewrite and resume") {
    val docs = corpus(90, seed = 31).collect().toSeq
    def check(store: IndexStore, path: String): Unit = {
      val stored = spark.read.parquet(s"${store.baseDir}/seg-0/corpus").count()
      assert(stored == docs.size)
      assert(store.segments.map(_.numDocs) == Seq(stored), s"$path: ${store.segments}")
    }
    // file copy: a bare parquet input whose files hold disjoint doc_id ranges
    val input = TestSpark.tempDir("numdocs-in") + "/in"
    spark.createDataset(docs).repartitionByRange(3, $"doc_id").write.parquet(input)
    val copied = new IndexStore(spark, TestSpark.tempDir("numdocs-copy"), cfg)
    copied.createSegment(spark.read.parquet(input).as[CorpusDoc])
    val names = new java.io.File(s"${copied.baseDir}/seg-0/corpus").list().filter(_.endsWith(".parquet"))
    assert(names.length == 3 && names.forall(_.matches("part-\\d{5}-part-.*")),
      s"expected the input files copied: ${names.toSeq}")
    check(copied, "file copy")
    // rewrite: an input that is not a bare parquet scan
    val dir = TestSpark.tempDir("numdocs-rewrite")
    val rewritten = new IndexStore(spark, dir, cfg)
    rewritten.createSegment(spark.createDataset(docs))
    check(rewritten, "rewrite")
    // resume: the corpus marker survives, later stages and the manifest do not
    Seq("postings.json", "df.json", "fieldstats.json").foreach { m =>
      assert(new java.io.File(s"$dir/seg-0/_checkpoints/$m").delete())
    }
    assert(new java.io.File(s"$dir/manifest.json").delete())
    val resumed = new IndexStore(spark, dir, cfg)
    resumed.createSegment(spark.createDataset(docs), resume = true)
    check(resumed, "resume")
  }

  test("createSegment's jobs on a file-copy input and on a rewrite input") {
    val docs = corpus(90, seed = 37).collect().toSeq
    val input = TestSpark.tempDir("jobs-in") + "/in"
    spark.createDataset(docs).repartitionByRange(3, $"doc_id").write.parquet(input)
    val copyInput = spark.read.parquet(input).as[CorpusDoc]
    // the build's stages run on pool threads: count every job of the app
    def jobs(in: Dataset[CorpusDoc]): Int =
      JobCounter.appWide(spark)(new IndexStore(spark, TestSpark.tempDir("jobs"), cfg).createSegment(in))._2
    val counts = (jobs(copyInput), jobs(spark.createDataset(docs)))
    assert(counts == (10, 12), s"(file copy, rewrite) jobs: $counts")
  }

  test("bare-parquet input with interleaved doc_id files is range-written, not copied") {
    val docs = corpus(120, seed = 29).collect().toSeq
    val input = TestSpark.tempDir("interleaved") + "/in"
    // two files: even ids, then odd ids — each spans the whole id range
    spark.createDataset(docs.filter(_.doc_id % 2 == 0)).coalesce(1).write.parquet(input)
    spark.createDataset(docs.filter(_.doc_id % 2 == 1)).coalesce(1).write.mode("append").parquet(input)
    val inDS = spark.read.parquet(input).as[CorpusDoc]
    assert(inDS.inputFiles.length == 2)
    val dir = TestSpark.tempDir("interleaved-store")
    val store = new IndexStore(spark, dir, cfg)
    store.createSegment(inDS)
    val files = new java.io.File(s"$dir/seg-0/corpus").listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"doc_id"), max($"doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert((1 until ranges.length).forall(i => ranges(i - 1)._2 < ranges(i)._1),
      s"stored corpus files overlap: ${ranges.toSeq}")
    val engine = new SearchEngine(store)
    val expected = OracleScorer.search(docs, "import class", k = 10)
    val got = engine.search("import class", k = 10).collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
    val hydrated = engine.searchDocs("import class", k = 10).collect()
    assert(hydrated.map(r => Hit(r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq == expected)
    val byId = docs.map(d => d.doc_id -> d.content).toMap
    hydrated.foreach(r => assert(r.getAs[String]("content") == byId(r.getAs[Long]("doc_id"))))
  }

  test("liveCorpus: an empty store has a one-segment store's columns, decided without a job") {
    val c = IndexConfig(shardSpan = 32, fields = Seq("content"))
    val empty = new IndexStore(spark, TestSpark.tempDir("live-empty"), c)
    val one = new IndexStore(spark, TestSpark.tempDir("live-one"), c)
    one.createSegment(corpus(40))
    assert(empty.liveCorpus().columns.toSeq == one.liveCorpus().columns.toSeq)
    assert(!one.liveCorpus().columns.contains("seg"))
    assert(empty.liveCorpus().count() == 0L)
    val hydrated = (s: IndexStore) => new SearchEngine(s).searchDocs("import class", Seq("content"), k = 10)
    assert(hydrated(empty).columns.toSeq == hydrated(one).columns.toSeq)
    assert(hydrated(empty).collect().isEmpty)
    // without tombstones, building the plan costs what the corpus plan costs
    Seq(empty, one).foreach { s =>
      val (_, corpusJobs) = JobCounter(spark)(s.corpus())
      val (_, liveJobs) = JobCounter(spark)(s.liveCorpus())
      assert(liveJobs.jobs <= corpusJobs.jobs && liveJobs.sqlExecutions <= corpusJobs.sqlExecutions,
        s"liveCorpus ran $liveJobs, corpus $corpusJobs")
    }
  }

  test("a version load infers no schema: jobs of the first read after an add and after a delete") {
    val docs = corpus(80, seed = 43).collect().toSeq
    val store = new IndexStore(spark, TestSpark.tempDir("load-jobs"), cfg)
    store.createSegment(spark.createDataset(docs.take(40)))
    val engine = new SearchEngine(store)
    def read(): Unit = { engine.search("import the", Seq("content"), k = 10).collect(); () }
    read()
    store.add(spark.createDataset(docs.drop(40)))
    val (_, afterAdd) = JobCounter.appWide(spark)(read())
    store.delete(docs.take(2).map(_.doc_id))
    val (_, afterDelete) = JobCounter.appWide(spark)(read())
    info(s"first read after add: $afterAdd jobs, after delete: $afterDelete jobs")
    assert((afterAdd, afterDelete) == (4, 7), s"(after add, after delete) jobs")
  }
}
