package graft.search

import graft.{JobCounter, TestSpark}
import graft.analysis.Analyzer
import graft.core.{CorpusDoc, Hit, IndexConfig}
import graft.corpus.CorpusGen
import graft.index.IndexStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

/** The executor-resident postings of the distributed path: built once per
  * segment by the first distributed read that needs it, kept while the
  * manifest lists the segment, released when it leaves, and exact to
  * [[OracleScorer]] throughout. Every store here runs with the driver path
  * off (`driverWandMaxBytes = 0`). */
class ResidentSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
  private lazy val docs: Seq[CorpusDoc] = CorpusGen.generate(spark, 240, seed = 17, numRepos = 12).collect().toSeq

  private val cfg = IndexConfig(shardSpan = 32, fields = Seq("content"), driverWandMaxBytes = 0)

  private val shapes = Seq(("import class", SearchMode.Or, false), ("import the", SearchMode.And, false),
    ("import class scala", SearchMode.Wand, false), ("im cla", SearchMode.Or, true), ("sc im", SearchMode.Wand, true))

  /** A store over `docs`, one segment per batch. */
  private def store(batches: Seq[Seq[CorpusDoc]], c: IndexConfig = cfg): IndexStore = {
    val s = new IndexStore(spark, TestSpark.tempDir("resident"), c)
    batches.foreach(b => s.createSegment(spark.createDataset(b)))
    s
  }

  private def assertExact(eng: SearchEngine, live: Seq[CorpusDoc], q: String, mode: SearchMode,
                          bw: Boolean, k: Int = 10): Unit = {
    val expected = OracleScorer.search(live, q, Seq("content"), bw, k, andSemantics = mode == SearchMode.And)
    val got = eng.search(q, Seq("content"), bw, k, mode).collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected, s"[$q] $mode bw=$bw\n got=$got\n exp=$expected")
  }

  private def assertAllShapes(eng: SearchEngine, live: Seq[CorpusDoc]): Unit =
    shapes.foreach { case (q, mode, bw) => assertExact(eng, live, q, mode, bw) }

  /** Fills the engine's expansion and term-stat caches for `q`, so that a
    * following read runs only resident builds and its scoring job. */
  private def warmStats(eng: SearchEngine, q: String, bw: Boolean): Unit = {
    val terms = Analyzer.tokenize(q).distinct.sorted.toSeq
    val pairs = if (bw) terms.flatMap(eng.expandPrefix(_, Seq("content"))) else terms.map(("content", _))
    eng.termStats(pairs.distinct)
    ()
  }

  /** (name, id) of the persisted resident RDDs of the store at `dir`. */
  private def residentRdds(dir: String): Seq[(String, Int)] =
    spark.sparkContext.getPersistentRDDs.values.toSeq
      .filter(r => r.name != null && r.name.startsWith("resident ") && r.name.endsWith(s" of $dir"))
      .map(r => r.name.stripPrefix("resident ").stripSuffix(s" of $dir") -> r.id).sortBy(_._1)

  private def segRdd(dir: String, seg: Int): Int = {
    val ids = residentRdds(dir).collect { case (n, id) if n == s"postings seg-$seg" => id }
    assert(ids.size == 1, s"seg-$seg resident RDDs: ${residentRdds(dir)}")
    ids.head
  }

  test("first read builds each segment once, then one shuffle-free stage") {
    Seq(Seq(docs), docs.grouped(80).toSeq).foreach { batches =>
      val st = store(batches)
      val n = st.segments.size
      shapes.foreach { case (q, mode, bw) =>
        val eng = new SearchEngine(st)
        warmStats(eng, q, bw)
        val (_, first) = JobCounter(spark)(eng.search(q, Seq("content"), bw, 10, mode).collect())
        assert(first.jobs == n + 1 && first.stages == 2 * n + 1, s"[$q] $mode first read on $n segments ran $first")
        val (_, again) = JobCounter(spark)(eng.search(q, Seq("content"), bw, 10, mode).collect())
        assert(again == JobCounter.Counts(1, 1, partitions), s"[$q] $mode repeat on $n segments ran $again")
        assertExact(eng, docs, q, mode, bw)
      }
    }
  }

  test("several segments: Or/And/Wand/prefix and a 72-term AND, exact to oracle") {
    val eng = new SearchEngine(store(docs.grouped(60).toSeq))
    assert(eng.store.segments.size == 4)
    assertAllShapes(eng, docs)
    // doc i < 80 lacks term i; the rest hold all 80 terms; tfs vary
    val terms = (0 until 80).map(i => f"wt$i%02d")
    val wide = (0 until 100).map { i =>
      val body = terms.zipWithIndex.collect { case (t, j) if j != i => Seq.fill(1 + (i + j) % 3)(t).mkString(" ") }
      CorpusDoc(i.toLong, "r", s"p$i", "c" * 40, "en", body.mkString(" "))
    }
    val wideEng = new SearchEngine(store(wide.grouped(30).toSeq, cfg.copy(shardSpan = 16)))
    val q = terms.take(72).mkString(" ")
    assert(OracleScorer.search(wide, q, Seq("content"), k = 100, andSemantics = true).map(_.doc_id).sorted ==
      (72L until 100L))
    assertExact(wideEng, wide, q, SearchMode.And, bw = false, k = 100)
  }

  test("after add, only the new segment builds; the old segment's RDD is reused") {
    val st = store(Seq(docs.take(160)))
    val dir = st.baseDir
    val eng = new SearchEngine(st)
    assertAllShapes(eng, docs.take(160))
    val seg0 = segRdd(dir, 0)
    st.add(spark.createDataset(docs.drop(160)))
    warmStats(eng, "import class", bw = false)
    val (_, c) = JobCounter(spark)(eng.search("import class", Seq("content"), k = 10).collect())
    assert(c.jobs == 2 && c.stages == 3, s"read after add ran $c")
    assert(segRdd(dir, 0) == seg0, "seg-0 must keep its resident RDD")
    segRdd(dir, 1)
    assertAllShapes(eng, docs)
  }

  test("deletes past the tombstone bound stay exact; tombstones are per version") {
    val st = store(docs.grouped(120).toSeq)
    val dir = st.baseDir
    val eng = new SearchEngine(st)
    val first = docs.map(_.doc_id).filter(_ % 5 == 1)
    st.delete(first)
    assertAllShapes(eng, docs.filterNot(d => first.contains(d.doc_id)))
    val tomb = residentRdds(dir).collect { case ("tombstones", id) => id }
    assert(tomb.size == 1, residentRdds(dir).toString)
    val second = docs.map(_.doc_id).filter(_ % 5 == 2)
    st.delete(second)
    assertAllShapes(eng, docs.filterNot(d => first.contains(d.doc_id) || second.contains(d.doc_id)))
    val tomb2 = residentRdds(dir).collect { case ("tombstones", id) => id }
    assert(tomb2.size == 1 && tomb2 != tomb, s"old tombstones must be dropped: ${residentRdds(dir)}")
  }

  test("after compact(), reads use the new seg-0; the old one is unpersisted") {
    val st = store(docs.grouped(120).toSeq)
    val dir = st.baseDir
    val eng = new SearchEngine(st)
    val victims = docs.map(_.doc_id).filter(_ % 3 == 0)
    st.delete(victims)
    val live = docs.filterNot(d => victims.contains(d.doc_id))
    assertAllShapes(eng, live)
    assert(residentRdds(dir).map(_._1) == Seq("postings seg-0", "postings seg-1", "tombstones"))
    val old = residentRdds(dir).map(_._2).toSet
    st.compact()
    // compact() cleared the tombstones: a read of the old seg-0 would
    // resurface the deleted docs
    assertAllShapes(eng, live)
    val now = residentRdds(dir)
    assert(now.map(_._1) == Seq("postings seg-0") && !old.contains(now.head._2), s"$old -> $now")
  }

  test("persistent RDDs do not grow across 5 add/delete/compact cycles") {
    val st = store(Seq(docs.take(40)))
    val eng = new SearchEngine(st)
    val sc = spark.sparkContext
    var live = docs.take(40)
    val counts = (1 to 5).map { i =>
      val batch = docs.slice(40 * i, 40 * (i + 1))
      st.add(spark.createDataset(batch))
      live ++= batch
      assertAllShapes(eng, live)
      val victims = live.map(_.doc_id).filter(_ % 7 == i)
      st.delete(victims)
      live = live.filterNot(d => victims.contains(d.doc_id))
      assertAllShapes(eng, live)
      st.compact()
      assertAllShapes(eng, live)
      assert(residentRdds(st.baseDir).map(_._1) == Seq("postings seg-0"))
      sc.getPersistentRDDs.size
    }
    assert(counts.forall(_ <= counts.head), s"persistent RDDs per cycle: $counts")
  }

  test("a warm read is a named task over one ResidentRead: nothing for the closure cleaner") {
    // the closure cleaner's own tests: a `$anonfun$` class name, or a
    // synthetic class with writeReplace (a serializable lambda)
    Seq(classOf[ScoreTask], classOf[ResidentRead]).foreach { c =>
      assert(!c.getName.contains("$anonfun$") && !c.isSynthetic &&
        !c.getDeclaredMethods.exists(_.getName == "writeReplace"), c.getName)
    }
    // with deletes, the read's parents include the resident tombstones
    val st = store(docs.grouped(120).toSeq)
    val victims = docs.map(_.doc_id).filter(_ % 4 == 1)
    st.delete(victims)
    val eng = new SearchEngine(st)
    assertExact(eng, docs.filterNot(d => victims.contains(d.doc_id)), "import class", SearchMode.Or, bw = false)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.add(e.stageInfo); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (_, counts) = try JobCounter(spark)(eng.search("import class", Seq("content"), k = 10).collect())
      finally spark.sparkContext.removeSparkListener(listener)
    assert(counts == JobCounter.Counts(1, 1, partitions), counts.toString)
    // the stage's last RDD is the read; its parents are the resident RDDs
    val rdds = stages.peek().rddInfos
    val read = rdds.maxBy(_.id)
    val parents = rdds.filter(r => read.parentIds.contains(r.id)).map(_.name).sorted
    assert(read.name == "ResidentRead" &&
      parents.map(_.stripSuffix(s" of ${st.baseDir}")) == Seq("resident postings seg-0",
        "resident postings seg-1", "resident tombstones"), s"${read.name} <- $parents")
  }

  test("two threads' concurrent first reads build each segment once") {
    val st = store(docs.grouped(120).toSeq)
    val eng = new SearchEngine(st)
    warmStats(eng, "import class", bw = false)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Hit]]()
    val (_, c) = JobCounter(spark) {
      // threads created here inherit the counted job group
      val threads = (0 until 2).map { _ =>
        new Thread(() => {
          start.await()
          results.add(eng.search("import class", Seq("content"), k = 10).collect()
            .map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq)
          ()
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
    }
    assert(results.size == 2)
    assert(c.jobs == 2 + 2, s"2 segment builds + 2 reads expected, ran $c")
    val expected = OracleScorer.search(docs, "import class", Seq("content"), k = 10)
    results.forEach(r => assert(r == expected))
  }
}
