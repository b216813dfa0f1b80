package graft

import graft.core.IndexConfig
import graft.corpus.CorpusGen
import graft.index.IndexStore
import graft.search.{SearchEngine, SearchMode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** Plan audits: the scale story only holds if the plans are what we think
  * they are. Checks parquet filter pushdown on the postings and the term
  * dictionary, and — with a Spark listener, not plan strings — that a warm
  * distributed read is ONE job of one shuffle-free stage and a warm driver
  * read runs none; the pipeline plans stay within their Exchange budgets. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val engine: SearchEngine = {
    // fast path off: the audits target the DISTRIBUTED plans
    val store = new IndexStore(spark, TestSpark.tempDir("plan"),
      IndexConfig(shardSpan = 64, fields = Seq("content"), driverWandMaxBytes = 0))
    store.createSegment(CorpusGen.generate(spark, 120, seed = 31))
    new SearchEngine(store)
  }

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("exact-term search pushes term equality into the parquet scan") {
    // the scan a driver LRU miss reads
    val plan = physicalPlan(engine.shardScan(Seq(("content", "import"))))
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("In(term") || plan.contains("EqualTo(term") ||
      plan.contains("IsNotNull(term"), "term filter must reach the scan:\n" + plan.take(3000))
    // no pushed-filter-free full scan of the postings table
    assert(!plan.contains("PushedFilters: []") ||
      plan.split("PushedFilters").length <= 2,
      "postings scan must carry pushed filters:\n" + plan.take(3000))
  }

  test("prefix search pushes the term range into the df-table scan") {
    val dfScan = engine.store.termDf()
      .filter(org.apache.spark.sql.functions.col("term") >= "im" &&
        org.apache.spark.sql.functions.col("term") < "in")
    val plan = physicalPlan(dfScan)
    assert(plan.contains("GreaterThanOrEqual(term,im)") && plan.contains("LessThan(term,in)"),
      "range predicate must be pushed:\n" + plan.take(3000))
  }

  private val shapes = Seq(("import class", SearchMode.Or, false), ("import class", SearchMode.And, false),
    ("import the", SearchMode.Wand, false), ("im cla", SearchMode.Or, true))

  /** Jobs and stages of a repeat of each query shape (the first run fills
    * the df and prefix-expansion caches). */
  private def repeatCounts(eng: SearchEngine): Seq[JobCounter.Counts] = shapes.map { case (q, mode, bw) =>
    val first = eng.search(q, Seq("content"), bw, 10, mode).collect().toSeq
    assert(first.nonEmpty, s"[$q] $mode must hit")
    val (again, counts) = JobCounter(spark)(eng.search(q, Seq("content"), bw, 10, mode).collect().toSeq)
    assert(again == first)
    counts
  }

  /** A warm distributed read: one job, one stage, one task per partition,
    * no shuffle. */
  private lazy val oneStage = JobCounter.Counts(1, 1, spark.conf.get("spark.sql.shuffle.partitions").toInt)

  test("warm distributed Or/And/Wand/prefix read: one job, one stage, no shuffle") {
    repeatCounts(engine).zip(shapes).foreach { case (c, shape) =>
      assert(c == oneStage, s"$shape ran $c")
    }
  }

  test("past the tombstone bound, a warm distributed read is still one shuffle-free stage") {
    val store = new IndexStore(spark, TestSpark.tempDir("plan-tomb"),
      IndexConfig(shardSpan = 64, fields = Seq("content"), driverWandMaxBytes = 0))
    store.createSegment(CorpusGen.generate(spark, 120, seed = 31))
    store.delete(Seq(3L, 70L))
    val eng = new SearchEngine(store)
    repeatCounts(eng).zip(shapes).foreach { case (c, shape) =>
      assert(c == oneStage, s"$shape ran $c")
    }
  }

  test("the driver gate, max(Σ df, tombstone rows) · 8 ≤ driverWandMaxBytes, at its boundary") {
    import org.apache.spark.sql.functions.col
    val dir = TestSpark.tempDir("plan-gate")
    val cfg = IndexConfig(shardSpan = 64, fields = Seq("content"))
    val store = new IndexStore(spark, dir, cfg)
    store.createSegment(CorpusGen.generate(spark, 120, seed = 31))
    store.delete(0L until 6L)
    assert(store.tombstoneCount() == 6L)
    val df = store.termDf().filter(col("field") === "content")
    val rare = df.filter(col("df") === 1L).orderBy("term").first().getString(1)
    /** Jobs of a warm repeat of `q` under `bytes`: 0 on the driver, 1 distributed. */
    def warmJobs(q: String, bytes: Long): Int = {
      val eng = new SearchEngine(new IndexStore(spark, dir, cfg.copy(driverWandMaxBytes = bytes)))
      eng.search(q, Seq("content"), k = 10).collect()
      JobCounter(spark)(eng.search(q, Seq("content"), k = 10).collect())._2.jobs
    }
    val hot = df.filter(col("term") === "import").first().getLong(2)
    assert(hot > 6L)
    // "import": Σ df binds; the rare term: the tombstone rows bind
    Seq("import" -> hot, rare -> 6L).foreach { case (q, rows) =>
      assert(warmJobs(q, rows * 8) == 0 && warmJobs(q, rows * 8 - 1) == 1, s"[$q] at $rows rows")
    }
  }

  test("warm driver-path repeat of Or/And/Wand/prefix runs zero Spark jobs") {
    val store = new IndexStore(spark, TestSpark.tempDir("plan-driver"),
      IndexConfig(shardSpan = 64, fields = Seq("content")))
    store.createSegment(CorpusGen.generate(spark, 120, seed = 31))
    repeatCounts(new SearchEngine(store)).zip(shapes).foreach { case (c, shape) =>
      assert(c == JobCounter.Counts(0, 0), s"$shape ran $c")
    }
  }

  test("fused curate is ONE parquet scan, zero shuffles, inside codegen") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = physicalPlan(graft.pipeline.Curation.curate(docs))
    // "Scan parquet" also matches inside "FileScan parquet" — one count
    // per scan node either way
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"curate must read the corpus exactly once (got $scans):\n" +
      plan.take(2000))
    assert(!plan.contains("Exchange"), "curate must not shuffle:\n" + plan.take(2000))
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      "curate must stay inside codegen:\n" + plan.take(2000))
  }

  test("curation operators (sampling, split, PII scrub) are shuffle-free codegen'd maps") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("text of doc "), col("id").cast("string")).as("text"),
      when(col("id") % 2 === 0, "en").otherwise("fr").as("lang"))
    val plans = Seq(
      graft.pipeline.Sampling.stratifiedSample(docs, "lang", "doc_id",
        Map("en" -> 500000L, "fr" -> 250000L)),
      graft.pipeline.Sampling.withSplit(docs, "doc_id", 800000L, 100000L),
      graft.pipeline.TextAnalysis.scrubPii(docs)).map(physicalPlan)
    plans.foreach { plan =>
      assert(!plan.contains("Exchange"),
        "curation op must not shuffle:\n" + plan.take(2000))
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        "curation op must stay inside codegen:\n" + plan.take(2000))
    }
  }

  /** Exchange nodes (shuffle + broadcast) of each pipeline plan at sf0.001,
    * as measured when these budgets were set; a plan change may lower one,
    * never raise it. */
  private val exchangeBudgets = Seq("q_dedup_minhash_lsh" -> 46, "q_dedup_simhash" -> 10,
    "q_dedup_sweep" -> 2, "q_decontaminate" -> 19, "q_merge_segments" -> 1)

  private object AqePlan extends AdaptiveSparkPlanHelper

  test("pipeline plans stay within their Exchange-node budgets") {
    exchangeBudgets.foreach { case (name, budget) =>
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      // the AQE initial plan, subqueries included; planning runs no action
      val n = AqePlan.collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: Exchange => e
      }.size
      assert(n <= budget, s"$name plans $n Exchange nodes, budget $budget")
    }
  }
}
