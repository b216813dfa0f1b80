package perfbench

import graft.analysis.Analyzer
import graft.core.{CorpusDoc, Hit, IndexConfig}
import graft.corpus.CorpusGen
import graft.index.IndexStore
import graft.search.{SearchEngine, SearchMode}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{length, sum}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run: one workload, one seed, one process, one client
  * thread, `local[<cores>]`.
  *
  * {{{
  * perfbench.Main --workload serve_warm --seed 1 --seconds 8 --trace 0 --dir <work dir>
  * }}}
  *
  * Set-up (timed as `setup_s`, [[SetUps]] times, median reported): generate
  * the corpus to bare parquet, build a one-segment store with
  * `IndexStore.createSegment` and open a `SearchEngine` on it. The last
  * set-up's engine then serves a closed loop: untimed, every distinct query
  * once (its cold run) and then reads for [[WarmSeconds]] while the JIT
  * compiles the read path, then `--seconds` timed, longer if the tail
  * percentile needs more samples, then the workload's hydrated reads. Every
  * timed response is checked against [[Reference]] outside its timed
  * interval. The last stdout line is the JSON result.
  *
  * `--trace 1` records spans around every call into `analysis`, `index`
  * and `search`, attributes Spark jobs to them with a listener, and reports
  * the per-layer metrics instead of the end-to-end ones. */
object Main {

  /** A serving workload. `distributed` opens the engine with the driver
    * fast path off (`driverWandMaxBytes = 0`, as `graft.Bench`'s
    * `wand3_distributed` does) and keeps only the query shapes that plan
    * Spark jobs there. `hydrated` `searchDocs` reads are timed after the
    * plain loop: each runs a Spark join, and interleaved they would slow
    * the plain zero-job reads around them. */
  final case class Workload(name: String, distributed: Boolean, hydrated: Int)

  val Workloads: Map[String, Workload] = Seq(
    Workload("serve_warm", distributed = false, hydrated = 5),
    Workload("serve_dist", distributed = true, hydrated = 0)
  ).map(w => w.name -> w).toMap

  /** Corpus size. The paper-scale 200k-doc corpus builds in ~20 s at
    * local[4] on a 4-core VM, which leaves no room for repeated set-ups
    * inside one run; 2k docs keep a run under a minute. */
  val Docs = 2000
  val Repos = 200
  /** Several docId-range shards per term at this corpus size, so the
    * driver pool and shard merges run as they do at scale. */
  val ShardSpan: Long = 1L << 9
  val SetUps = 3
  /** Untimed reads after each query's cold run and before the timed loop;
    * the C1 compiler (see run.py) has compiled the read path by then. */
  val WarmSeconds = 5
  /** The tail percentile reported, p75. Over a run's few seconds of reads
    * p90 swung with short stalls of the host: on `serve_warm` (C2-compiled)
    * it read 6.8–14.4 ms across ten runs whose medians stayed within
    * 5.2–6.5 ms. */
  val TailPerMille = 750
  val K = 10

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean, dir: String)

  def parse(args: Array[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): Either[String, String] = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").flatMap(n => Workloads.get(n).toRight(
        s"unknown workload '$n' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("trace").flatMap {
        case "0" => Right(false); case "1" => Right(true); case t => Left(s"bad --trace $t") }
      dir <- need("dir")
      _ <- if (args.length == kv.size * 2) Right(()) else Left("arguments must be --key value pairs")
    } yield Args(w, seed, secs, trace, dir)
  }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err")
      System.exit(2)
    case Right(args) =>
      import scala.concurrent.ExecutionContext.Implicits.global
      // the reference needs no Spark: build it while the session starts
      val inputs = scala.concurrent.Future(new Inputs(args.seed, args.workload))
      val cores = Runtime.getRuntime.availableProcessors
      val spark = session(cores)
      try println(new Run(spark, cores, args,
        scala.concurrent.Await.result(inputs, scala.concurrent.duration.Duration.Inf)).run())
      finally spark.stop()
  }

  /** `graft.Bench`'s session settings, except one shuffle partition per
    * core: the corpus is a few MB, so more partitions only add tasks. The
    * small-file knobs keep every scan spread over all cores. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (128L << 10).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (2L << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The end-to-end metrics of a run from its set-ups (seconds, index
    * ratio) and its timed plain reads. */
  def endToEndMetrics(setups: Seq[(Double, Double)], plainMs: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("setup_s", Stats.median(setups.map(_._1)), "s"),
    ("index_bytes_per_input_byte", Stats.median(setups.map(_._2)), "ratio"),
    ("query_p50_ms", Stats.median(plainMs), "ms"),
    ("query_tail_ms", Stats.percentile(plainMs, TailPerMille), "ms"))

  /** Latencies every run logs beside its end-to-end metrics, and a traced
    * run reports as per-layer metrics: the median index build of the
    * set-ups, the median hydrated read (0 when the workload hydrates
    * nothing), and the traced run's own read latency, which against an
    * untraced run's gives the tracing overhead. */
  def runLatencies(buildSeconds: Seq[Double], plainMs: Seq[Double],
                   hydratedMs: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("index.build_docs_per_s", Stats.median(buildSeconds.map(Docs / _)), "docs/s"),
    ("search.hydrated_query_p50_ms", if (hydratedMs.isEmpty) 0.0 else Stats.median(hydratedMs), "ms"),
    ("trace.query_p50_ms", Stats.median(plainMs), "ms"))

  /** JSON number: non-finite values (an empty ratio) print as 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The generated documents, the seeded query mix, and each query's
  * reference scores: everything the checks need, built without Spark. */
private final class Inputs(seed: Long, w: Main.Workload) {
  val docs: IndexedSeq[CorpusDoc] = {
    val vocab = new CorpusGen.Vocab(seed, 4000)
    (0 until Main.Docs).map(i => CorpusGen.genDoc(i.toLong, seed, Main.Repos, vocab))
  }
  private val ref = new Reference(docs)
  val queries: IndexedSeq[Query] = QueryGen.queries(ref, seed, w.distributed)
  val expected: IndexedSeq[Map[Long, Double]] = queries.map { q =>
    if (q.fuzzy) ref.searchFuzzy(q.text, q.fields)
    else ref.search(q.text, q.fields, q.prefix, q.mode == SearchMode.And)
  }
}

/** One timed set-up: its wall time, its index build, and what it left. */
private final case class SetUp(seconds: Double, buildSeconds: Double, corpusBytes: Long,
                               markers: Map[String, (Long, Long, Long)], store: IndexStore,
                               engine: SearchEngine)

/** Everything one run measures. */
private final class Run(spark: SparkSession, cores: Int, args: Main.Args, inputs: Inputs) {
  import Main._
  import spark.implicits._

  import inputs.{docs, expected, queries}

  private val w = args.workload
  private val tracer = new Tracer(args.trace)
  private val listener: Option[SparkTrace] =
    if (args.trace) { val l = new SparkTrace; spark.sparkContext.addSparkListener(l); Some(l) } else None

  private def log(s: String): Unit = println(s"[perfbench] $s")
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(s: String): Unit =
    log(f"phase $s at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

  private def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def engineConfig: IndexConfig =
    if (w.distributed) IndexConfig(shardSpan = ShardSpan, driverWandMaxBytes = 0)
    else IndexConfig(shardSpan = ShardSpan)

  /** One read as a client issues it. Prefix and fuzzy keys are expanded
    * first, as their own layer call; the engine's own expansion inside
    * `search` then hits its expansion cache. */
  private def read(engine: SearchEngine, q: Query, hydrate: Boolean): Array[Row] = {
    val qTerms = tracer.span("analysis.tokenize") { Analyzer.tokenize(q.text).distinct.sorted.toSeq }
    if (q.prefix) tracer.span("search.expand") { qTerms.foreach(t => engine.expandPrefix(t, q.fields)) }
    if (q.fuzzy) tracer.span("search.expand") { qTerms.foreach(t => engine.expandFuzzy(t, q.fields)) }
    val df = tracer.span("search.plan") {
      if (hydrate) engine.searchDocs(q.text, q.fields, q.prefix, K, q.mode)
      else if (q.fuzzy) engine.searchFuzzy(q.text, q.fields, K)
      else engine.search(q.text, q.fields, q.prefix, K, q.mode)
    }
    tracer.span(if (hydrate) "search.hydrate" else "search.execute") { df.collect() }
  }

  /** None when the response matches the reference (and, hydrated, carries
    * each hit's stored document unchanged). */
  private def check(qi: Int, rows: Array[Row], hydrate: Boolean): Option[String] = {
    val hits = rows.toSeq.map(r => Hit(r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    Reference.mismatch(hits, expected(qi), K).orElse {
      if (!hydrate) None
      else rows.collectFirst {
        case r if r.getAs[String]("content") != docs(r.getAs[Long]("doc_id").toInt).content =>
          s"hydrated doc ${r.getAs[Long]("doc_id")} differs from the generated document"
      }
    }
  }

  private def dirBytes(dir: Path): Long =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  /** stage -> (rows, bytes, wallMs) from the segment's done-markers. */
  private def readMarkers(storeDir: String): Map[String, (Long, Long, Long)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.list(Paths.get(storeDir, "seg-0", "_checkpoints")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).map { p =>
      val n = mapper.readTree(p.toFile)
      n.get("stage").asText() -> (n.get("rows").asLong(), n.get("bytes").asLong(), n.get("wallMs").asLong())
    }.toMap
  }

  private def setUp(i: Int): SetUp = {
    val base = s"${args.dir}/setup-$i"
    val (r, secs) = secondsOf {
      tracer.request("setup") {
        tracer.span("corpus.generate") {
          CorpusGen.generate(spark, Docs, args.seed, Repos, partitions = cores)
            .write.parquet(s"$base/corpus")
        }
        val corpus = spark.read.parquet(s"$base/corpus").as[CorpusDoc]
        val (_, buildSecs) = secondsOf {
          tracer.span("index.createSegment") {
            new IndexStore(spark, s"$base/store", IndexConfig(shardSpan = ShardSpan)).createSegment(corpus)
          }
        }
        val store = IndexStore.open(spark, s"$base/store", engineConfig)
        (buildSecs, store, new SearchEngine(store))
      }
    }
    val (buildSecs, store, engine) = r
    SetUp(secs, buildSecs, dirBytes(Paths.get(base, "corpus")), readMarkers(s"$base/store"), store, engine)
  }

  /** Index bytes per corpus parquet byte (postings + df + docstats + fieldstats). */
  private def indexRatio(s: SetUp): Double =
    Seq("postings", "df", "docstats", "fieldstats").map(st => s.markers(st)._2).sum.toDouble / s.corpusBytes

  /** Posting bytes (blob + block metadata) of every (field, term) the
    * query mix touches: the driver LRU's working set. */
  private def workingSetBytes(engine: SearchEngine): Long = {
    val pairs = queries.flatMap { q =>
      val qTerms = Analyzer.tokenize(q.text).distinct.toSeq
      if (q.prefix) qTerms.flatMap(engine.expandPrefix(_, q.fields))
      else if (q.fuzzy) qTerms.flatMap(engine.expandFuzzy(_, q.fields))
      else q.fields.flatMap(f => qTerms.map(t => (f, t)))
    }.distinct
    val row = engine.matchedShards(pairs).agg(sum(length($"blob")), sum(length($"blocks"))).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0)) + (if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Untimed reads on `engine`: every query once (its cold run), then
    * reads for [[WarmSeconds]]. Returns the milliseconds the JIT spent
    * compiling meanwhile. */
  private def warmUp(engine: SearchEngine, schedule: Iterator[Int]): Long = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val compiled0 = jit.getTotalCompilationTime
    val until = System.nanoTime() + WarmSeconds * 1000000000L
    tracer.request("warm") {
      // a query that fails here fails again, counted, in the timed loop
      queries.foreach(q => scala.util.Try(read(engine, q, hydrate = false)))
      if (w.hydrated > 0) scala.util.Try(read(engine, queries.find(_.hydratable).get, hydrate = true))
    }
    while (System.nanoTime() < until)
      scala.util.Try(tracer.request("warmup") { read(engine, queries(schedule.next()), hydrate = false) })
    jit.getTotalCompilationTime - compiled0
  }

  def run(): String = {
    phase("reference ready")
    val setups = (0 until SetUps).map(setUp)
    phase("set-ups done")
    val last = setups.last
    val engine = last.engine
    val minPlain = Stats.samplesFor(TailPerMille)

    // ---- the closed loop, after an untimed warm-up ----
    val plainMs = ArrayBuffer.empty[Double]
    val byQuery = Array.fill(queries.size)(ArrayBuffer.empty[Double])
    val hydratedMs = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    def timed(qi: Int, hydrate: Boolean): Unit = {
      val s0 = System.nanoTime()
      val res = scala.util.Try(tracer.request(if (hydrate) "read.hydrated" else "read") {
        read(engine, queries(qi), hydrate)
      })
      val ms = (System.nanoTime() - s0) / 1e6
      attempted += 1
      (if (hydrate) hydratedMs else plainMs) += ms
      if (!hydrate) byQuery(qi) += ms
      res.fold(e => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"), check(qi, _, hydrate))
        .foreach(f => failures += s"query ${queries(qi)} hydrate=$hydrate: $f")
    }
    val schedule = QueryGen.schedule(queries, args.seed)
    log(s"warm-up s=$WarmSeconds jit_compile_ms=${warmUp(engine, schedule)}")
    phase("warm-up done")
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    val cap = t0 + 4L * args.seconds * 1000000000L
    while ({ val now = System.nanoTime(); (now < deadline || plainMs.length < minPlain) && now < cap })
      timed(schedule.next(), hydrate = false)
    QueryGen.hydrated(queries, args.seed, w.hydrated).foreach(timed(_, hydrate = true))
    val loopSeconds = (System.nanoTime() - t0) / 1e9

    phase("loop done")
    // ---- regime (untimed) ----
    val ws = workingSetBytes(engine)
    val segmentsEnd = last.store.segments.size
    val tombstonesEnd = last.store.tombstoneCount()
    log(f"regime workload=${w.name} docs=$Docs distinct_queries=${queries.size} " +
      f"working_set_bytes=$ws lru_budget_bytes=${engineConfig.driverBlobCacheBytes} " +
      f"segments_end=$segmentsEnd tombstones_end=$tombstonesEnd")
    queries.zipWithIndex.foreach { case (q, i) =>
      log(s"query $i ${q.shape} mode=${q.mode} fields=${q.fields.mkString(",")} '${q.text}' " +
        s"reference_hits=${expected(i).size} " +
        (if (byQuery(i).isEmpty) "timed=0" else f"timed=${byQuery(i).length} " +
          f"p50=${Stats.median(byQuery(i).toSeq)}%.3f p75=${Stats.percentile(byQuery(i).toSeq, 750)}%.3f " +
          f"p90=${Stats.percentile(byQuery(i).toSeq, 900)}%.3f"))
    }
    failures.take(5).foreach(f => log(s"FAILED $f"))
    log(f"samples plain=${plainMs.length} hydrated=${hydratedMs.length} loop_s=$loopSeconds%.1f " +
      s"tail=${Stats.label(TailPerMille)} (${Stats.beyond(plainMs.length, TailPerMille)} beyond) " +
      s"setup_s=${setups.map(s => f"${s.seconds}%.2f").mkString("/")} " +
      s"build_s=${setups.map(s => f"${s.buildSeconds}%.2f").mkString("/")} " +
      s"ops_failed_ratio=${failures.length.toDouble / attempted}")

    val endToEnd = endToEndMetrics(setups.map(s => (s.seconds, indexRatio(s))), plainMs.toSeq)
    val latencies = runLatencies(setups.map(_.buildSeconds), plainMs.toSeq, hydratedMs.toSeq)
    endToEnd.foreach { case (n, v, u) => log(s"end_to_end $n=${num(v)} $u") }
    latencies.foreach { case (n, v, u) => log(s"run $n=${num(v)} $u") }

    phase("regime done")
    val metrics = listener match {
      case None => endToEnd
      case Some(l) =>
        l.quiesce()
        val layers = new Layers(tracer.spans, l, cores, setups.map(_.markers), ws,
          segmentsEnd, tombstonesEnd)
        val m = layers.metrics ++ latencies
        layers.writeSpans(Paths.get(args.dir).resolveSibling(s"trace-${w.name}-seed${args.seed}.jsonl"))
        m
    }
    resultJson(failures.isEmpty, attempted, failures.length, metrics)
  }
}
