package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run, from its spans, the listener's job
  * and task records, and the build's stage markers. Per-read figures are
  * means over the timed reads, so the layer times of a read add up to its
  * wall time; build figures are medians over the set-up builds. */
private final class Layers(spans: Seq[Span], l: SparkTrace, cores: Int,
                           markers: Seq[Map[String, (Long, Long, Long)]], workingSet: Long,
                           segmentsEnd: Int, tombstonesEnd: Long) {

  private val jobsBySpan = l.jobsBySpan(spans)
  private def jobsOf(ss: Seq[Span]): Seq[JobRec] = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
  private val byReq: Map[Int, Seq[Span]] = spans.groupBy(_.req)

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  private def buildMetrics: Seq[(String, Double, String)] = {
    val builds = spans.filter(_.name == "index.createSegment").map { b =>
      val tasks = l.tasksOf(jobsOf(Seq(b)))
      val stages = tasks.groupBy(_.stageId).values.toSeq
      val reduce = stages.filter(_.exists(_.shuffleReadBytes > 0))
      val map = stages.filter(st => st.exists(_.shuffleWriteBytes > 0) && !st.exists(_.shuffleReadBytes > 0))
      def runMs(ts: Seq[Seq[TaskRec]]): Double = ts.flatten.map(_.runMs).sum.toDouble
      val skew = reduce.maxByOption(_.map(_.runMs).sum).fold(0.0) { st =>
        val times = st.map(_.runMs.toDouble)
        times.max / math.max(1.0, Stats.median(times))
      }
      Map(
        "spark.build_map_ms" -> runMs(map),
        "spark.build_reduce_ms" -> runMs(reduce),
        "spark.build_shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
        "spark.build_spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
        "spark.build_gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
        "spark.build_cpu_ms" -> tasks.map(_.cpuMs).sum.toDouble,
        "spark.build_task_skew" -> skew,
        "spark.build_idle_core_ms" -> (cores * b.ms - tasks.map(_.runMs).sum))
    }
    def stage(st: String, pick: ((Long, Long, Long)) => Long): Double =
      median(markers.flatMap(_.get(st)).map(pick(_).toDouble))
    Seq("corpus", "docstats", "postings", "df", "fieldstats")
      .map(st => (s"index.stage_${st}_ms", stage(st, _._3), "ms")) ++ Seq(
      ("index.postings_bytes", stage("postings", _._2), "bytes"),
      ("index.postings_rows", stage("postings", _._1), "rows"),
      ("index.df_rows", stage("df", _._1), "rows"),
      ("corpus.generate_ms", median(spans.filter(_.name == "corpus.generate").map(_.ms)), "ms")) ++
      Seq("map_ms", "reduce_ms", "shuffle_write_bytes", "spill_bytes", "gc_ms", "cpu_ms", "task_skew",
        "idle_core_ms").map { m =>
        val n = s"spark.build_$m"
        val unit = if (m == "task_skew") "ratio" else if (m.endsWith("bytes")) "bytes" else "ms"
        (n, median(builds.map(_(n))), unit)
      }
  }

  private def readMetrics: Seq[(String, Double, String)] = {
    val reads = spans.filter(s => s.parent == -1 && s.name.startsWith("read"))
    val hydrated = reads.filter(_.name == "read.hydrated")
    def spent(name: String, of: Seq[Span]): Double =
      of.flatMap(r => byReq(r.req).filter(_.name == name)).map(_.ms).sum
    val n = math.max(1, reads.length).toDouble
    val readJobs = reads.map(r => jobsOf(byReq(r.req)))
    val tasks = readJobs.map(js => l.tasksOf(js))
    val coverage = reads.map(r => byReq(r.req).filter(_.parent == r.id).map(_.ms).sum / r.ms)
    def perRead(f: TaskRec => Long): Double = tasks.map(_.map(f).sum.toDouble).sum / n
    Seq(
      ("analysis.query_tokenize_us", spent("analysis.tokenize", reads) * 1000 / n, "us"),
      ("search.expand_ms", spent("search.expand", reads) / n, "ms"),
      ("search.plan_ms", spent("search.plan", reads) / n, "ms"),
      ("search.execute_ms", spent("search.execute", reads) / n, "ms"),
      ("search.hydrate_ms", spent("search.hydrate", hydrated) / math.max(1, hydrated.length), "ms"),
      ("search.zero_job_ratio", readJobs.count(_.isEmpty) / n, "ratio"),
      ("search.working_set_bytes", workingSet.toDouble, "bytes"),
      ("spark.jobs_per_query", readJobs.map(_.size).sum / n, "count"),
      ("spark.stages_per_query", tasks.map(_.map(_.stageId).distinct.size).sum / n, "count"),
      ("spark.tasks_per_query", tasks.map(_.size).sum / n, "count"),
      ("spark.sched_delay_ms_per_query", perRead(_.schedDelayMs), "ms"),
      ("spark.executor_run_ms_per_query", perRead(_.runMs), "ms"),
      ("spark.input_bytes_per_query", perRead(_.inputBytes), "bytes"),
      ("spark.shuffle_bytes_per_query", perRead(t => t.shuffleReadBytes + t.shuffleWriteBytes), "bytes"),
      ("trace.read_span_coverage_min", if (coverage.isEmpty) 0.0 else coverage.min, "ratio"),
      ("trace.read_span_coverage_mean", mean(coverage), "ratio"))
  }

  def metrics: Seq[(String, Double, String)] =
    buildMetrics ++ readMetrics ++ Seq(
      ("spark.failed_tasks", l.tasks.toArray(Array.empty[TaskRec]).count(_.failed).toDouble, "count"),
      ("index.segments_end", segmentsEnd.toDouble, "count"),
      ("index.tombstones_end", tombstonesEnd.toDouble, "count"))

  /** All spans as JSON lines, each with the Spark jobs attributed to it. */
  def writeSpans(out: Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val jobs = jobsBySpan.getOrElse(s.id, Nil).map(_.jobId).sorted
      s"""{"id": ${s.id}, "parent": ${s.parent}, "req": ${s.req}, "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": [${jobs.mkString(", ")}]}"""
    }
    Files.createDirectories(out.getParent)
    Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    ()
  }
}
