package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `req` is shared by every span of one read
  * or set-up step; `parent` is -1 for a request's root span. Wall-clock
  * milliseconds are kept beside the monotonic nanoseconds so Spark listener
  * events, which carry wall-clock times, can be attributed to spans. */
final case class Span(id: Int, parent: Int, req: Int, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for one client thread. Disabled, it runs the
  * wrapped code and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long, Long)] = Nil
  private var nextId = 0
  private var req = -1

  /** Times `f` as a root span opening a new request. */
  def request[A](name: String)(f: => A): A =
    if (!enabled) f else { req += 1; span(name)(f) }

  /** Times `f` as a child of the innermost open span. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      stack = (id, System.nanoTime(), System.currentTimeMillis()) :: stack
      try f
      finally {
        val (_, s0, m0) = stack.head
        stack = stack.tail
        done += Span(id, stack.headOption.fold(-1)(_._1), req, name, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  def spans: Seq[Span] = done.toSeq
}

/** A Spark job as [[SparkTrace]] saw it start. */
final case class JobRec(jobId: Int, timeMs: Long, stageIds: Seq[Int])

/** Task-level record kept by [[SparkTrace]]. */
final case class TaskRec(stageId: Int, failed: Boolean, runMs: Long, cpuMs: Long, gcMs: Long,
                         schedDelayMs: Long, inputBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long)

/** Spark listener of the traced mode: jobs with their stages and start
  * times, and per-task run/CPU/GC time, scheduler delay, input, shuffle
  * and spill bytes and failures. Events arrive on Spark's listener thread;
  * they are only appended here and read after [[quiesce]]. */
final class SparkTrace extends SparkListener {

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRec(e.jobId, e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null) tasks.add(TaskRec(e.stageId, failed = true, 0, 0, 0, 0, 0, 0, 0, 0))
    else {
      val duration = i.finishTime - i.launchTime
      val delay = duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      tasks.add(TaskRec(e.stageId, i.failed || i.killed, m.executorRunTime,
        m.executorCpuTime / 1000000, m.jvmGCTime, math.max(0L, delay),
        m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    ()
  }

  /** Waits (bounded) until every job seen has ended and no event arrived
    * for a short while, so the records are complete. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1
    while (System.currentTimeMillis() < deadline && {
      val seen = jobs.size + tasks.size
      val busy = jobsEnded.get < jobs.size || seen != last
      last = seen
      busy
    }) Thread.sleep(100)
  }

  /** Job id -> the span that submitted it: the latest-opened span of
    * `candidates` whose wall-clock interval contains the job's start. The
    * benchmark drives Spark from one thread, so spans do not overlap
    * except by nesting. */
  def jobsBySpan(candidates: Seq[Span]): Map[Int, Seq[JobRec]] = {
    val sorted = candidates.sortBy(s => (s.startMs, s.id))
    jobs.asScala.toSeq.flatMap { j =>
      sorted.reverseIterator.find(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs).map(s => s.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val stages = js.flatMap(_.stageIds).toSet
    tasks.asScala.toSeq.filter(t => stages.contains(t.stageId))
  }
}
