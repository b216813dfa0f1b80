package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block of driver code runs, and the stages of
  * those jobs that ran tasks (stages skipped because their shuffle output
  * already exists do not count), with their tasks and shuffle bytes. The
  * block runs under a fresh job group; afterwards a one-task fence job is
  * submitted, and since the listener bus delivers events in order, seeing
  * the fence start means every event of the block arrived. SQL executions
  * started under the block's job group (each Dataset action Spark runs
  * posts one, even when it runs no job) are counted the same way. */
object JobCounter {

  final case class Counts(jobs: Int, stages: Int, tasks: Int = 0,
                          shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
                          sqlExecutions: Int = 0)

  def apply[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[(String, Seq[Int])]()
    val ran = new ConcurrentLinkedQueue[StageInfo]()
    val sqlGroups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull, e.stageIds))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        ran.add(e.stageInfo); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlGroups.add(s.jobGroupId.orNull); ()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.asScala.exists(_._1 == group + "-fence")) {
        assert(System.currentTimeMillis() < deadline, "listener bus did not deliver the fence job")
        Thread.sleep(10)
      }
      val mine = jobs.asScala.filter(_._1 == group).toSeq
      val stageIds = mine.flatMap(_._2).toSet
      val stages = ran.asScala.filter(s => stageIds.contains(s.stageId)).toSeq
      val metrics = stages.map(_.taskMetrics)
      (r, Counts(mine.size, stages.size, stages.map(_.numTasks).sum,
        metrics.map(_.shuffleReadMetrics.totalBytesRead).sum,
        metrics.map(_.shuffleWriteMetrics.bytesWritten).sum,
        sqlGroups.asScala.count(_ == group)))
    } finally sc.removeSparkListener(listener)
  }

  /** Every job the application starts while `body` runs, from any thread
    * or job group: a block whose work runs on pool threads, which do not
    * inherit the caller's job group, is counted whole. Fence jobs before
    * and after the block delimit it in the listener bus's order, so the
    * count is exact when nothing else runs jobs meanwhile. */
  def appWide[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val fence = s"appwide-${java.util.UUID.randomUUID()}"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
        ()
      }
    }
    def runFence(name: String): Unit = {
      sc.setJobGroup(name, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(name)) {
        assert(System.currentTimeMillis() < deadline, "listener bus did not deliver the fence job")
        Thread.sleep(10)
      }
    }
    sc.addSparkListener(listener)
    try {
      runFence(fence + "-start")
      val r = body
      runFence(fence + "-end")
      (r, groups.asScala.toSeq.dropWhile(_ != fence + "-start").tail.takeWhile(_ != fence + "-end").size)
    } finally sc.removeSparkListener(listener)
  }
}
