package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.lakebench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts Spark work from outside the program: a SparkListener for
  * jobs, stages and task metrics, a QueryExecutionListener for planning
  * time and files scanned, and Hadoop FileSystem statistics for `file:`.
  * Registered only while a traced pass runs. */
final class Probe(spark: SparkSession) {
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val dqExecutions = ConcurrentHashMap.newKeySet[Long]()
  private val dqStages = ConcurrentHashMap.newKeySet[Int]()

  private def add(key: String, v: Long): Unit =
    counts.computeIfAbsent(key, _ => new AtomicLong).addAndGet(v)

  private val jobs = new SparkListener {
    // A job is data-quality work when its long call site passes through
    // graft.dq. Jobs that adaptive execution submits from its own threads
    // lose the caller's stack, so the call site of their SQL execution,
    // taken on the calling thread, counts as well.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.details.contains("graft.dq.") =>
        dqExecutions.add(s.executionId)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      if (e.stageInfos.exists(_.details.contains("graft.dq.")) ||
          execution.exists(id => dqExecutions.contains(id))) {
        add("dq_jobs", 1)
        e.stageIds.foreach(id => dqStages.add(id))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      add("tasks", 1)
      add("task_ms", m.executorRunTime)
      add("scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      if (dqStages.contains(e.stageId)) add("dq_task_ms", m.executorRunTime)
    }
  }

  private val executions = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      add("executions", 1)
      add("planning_ms", qe.tracker.phases.values.map(_.durationMs).sum)
      add("files_scanned", collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add("failed_executions", 1)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(executions)
  }

  def stop(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(executions)
  }

  /** Every counter so far, after the listener bus has delivered all
    * events posted before this call. */
  def snapshot(): Map[String, Long] = {
    Bus.drain(spark.sparkContext)
    @annotation.nowarn("cat=deprecation")
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").toSeq
    counts.asScala.map { case (k, v) => k -> v.get }.toMap ++ Map(
      "fs_ops" -> fs.map(s => s.getReadOps + s.getLargeReadOps + s.getWriteOps).sum,
      "fs_bytes_written" -> fs.map(_.getBytesWritten).sum,
      "fs_bytes_read" -> fs.map(_.getBytesRead).sum)
  }
}

object Probe {
  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}
