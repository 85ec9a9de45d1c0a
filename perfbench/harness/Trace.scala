package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw trace records. Kept in memory while the traced pass runs and
  * written out once at the end; all analysis happens in `ledger.py`.
  * Times are epoch milliseconds as Spark stamps its events.
  */
object Trace {
  /** Local property naming the timed call a job ran under. Spark copies
    * local properties into each job's properties and into the threads
    * a streaming query starts, so micro-batch jobs carry it too. */
  val SpanKey = "perfbench.span"

  /** Repo module of the first frame of a Spark call site that belongs to
    * one of the program's modules; None when no frame does. */
  def moduleOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim).flatMap(frameModule).nextOption()

  private def frameModule(frame: String): Option[String] =
    if (!frame.startsWith("graft.")) None
    else {
      val cls = frame.takeWhile(_ != '(')
      if (cls.startsWith("graft.sources.")) Some("sources")
      else if (cls.startsWith("graft.operators.")) Some("operators")
      else if (cls.startsWith("graft.streaming.")) Some("streaming")
      else if (cls.startsWith("graft.queries.")) Some("queries")
      else if (cls.startsWith("graft.Pipeline") || cls.startsWith("graft.SqlRunner"))
        Some("Pipeline")
      else None
    }
}

final case class JobRec(id: Int, start: Long, var end: Long, span: String,
    callSite: String, sqlId: Long)
final case class StageRec(id: Int, job: Int, var tasks: Int = 0,
    var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
    var shWriteBytes: Long = 0, var shWriteNs: Long = 0,
    var shReadBytes: Long = 0, var shFetchWaitMs: Long = 0,
    var inBytes: Long = 0, var outBytes: Long = 0)
final case class PlanRec(start: Long, end: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, writeTarget: String,
    histScanBytes: Long, writtenParts: Long, writtenRows: Long)
final case class TriggerRec(durations: Map[String, Long])

/** Listeners registered for the traced pass only. */
final class Tracer(spark: SparkSession, histPath: Option[String])
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  /** Call site of each SQL execution, captured on the thread that ran it. */
  val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val triggers = new ConcurrentLinkedQueue[TriggerRec]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      triggers.add(TriggerRec(
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far reached the listeners. */
  def uninstall(): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).getOrElse("")
    // the result stage is created for this job, so its details carry this
    // job's own call site (shared map stages keep their first job's)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val sqlId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, span, site, sqlId))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.getOrDefault(e.stageId, -1)
    val s = stages.computeIfAbsent(e.stageId, id => StageRec(id, job))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shWriteNs += m.shuffleWriteMetrics.writeTime
        s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(planRec(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plans.add(planRec(qe))

  private def planRec(qe: QueryExecution): PlanRec = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    val plan: SparkPlan = scala.util.Try(qe.executedPlan).getOrElse(null)
    var target = ""
    var parts, rows = 0L
    var histBytes = 0L
    if (plan != null) {
      collect(plan) { case w: DataWritingCommandExec => w.cmd }.foreach {
        case c: InsertIntoHadoopFsRelationCommand =>
          target = c.outputPath.toString
          parts = c.metrics.get("numParts").map(_.value).getOrElse(0L)
          rows = c.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      histPath.foreach { hp =>
        collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
          .filter(_.relation.location.rootPaths.exists(_.toString.endsWith(hp)))
          .foreach(s => histBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L))
      }
    }
    PlanRec(if (starts.isEmpty) 0L else starts.min, if (ends.isEmpty) 0L else ends.max,
      ms("analysis"), ms("optimization"), ms("planning"), target, histBytes,
      parts, rows)
  }
}
