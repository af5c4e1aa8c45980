package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span: a timed interval at a layer boundary. `op` is the operation it
  * belongs to (its job group), `parent` the span that caused it. */
final case class Span(name: String, layer: String, op: String, parent: String,
    startMs: Long, endMs: Long)

/** The traced run's recorder. One listener sees every job, stage, task and
  * SQL execution of the session; operations are tagged by job group (the
  * op id), so every event is attributed to the operation that caused it.
  * Each finished SQL execution hands over its planner phase times and its
  * scan nodes. Everything stays in
  * memory until the run ends. Only the benchmark's own calls are timed; the
  * engine is observed through its public listener events, the planner's
  * phase tracker and the scan nodes' SQL metrics. */
final class Trace extends SparkListener {

  val spans = new ConcurrentLinkedQueue[Span]()
  private val events = new AtomicLong
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val execOp = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()

  /** Per-operation task totals, keyed by op id. */
  final class TaskAgg {
    var tasks = 0L; var stages = 0L; var jobs = 0L
    var runMs = 0L; var gcMs = 0L; var busyMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    /** (table root, files read, bytes read) per scan node */
    val scans = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  }
  val perOp = new java.util.concurrent.ConcurrentHashMap[String, TaskAgg]()
  private def agg(op: String): TaskAgg = perOp.computeIfAbsent(op, _ => new TaskAgg)

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    group(e.properties).foreach { g =>
      jobStart.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageOp.put(_, g))
      val a = agg(g); a.synchronized { a.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      spans.add(Span(s"job ${e.jobId}", "execution", g, g, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageOp.get(e.stageInfo.stageId)).foreach { g =>
      val a = agg(g); a.synchronized { a.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    for (g <- Option(stageOp.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = agg(g)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.busyMs += e.taskInfo.duration
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      s.jobGroupId.foreach(execOp.put(s.executionId, _))
    case s: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet()
      for (g <- Option(execOp.remove(s.executionId)); qe <- Trace.queryExecution(s)) {
        qe.tracker.phases.foreach { case (n, p) =>
          spans.add(Span(n, "planning", g, g, p.startTimeMs, p.endTimeMs))
        }
        val scans = Trace.scans(qe.executedPlan).map { s =>
          (s.relation.location.rootPaths.headOption.map(_.toUri.getPath).getOrElse(""),
            s.metrics.get("numFiles").map(_.value).getOrElse(0L),
            s.metrics.get("filesSize").map(_.value).getOrElse(0L))
        }
        val a = agg(g)
        a.synchronized(a.scans ++= scans)
      }
    case _ =>
  }

  /** Block until the listener bus has been quiet for `quietMs`: events are
    * delivered asynchronously, after the operation that caused them. */
  def drain(quietMs: Long = 500, maxMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && events.get() != last) {
      last = events.get()
      Thread.sleep(quietMs)
    }
  }

  def opAggs: Map[String, TaskAgg] = perOp.asScala.toMap
}

object Trace extends AdaptiveSparkPlanHelper {
  /** The execution's QueryExecution. The event carries it in a field Spark
    * keeps package-private, so it is read reflectively. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
      .toOption.flatMap(Option(_))

  def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
}
