package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.delta.DeltaLog

/** Shared local session for all specs (one JVM, sbt Test/fork). It is the
  * shipped [[GraftSession]] session, so every spec parses through the graft
  * parser — "normal SQL is undisturbed" is pinned by the entire suite. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.getOrCreate(
      master = "local[4]", shufflePartitions = Some(4), appName = "graft-test")
    s.sparkContext.setLogLevel("WARN")
    // Spark sizes the generated-class cache once per JVM, from the conf in
    // scope at its first use: use it here, under this session, so the
    // suite JVM's cache has GraftSession's size whichever suite runs first
    CodeGenerator.getClass
    s
  }

  /** Run `f` with the snapshot plane (`auto`, `driver` or `frame`) pinned
    * on `session`, then restore its previous setting. */
  def withPlane[T](plane: String, session: SparkSession = spark)(f: => T): T =
    GraftSession.withConf(session, DeltaLog.SnapshotPlaneKey, plane)(f)

  /** A fresh directory under `java.io.tmpdir` whose name starts with
    * `prefix`; it is deleted, with everything under it, when the JVM exits
    * ([[TempDirs]]). */
  def tempDir(prefix: String): String = TempDirs.create(prefix)

  /** Run `f` and return the description (empty when unset) of every Spark
    * job it started, in start order. */
  def jobsDuring(f: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        seen.add(Option(ev.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try { f; settled(seen) } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Run `f` and return the action name of every SQL execution it ran to
    * completion (failed ones as `failed:<name>`). */
  def executionsDuring(f: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, d: Long): Unit =
        seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(s"failed:$funcName")
    }
    spark.listenerManager.register(l)
    try { f; settled(seen) } finally spark.listenerManager.unregister(l)
  }

  /** Listener events arrive asynchronously: the queue once it has stopped
    * growing. */
  private def settled(q: ConcurrentLinkedQueue[String]): Seq[String] = {
    var last = -1
    var spins = 0
    while (q.size != last && spins < 20) { last = q.size; Thread.sleep(250); spins += 1 }
    q.asScala.toSeq
  }
}
