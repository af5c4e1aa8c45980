package graft

import org.apache.spark.sql.SparkSession

import graft.sources.delta.DeltaLog

/** Shared local session for all specs (one JVM, sbt Test/fork). It is the
  * shipped [[GraftSession]] session, so every spec parses through the graft
  * parser — "normal SQL is undisturbed" is pinned by the entire suite. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.getOrCreate(
      master = "local[4]", shufflePartitions = Some(4), appName = "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `f` with the snapshot plane (`auto`, `driver` or `frame`) pinned
    * on `session`, then restore its previous setting. */
  def withPlane[T](plane: String, session: SparkSession = spark)(f: => T): T =
    GraftSession.withConf(session, DeltaLog.SnapshotPlaneKey, plane)(f)
}
