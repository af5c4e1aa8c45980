package graft

import org.apache.spark.sql.SparkSession

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
}
