package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
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

  private val tempDirs = new ConcurrentLinkedQueue[Path]
  sys.addShutdownHook(tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile)))

  /** A fresh directory under `java.io.tmpdir` whose name starts with
    * `prefix`; it is deleted, with everything under it, when the JVM exits. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }
}
