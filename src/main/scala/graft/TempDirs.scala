package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils

/** Scratch directories deleted, with everything under them, when the JVM
  * exits — not when the call that made one returns: the operator and check
  * mains hand back lazy DataFrames over the Delta tables they write there.
  * Every temp directory the program makes comes from [[create]]. */
object TempDirs {

  private val dirs = new ConcurrentLinkedQueue[Path]
  sys.addShutdownHook(dirs.forEach(d => FileUtils.deleteQuietly(d.toFile)))

  /** A fresh directory under `java.io.tmpdir` whose name starts with
    * `prefix`. */
  def create(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir.toString
  }
}
