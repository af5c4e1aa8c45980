package graft

/** The JDK-17 `--add-opens` set Spark 4 needs to reflect into JDK
  * internals — the SINGLE source of truth for every child JVM this
  * project spawns: `local-cluster` executors ([[ClusterCheck]]),
  * standalone deploy daemons and their executors
  * ([[StandaloneClusterCheck]]), the harnesses' measurement children
  * ([[runChild]]) and the test suites' subprocess runners. A JDK bump that
  * needs a new package edits this list once. */
object JvmOpens {
  val Packages: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")

  /** Single-token `--add-opens=p=ALL-UNNAMED` form — for option STRINGS
    * like `spark.executor.extraJavaOptions`. */
  def asOptionString: String =
    Packages.map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** Two-token `--add-opens p=ALL-UNNAMED` argv form — for
    * ProcessBuilder command lists. */
  def asArgv: Seq[String] =
    Packages.flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Run `graft.<main> args` in a fresh JVM on this JVM's classpath with
    * build.sbt's `-D` surface (timezone above all: a child under the
    * machine-default zone would plan timestamp-heavy queries differently)
    * and `-Xmx<xmx>`; `env` is added to the inherited environment. Returns
    * the merged stdout/stderr lines; a non-zero exit fails with
    * `failure(exitCode, lines)` as the message. */
  def runChild(main: String, args: Seq[String],
      xmx: String = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"),
      env: Map[String, String] = Map.empty)(
      failure: (Int, Seq[String]) => String): Seq[String] = {
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ asArgv ++ Seq(
      s"-Xmx$xmx", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), s"graft.$main") ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8").linesIterator.toSeq
    val code = proc.waitFor()
    if (code != 0) sys.error(failure(code, out))
    out
  }

  /** The usual [[runChild]] failure: `<what> failed (exit N):` plus the
    * last `tail` output lines. */
  def exitTail(what: String, tail: Int)(code: Int, out: Seq[String]): String =
    s"$what failed (exit $code):\n" + out.takeRight(tail).mkString("\n")

  /** The space-split fields of the LAST `out` line starting with `prefix`
    * (a child's result line), or a failure saying `missing`. */
  def lastLine(out: Seq[String], prefix: String, missing: => String): Array[String] =
    out.reverse.collectFirst { case l if l.startsWith(prefix) => l.split(' ') }
      .getOrElse(sys.error(missing))
}
