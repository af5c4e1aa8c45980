package graft

import java.io.File
import java.net.{InetSocketAddress, ServerSocket, Socket}

/** SEPARATE-PROCESS cluster deployment pin — the one reference lifecycle
  * `local-cluster` cannot replay: the reference runs its scheduler and
  * executor as distinct OS processes that a client then connects to
  * (`/root/reference/examples/custom_scheduler.rs:44-45` boots a
  * standalone scheduler binary; `examples/custom_executor.rs:26` boots an
  * executor binary that registers with it). Spark's exact analog is the
  * standalone deploy mode: this main launches
  * `org.apache.spark.deploy.master.Master` (the scheduler process) and
  * `org.apache.spark.deploy.worker.Worker` (the executor-hosting process)
  * as child OS PROCESSES — their own JVMs, own stdout, own lifecycle —
  * then connects a driver over `spark://127.0.0.1:<port>` and replays the
  * ENTIRE [[ClusterCheck.run]] surface through them: golden-fixture
  * provider scan (where the reference fixture is present; elsewhere the
  * step prints a [[ClusterCheck.SkipMarker]] line instead), distributed DV
  * delete, column-mapped append/read, frame-plane log replay, and the
  * fake-S3 object-store phase in which every worker-spawned executor JVM
  * must resolve its own SigV4 [[graft.sources.S3FileSystem]] from the
  * propagated Hadoop conf (the reference's hardest-won lesson,
  * `src/object_store.rs:48-94`).
  *
  * What this adds over [[ClusterCheck]]'s `local-cluster[2,2,1024]`: there
  * the master/worker are threads inside the driver JVM (only executors
  * fork); here scheduling itself crosses a process boundary — app
  * registration, resource offers, and executor launch all travel the same
  * RPC path a real multi-machine standalone cluster uses, so a driver-side
  * assumption baked into any of our closures (a static initialized only in
  * the launching JVM, a path visible only to the driver) dies here and
  * nowhere else.
  *
  * Run via `sbt "runMain graft.StandaloneClusterCheck"` or through
  * `StandaloneClusterSuite` (subprocess, since the shared test JVM holds a
  * `local[*]` context). Prints `STANDALONECHECK OK` and exits 0.
  */
object StandaloneClusterCheck {

  private def freePort(): Int = {
    val s = new ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def awaitListening(port: Int, what: String, timeoutMs: Long): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var up = false
    while (!up) {
      val sock = new Socket()
      try { sock.connect(new InetSocketAddress("127.0.0.1", port), 1000); up = true }
      catch {
        case _: java.io.IOException =>
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(s"$what did not open port $port within ${timeoutMs}ms")
          Thread.sleep(250)
      } finally sock.close()
    }
  }

  /** Launch one spark deploy daemon (Master or Worker) as a separate OS
    * process with its stdout tee'd to a log file under `logDir`. */
  private def launchDaemon(mainClass: String, daemonArgs: Seq[String],
      logDir: File, tag: String): Process = {
    val javaBin = s"${sys.props("java.home")}${File.separator}bin${File.separator}java"
    val cmd = Seq(javaBin) ++ JvmOpens.asArgv ++ Seq(
      "-Xmx768m",
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      mainClass) ++ daemonArgs
    val pb = new ProcessBuilder(cmd: _*)
    // the Worker launches executor JVMs through the dist's launcher — same
    // env contract as ClusterSuite documents for in-process workers
    pb.environment().put("SPARK_HOME", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.environment().put("SPARK_SCALA_VERSION",
      sys.env.getOrElse("SPARK_SCALA_VERSION", "2.13"))
    pb.environment().put("SPARK_LOCAL_IP", "127.0.0.1")
    pb.environment().put("JAVA_HOME", sys.props("java.home"))
    pb.redirectErrorStream(true)
    pb.redirectOutput(new File(logDir, s"$tag.log"))
    pb.start()
  }

  def main(args: Array[String]): Unit = {
    require(sys.env.contains("SPARK_HOME"),
      "StandaloneClusterCheck needs SPARK_HOME (e.g. /opt/spark) in the environment")
    val scratch = new java.io.File(TempDirs.create("graft-standalone"))
    val masterPort = freePort()
    val masterUrl = s"spark://127.0.0.1:$masterPort"

    // scheduler process (reference: examples/custom_scheduler.rs:44-45)
    val master = launchDaemon("org.apache.spark.deploy.master.Master",
      Seq("--host", "127.0.0.1", "--port", masterPort.toString, "--webui-port", "0"),
      scratch, "master")
    // executor-hosting process (reference: examples/custom_executor.rs:26)
    var worker: Process = null
    try {
      awaitListening(masterPort, "standalone Master process", 60000)
      worker = launchDaemon("org.apache.spark.deploy.worker.Worker",
        Seq("--host", "127.0.0.1", "--port", "0", "--webui-port", "0",
          "--cores", "4", "--memory", "3g",
          "--work-dir", new File(scratch, "work").getAbsolutePath,
          masterUrl),
        scratch, "worker")

      val spark = GraftSession.getOrCreate(masterUrl, Some(4), "graft-standalone-check", Map(
        "spark.driver.host" -> "127.0.0.1",
        "spark.executor.memory" -> "1g",
        "spark.executor.cores" -> "2",
        "spark.cores.max" -> "4") ++ ClusterCheck.executorJvm)
      spark.sparkContext.setLogLevel("WARN")
      try {
        ClusterCheck.run(spark)
        // the check only passes if the work genuinely ran on the separate
        // worker process's executors — pin it via the executor registry
        // (driver appears as one entry; a standalone executor adds more)
        val execs = spark.sparkContext.statusTracker.getExecutorInfos
        require(execs.length >= 2,
          s"expected at least one remote executor, registry has ${execs.length} entries")
        println("STANDALONECHECK OK")
      } finally spark.stop()
    } finally {
      if (worker != null) worker.destroyForcibly()
      master.destroyForcibly()
    }
  }
}
