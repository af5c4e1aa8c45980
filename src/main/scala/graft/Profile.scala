package graft

import java.io.PrintWriter
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool (guide §1: measure first): every per-query profile in one
  * main, each on the bench's plane (the shipped session at `local[cpus]`,
  * shuffle.partitions = cpus) and under the bench's policy — an untimed
  * warm rep before anything is measured, `QueryCaches.release()` after
  * every action.
  *
  * Usage: `sbt 'runMain graft.Profile <mode> <sfDir> …'`
  *  - `summary <sfDir> [namePrefix,...] [reps]` — the cost decomposition
  *    the bench's single wall number can't provide, one line per query:
  *    wall (min over reps), then jobs, stages, task/GC/fetch seconds and
  *    shuffle read/write MB of the LAST rep (job/stage counts are plan
  *    properties). At sf0.1 most queries are fixed-overhead dominated, so
  *    the job/stage count is the optimization target this ranks.
  *  - `jobs <sfDir> <queryName>` — names the jobs `summary` counts: one
  *    line per job of a steady-state rep (stages | description, ms), for
  *    lifecycle queries whose wall is mostly tiny-job scheduling.
  *  - `hotspots <sfDir> <queryName> [reps]` — samples the driver main
  *    thread's stack every few ms (guide §7.3) and prints the top "owner"
  *    buckets (planning / codegen / FS / log replay / commit / other) and
  *    collapsed two-frame signatures, for queries that spend their wall
  *    with NO job running.
  *  - `plan <sfDir> <outDir> [namePrefix,...] [suffix]` — each query's
  *    AQE-final `explain("formatted")` plan to `<outDir>/<query><suffix>.txt`
  *    (the committed plans/ artifacts). With `--file`,
  *    `plan --file <sfDir> <outFile> [namePrefix,...]` writes every
  *    `executedPlan` to one file under `===== <query> =====` headers, for
  *    broadcast/pushdown audits against the operator modules' scale notes.
  */
object Profile {

  private type Query = (SparkSession, String) => DataFrame

  private val Usage = "usage: Profile summary|jobs|hotspots|plan [--file] <sfDir> …"

  def main(args: Array[String]): Unit = {
    val file = args.contains("--file")
    val a = args.filterNot(_ == "--file")
    require(a.length >= 2, Usage)
    val sfDir = a(1)
    def selected(at: Int): Seq[(String, Query)] = {
      val prefixes = a.lift(at).map(_.split(',').toSeq).getOrElse(Seq(""))
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => prefixes.exists(n.startsWith) }
    }
    val spark = Bench.harnessSession()
    spark.sparkContext.setLogLevel("ERROR")
    try a(0) match {
      case "summary" => summary(spark, sfDir, selected(2), a.lift(3).fold(2)(_.toInt))
      case "jobs" => jobs(spark, sfDir, a(2))
      case "hotspots" => hotspots(spark, sfDir, a(2), a.lift(3).fold(3)(_.toInt))
      case "plan" if file => planFile(spark, sfDir, a(2), selected(3))
      case "plan" => planDir(spark, sfDir, a(2), selected(3), a.lift(4).getOrElse(""))
      case other => sys.error(s"unknown mode '$other'; $Usage")
    } finally spark.stop()
  }

  /** One full execution to the `noop` sink (Catalyst can't prune it away,
    * unlike count()), then the query's build-time caches are released.
    * Returns the execution's seconds, the release excluded (as in Bench). */
  private def runOnce(spark: SparkSession, sfDir: String, fn: Query): Double = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    } finally graft.operators.QueryCaches.release()
  }

  private final class Counter extends SparkListener {
    @volatile var active = false
    val jobs, stages, taskMs, gcMs, fetchMs, shufReadB, shufWriteB = new AtomicLong
    def reset(): Unit = Seq(jobs, stages, taskMs, gcMs, fetchMs, shufReadB, shufWriteB)
      .foreach(_.set(0))
    override def onJobStart(ev: SparkListenerJobStart): Unit =
      if (active) jobs.incrementAndGet()
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
      if (active) {
        stages.incrementAndGet()
        val tm = ev.stageInfo.taskMetrics
        if (tm != null) {
          taskMs.addAndGet(tm.executorRunTime)
          gcMs.addAndGet(tm.jvmGCTime)
          fetchMs.addAndGet(tm.shuffleReadMetrics.fetchWaitTime)
          shufReadB.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
          shufWriteB.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        }
      }
  }

  private def summary(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)], reps: Int): Unit = {
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stg"}%5s ${"taskS"}%7s ${"gcS"}%6s ${"fetchS"}%7s ${"shRdMB"}%7s ${"shWrMB"}%7s")
    queries.foreach { case (name, fn) =>
      try {
        runOnce(spark, sfDir, fn)
        val best = (0 until reps).map { _ =>
          System.gc()
          counter.reset()
          counter.active = true
          val t = runOnce(spark, sfDir, fn)
          // let async listener events land before reading the counters
          Thread.sleep(200)
          counter.active = false
          t
        }.min
        println(f"$name%-28s $best%7.2f ${counter.jobs.get}%5d ${counter.stages.get}%5d " +
          f"${counter.taskMs.get / 1e3}%7.2f ${counter.gcMs.get / 1e3}%6.2f ${counter.fetchMs.get / 1e3}%7.2f " +
          f"${counter.shufReadB.get / 1048576.0}%7.1f ${counter.shufWriteB.get / 1048576.0}%7.1f")
      } catch { case e: Throwable =>
        counter.active = false
        println(s"$name ERROR: ${e.getMessage}")
      }
    }
  }

  private def jobs(spark: SparkSession, sfDir: String, name: String): Unit = {
    val fn = SparkEntry.queries(name)
    runOnce(spark, sfDir, fn) // trace the steady-state rep only
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val lines = new ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        val desc = Option(ev.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val stages = ev.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" ; ")
        starts.put(ev.jobId, (System.nanoTime(), s"$stages | $desc"))
      }
      override def onJobEnd(ev: SparkListenerJobEnd): Unit =
        Option(starts.remove(ev.jobId)).foreach { case (t0, what) =>
          val ms = (System.nanoTime() - t0) / 1e6
          lines.add(f"job ${ev.jobId}%3d  $ms%7.1f ms  $what")
        }
    })
    val t0 = System.nanoTime()
    runOnce(spark, sfDir, fn)
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(200)
    println(f"== $name: ${wall}%.2f s wall, ${lines.size} jobs ==")
    lines.asScala.toSeq.sortBy(l => l.drop(4).trim.takeWhile(_.isDigit).toInt)
      .foreach(println)
  }

  private def hotspots(spark: SparkSession, sfDir: String, name: String, reps: Int): Unit = {
    val fn = SparkEntry.queries(name)
    // sampling the cold run would blame one-time JIT/codegen the bench's
    // min never sees
    runOnce(spark, sfDir, fn)
    val main = Thread.currentThread()
    val pairCounts = new ConcurrentHashMap[String, java.lang.Long]()
    val bucketCounts = new ConcurrentHashMap[String, java.lang.Long]()
    def bump(m: ConcurrentHashMap[String, java.lang.Long], k: String): Unit =
      m.merge(k, 1L, (a, b) => a + b)
    def frame(f: StackTraceElement): String =
      s"${f.getClassName.split('.').last}.${f.getMethodName}"
    @volatile var sampling = true
    @volatile var samples = 0L
    val sampler = new Thread(() => {
      while (sampling) {
        val st = main.getStackTrace
        if (st.nonEmpty) {
          samples += 1
          val interesting = st.filter { f =>
            val c = f.getClassName
            c.startsWith("org.apache.spark") || c.startsWith("graft") ||
              c.startsWith("org.apache.hadoop") || c.startsWith("org.apache.parquet") ||
              c.startsWith("com.fasterxml") || c.startsWith("org.codehaus")
          }
          val sig = interesting.take(2).map(frame).mkString(" <- ")
          bump(pairCounts, if (sig.isEmpty) "(non-spark)" else sig)
          val all = st.map(_.getClassName).mkString("\n")
          // attribute shell forks / raw-FS permission loads to the nearest
          // graft or hadoop-fs CALLER so the fork site has a name
          if (all.contains("hadoop.util.Shell") || all.contains("loadPermissionInfo")) {
            val caller = st.find { f =>
              val c = f.getClassName
              c.startsWith("graft") || c.startsWith("org.apache.spark")
            }.map(frame).getOrElse("(unattributed)")
            bump(pairCounts, s"SHELL-FORK via $caller")
          }
          // name what AQE's plan-update lambda is doing (stringify vs else)
          if (st.exists(_.getMethodName.contains("withFinalPlanUpdate")))
            bump(pairCounts, s"AQE-UPDATE: ${st.take(5).map(frame).mkString(" <- ")}")
          val bucket =
            if (all.contains("janino") || all.contains("CodeGenerator")) "codegen-compile"
            else if (all.contains("catalyst.optimizer") || all.contains("RuleExecutor")) "analysis/optimizer"
            else if (all.contains("QueryPlanner") || all.contains("SparkStrategies")) "physical-planning"
            else if (all.contains("DeltaLog") || all.contains("DeltaStateReconstruction")) "delta-log-replay"
            else if (all.contains("RawLocalFileSystem") || all.contains("hadoop.fs")) "hadoop-fs"
            else if (all.contains("DAGScheduler") || all.contains("runJob") || all.contains("awaitResult") || all.contains("ThreadUtils")) "await-job"
            else if (all.contains("catalyst.analysis")) "analysis/optimizer"
            else if (all.contains("org.apache.spark.sql")) "spark-sql-other"
            else "other"
          bump(bucketCounts, bucket)
        }
        Thread.sleep(3)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => runOnce(spark, sfDir, fn))
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    Thread.sleep(50)

    def top(m: ConcurrentHashMap[String, java.lang.Long], n: Int): Unit =
      m.asScala.toSeq.sortBy(-_._2).take(n).foreach { case (k, v) =>
        println(f"$v%6d  ${100.0 * v / samples}%5.1f%%  $k")
      }
    println(f"== $name: $reps reps, ${wall}%.2f s wall, $samples samples ==")
    println("-- buckets --")
    top(bucketCounts, Int.MaxValue)
    println("-- top frames (driver main) --")
    top(pairCounts, 25)
  }

  /** Runs the query and renders its AQE-FINAL plan: collect executes THIS
    * QueryExecution (a noop write would execute a sibling one and leave
    * this plan at isFinalPlan=false, hiding AQE reuse/joins).
    * Caches are released afterwards: leftover registered caches would make
    * the CacheManager substitute InMemoryRelations into later queries'
    * matching subtrees (the PlanShapeSuite lesson), masking
    * broadcasts/pushdowns. Failures come back as `ERROR: <message>`. */
  private def finalPlan(spark: SparkSession, sfDir: String, fn: Query)(
      render: DataFrame => String): String =
    try {
      val df = fn(spark, sfDir)
      df.collect()
      render(df)
    } catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
    finally graft.operators.QueryCaches.release()

  private def planDir(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, Query)], suffix: String): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      val out = new PrintWriter(s"$outDir/$name$suffix.txt")
      try out.println(finalPlan(spark, sfDir, fn)(_.queryExecution.explainString(FormattedMode)))
      finally out.close()
    }
  }

  private def planFile(spark: SparkSession, sfDir: String, outFile: String,
      queries: Seq[(String, Query)]): Unit = {
    val out = new PrintWriter(outFile)
    try queries.foreach { case (name, fn) =>
      out.println(s"===== $name =====")
      out.println(finalPlan(spark, sfDir, fn)(_.queryExecution.executedPlan.toString))
    } finally out.close()
  }
}
