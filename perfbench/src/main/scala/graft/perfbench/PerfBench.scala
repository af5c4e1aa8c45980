package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.operators.QueryCaches
import graft.sources.delta.{DeltaLog, DeltaMerge}

/** The benchmark's engine side. It runs one workload over inputs the
  * generator (gen.py) wrote, in one JVM, and writes raw records — setup
  * times, per-operation intervals, results to check, counters and, in the
  * traced run, spans — for run.py to check and reduce to metrics.
  *
  * Usage: PerfBench <workload> <inputDir> <workDir> <outDir> <seconds>
  *          <trace 0|1> <launchEpochMs>
  */
object PerfBench {

  private val mapper = new ObjectMapper()
  type J = java.util.Map[String, Any]
  private def obj(kv: (String, Any)*): J = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private def jlist(xs: Iterable[Any]): java.util.List[Any] =
    new java.util.ArrayList[Any](xs.toSeq.asJava)

  /** Set-up runs this many times, each into its own directory; run.py
    * reports the median. */
  val SetupReps = 3
  /** Untimed warmup before the timed loop: JIT and lazy initialisation. */
  val WarmupSeconds = 2.0

  final case class Op(id: String, kind: String, client: Int, t0: Long, durNs: Long,
      ok: Boolean, traced: Boolean, phase: String, err: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, outDir, secondsArg, traceArg, launchArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.getOrCreate(appName = s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val trace = new Trace
    if (traced) spark.sparkContext.addSparkListener(trace)
    val bench = new PerfBench(spark, workload, inputDir, workDir, outDir, trace)
    val setupReps = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      bench.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    bench.use(SetupReps)
    bench.warmup()
    val result = bench.run(seconds, traced)
    val out = obj(
      "workload" -> workload,
      "session_s" -> (sessionReadyMs - launchArg.toLong) / 1000.0,
      "setup_reps_s" -> jlist(setupReps),
      "cores" -> spark.sparkContext.defaultParallelism)
    result.forEach((k, v) => out.put(k, v))
    if (traced) {
      trace.drain()
      out.put("op_aggs", bench.opAggsJson())
      // the operations themselves are the root spans
      bench.tracedOps.foreach(o => trace.spans.add(
        Span(o.kind, "op", o.id, "", o.t0, o.t0 + o.durNs / 1000000)))
      val w = Files.newBufferedWriter(Paths.get(s"$outDir/spans.jsonl"))
      try trace.spans.asScala.foreach { s =>
        w.write(mapper.writeValueAsString(obj("name" -> s.name, "layer" -> s.layer,
          "op" -> s.op, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
        w.newLine()
      } finally w.close()
    }
    bench.checks()
    mapper.writeValue(Paths.get(s"$outDir/engine.json").toFile, out)
    spark.stop()
  }
}

final class PerfBench(spark: SparkSession, workload: String, inputDir: String,
    workDir: String, outDir: String, trace: Trace) {
  import PerfBench._

  private val tablesDir = s"$inputDir/tables"
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  private val ReadClients = 2
  private var tableRoot = ""

  private def read(path: String): Seq[Map[String, Any]] =
    mapper.readValue(Paths.get(path).toFile, classOf[java.util.List[java.util.Map[String, Any]]])
      .asScala.toSeq.map(_.asScala.toMap)

  def tracedOps: Seq[Op] = ops.asScala.filter(_.traced).toSeq

  private lazy val reads = read(s"$inputDir/reads.json")
  private lazy val stmts = read(s"$inputDir/dml.json")
  /** One operator per curation module. dd06/dd12/pp01 are left out: their
    * DuckDB oracles (recursive closure, all-pairs Jaccard) take 20-45 s at
    * a 1000-document corpus, more than a run's budget. */
  private val curationOps = Seq("dd02_ngram_jaccard", "dd11_substring_dedup",
    "pp07_corpus_build", "ss10_ivf_pq", "tx09_bigram_lm")

  // ---- setup ------------------------------------------------------------

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fact tables are partitioned and land in two commits, split on their
    * key so each commit's files cover one key range. */
  private def convert(table: String, dst: String): Unit = {
    val df = spark.read.parquet(s"$tablesDir/$table.parquet")
    val layout = Map("lineitem" -> ("l_orderkey", "l_shipmonth", 2),
      "orders" -> ("o_orderkey", "o_orderyear", 2))
    layout.get(table) match {
      case Some((key, part, commits)) =>
        val maxKey = df.agg(max(col(key))).head().getLong(0) + 1
        (0 until commits).foreach { i =>
          df.where(col(key) >= maxKey * i / commits && col(key) < maxKey * (i + 1) / commits)
            .repartition(col(part))
            .write.format("delta").mode(SaveMode.Append).partitionBy(part).save(dst)
        }
      case None =>
        df.write.format("delta").mode(SaveMode.Append).save(dst)
    }
  }

  private def repRoot(rep: Int) = s"$workDir/delta/rep$rep"

  /** One set-up: the workload's tables converted to Delta under rep `rep`. */
  def setup(rep: Int): Unit = {
    workload match {
      case "sql_reads" => Tables.foreach(t => convert(t, s"${repRoot(rep)}/$t"))
      case "delta_dml" => convert("lineitem", s"${repRoot(rep)}/lineitem")
      case "curation_batch" =>
        // no Delta layer: set-up is the first read of the corpus files
        Seq("documents", "embeddings").foreach { t =>
          spark.read.parquet(s"$inputDir/corpus/$t.parquet").count()
        }
    }
  }

  /** Run the workload over the tables of set-up `rep`. */
  def use(rep: Int): Unit = tableRoot = repRoot(rep)

  // ---- operations ---------------------------------------------------------

  /** The SQL text with each `{table}` placeholder bound to a temp view over
    * the Delta table at its current version. Registering the view is part
    * of the operation: `DataFrameReader.load` resolves the snapshot, as a
    * direct `delta.`path`` reference would if Spark's ResolveSQLOnFile
    * accepted non-FileFormat sources (it rejects them with
    * UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY). Views are per client, so
    * concurrent clients never rebind each other's names. */
  private def bind(sql: String, client: Int): String =
    Tables.foldLeft(sql) { (text, t) =>
      if (!text.contains(s"{$t}")) text
      else {
        val view = s"c${client}_$t"
        spark.read.format("delta").load(s"$tableRoot/$t").createOrReplaceTempView(view)
        text.replace(s"{$t}", view)
      }
    }

  private val results = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val execs = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private val dmlLog = new java.util.concurrent.ConcurrentLinkedQueue[J]()

  private def rowsJson(rows: Array[Row]): String =
    mapper.writeValueAsString(jlist(rows.toSeq.map(r =>
      jlist(r.toSeq.map {
        case d: java.math.BigDecimal => d.toPlainString
        case d: java.sql.Date => d.toString
        case v => v
      }))))

  /** Run `body` as operation `id`, recording its interval; in the traced
    * run its jobs carry the op id as their job group. */
  private def timed[T](id: String, kind: String, client: Int, phase: String,
      traced: Boolean)(body: => T): Option[T] = {
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(id, kind, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val res = try Right(body) catch { case e: Exception => Left(e) }
    val n1 = System.nanoTime()
    if (traced) sc.clearJobGroup()
    val err = res.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
      .map(_.take(300)).orNull
    ops.add(Op(id, kind, client, t0, n1 - n0, res.isRight, traced, phase, err))
    res.toOption
  }

  private def readQuery(inst: Map[String, Any], opId: String, client: Int,
      phase: String, traced: Boolean): Unit = {
    timed(opId, "read", client, phase, traced) {
      spark.sql(bind(inst("sql").toString, client)).collect()
    }.foreach { rows =>
      val js = rowsJson(rows)
      val id = inst("id").toString
      val prev = results.putIfAbsent(id, js)
      val c = execs.computeIfAbsent(id, _ => Array(0L, 0L))
      c.synchronized { c(0) += 1; if (prev != null && prev != js) c(1) += 1 }
    }
  }

  private def logDir = Paths.get(s"$tableRoot/lineitem/_delta_log")
  private def latestVersion(): Long =
    Files.list(logDir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong).max

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private lazy val lineitemCols: Seq[String] =
    spark.read.parquet(s"$tablesDir/lineitem.parquet").columns.toSeq

  private def dmlStatement(s: Map[String, Any], phase: String, traced: Boolean): Unit = {
    val path = s"$tableRoot/lineitem"
    val id = s("id").toString
    val kind = s("kind").toString
    val i = (k: String) => s(k).toString.toLong
    val before = latestVersion()
    val ok = timed(id, kind, 0, phase, traced) {
      kind match {
        case "append" =>
          spark.read.parquet(s"$inputDir/dml/${s("file")}")
            .write.format("delta").mode(SaveMode.Append).partitionBy("l_shipmonth").save(path)
        case "update" =>
          spark.sql(s"UPDATE delta.`$path` SET l_quantity = l_quantity + ${i("delta")} " +
            s"WHERE l_shipmonth = ${i("month")} AND l_linenumber = ${i("line")}").collect()
        case "delete" =>
          spark.sql(s"DELETE FROM delta.`$path` WHERE l_shipmonth = ${i("month")} " +
            s"AND l_orderkey % ${i("mod")} = ${i("rem")}").collect()
        case "merge" =>
          DeltaMerge.merge(spark, path, spark.read.parquet(s"$inputDir/dml/${s("file")}"),
            "t.l_shipmonth = s.l_shipmonth AND t.l_orderkey = s.l_orderkey AND " +
              "t.l_linenumber = s.l_linenumber",
            matchedUpdate = Some(Map("l_quantity" -> "s.l_quantity", "l_partkey" -> "s.l_partkey")),
            notMatchedInsert = Some(lineitemCols.map(c => c -> s"s.$c").toMap))
      }
    }.isDefined
    val after = latestVersion()
    val pred = if (kind == "append") s"l_orderkey BETWEEN ${i("lo")} AND ${i("hi")}"
      else s"l_shipmonth = ${i("month")}"
    val back = timed(s"$id-read", "readback", 0, phase, traced) {
      spark.sql(bind(s"SELECT count(*) AS n, sum(l_quantity) AS qty, sum(l_orderkey) AS keys, " +
        s"sum(l_linenumber) AS lines FROM {lineitem} WHERE $pred", 0)).collect()
    }
    val entry = obj("id" -> id, "kind" -> kind, "ok" -> ok, "before" -> before,
      "after" -> after, "readback" -> back.map(rowsJson).orNull)
    entry.putAll(commitStats(after).asJava)
    dmlLog.add(entry)
  }

  /** Actions and bytes of commit `v` (read from the log, untimed). */
  private def commitStats(v: Long): Map[String, Any] = {
    val f = logDir.resolve(f"$v%020d.json")
    val lines = Files.readAllLines(f).asScala
    val cps = Files.list(logDir).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(f"$v%020d.checkpoint")).toSeq
    Map("adds" -> lines.count(_.startsWith("{\"add\"")),
      "removes" -> lines.count(_.startsWith("{\"remove\"")),
      "log_bytes" -> (Files.size(f) + cps.map(n => Files.size(logDir.resolve(n))).sum),
      "checkpoint" -> cps.nonEmpty)
  }

  /** One operator run. The warmup run writes the output for the checks;
    * timed runs write to the noop sink, running the same plan. */
  private def curationOp(name: String, opId: String, phase: String, traced: Boolean): Unit =
    timed(opId, name, 0, phase, traced) {
      try {
        val df = SparkEntry.queries(name)(spark, s"$inputDir/corpus")
        if (phase == "warmup")
          df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/curation/$name")
        else df.write.format("noop").mode(SaveMode.Overwrite).save()
      } finally QueryCaches.release()
    }

  // ---- loops --------------------------------------------------------------

  /** `clients` closed-loop clients: `step(c, n)` runs client c's n-th
    * operation; a client starts its next one only when the previous has
    * returned. */
  private def closedLoop(clients: Int, untilMs: Long)(step: (Int, Int) => Unit): Unit = {
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var n = 0
        while (System.currentTimeMillis() < untilMs) { step(c, n); n += 1 }
      })
      t.start(); t
    }
    threads.foreach(_.join())
  }

  private val nextRead = new java.util.concurrent.atomic.AtomicInteger
  private var dmlNext = 0

  /** Run the workload until `untilMs`. In the traced run, half the
    * operations run traced and half untraced, so both halves see the same
    * warm JVM and their difference is the tracing overhead: reads and
    * statements alternate; each curation operator runs twice in a row,
    * traced first on every other operator. Timed curation runs whole
    * passes and timed DML whole statement cycles. */
  private def loop(untilMs: Long, phase: String, traced: Boolean): Unit =
    workload match {
      case "sql_reads" =>
        closedLoop(ReadClients, untilMs) { (c, n) =>
          val inst = reads(nextRead.getAndIncrement() % reads.size)
          readQuery(inst, s"${inst("id")}-$phase-$c-$n", c, phase, traced && n % 2 == 0)
        }
      case "delta_dml" =>
        // timed: whole cycles of the statement stream, so every run times
        // the same statement mix
        val unit = if (phase == "timed") stmts.head("cycle").toString.toInt else 1
        closedLoop(1, untilMs) { (_, n) =>
          (0 until unit).foreach { k =>
            require(dmlNext < stmts.size, "statement stream exhausted; generate more")
            dmlStatement(stmts(dmlNext), phase, traced && (n * unit + k) % 2 == 0)
            dmlNext += 1
          }
        }
      case "curation_batch" =>
        // whole passes, so every run times the same operator mix
        closedLoop(1, untilMs) { (_, n) =>
          curationOps.zipWithIndex.foreach { case (name, k) =>
            val id = s"$name-$phase-$n"
            if (!traced) curationOp(name, id, phase, traced = false)
            else Seq(k % 2 == 0, k % 2 != 0).zipWithIndex.foreach { case (tr, i) =>
              curationOp(name, s"$id.$i", phase, tr)
            }
          }
        }
    }

  def warmup(): Unit = {
    if (workload == "curation_batch")
      curationOps.foreach(op => curationOp(op, s"$op-warmup", "warmup", traced = false))
    else loop(System.currentTimeMillis() + (WarmupSeconds * 1000).toLong, "warmup", traced = false)
    if (workload == "delta_dml") {
      tableBytes0 = dirBytes(Paths.get(s"$tableRoot/lineitem"))
      version0 = latestVersion()
    }
  }

  private var tableBytes0 = 0L
  private var version0 = 0L

  /** The timed loop, with the process CPU time, heap and counters it
    * cost. */
  def run(seconds: Double, traced: Boolean): J = {
    val counters0 = counters()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val w0 = System.nanoTime()
    val opsBefore = ops.size
    // traced run only: peak storage memory held by cached blocks
    val cachedPeak = new java.util.concurrent.atomic.AtomicLong
    val done = new java.util.concurrent.CountDownLatch(1)
    val sampler = new Thread(() => while (traced && !done.await(100, java.util.concurrent.TimeUnit.MILLISECONDS)) {
      val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (mx, free) => mx - free }.sum
      cachedPeak.accumulateAndGet(used, math.max)
    })
    sampler.start()
    loop(System.currentTimeMillis() + (seconds * 1000).toLong, "timed", traced)
    done.countDown(); sampler.join()
    val wallS = (System.nanoTime() - w0) / 1e9
    val cpuNs = os.getProcessCpuTime - cpu0
    val counters1 = counters()
    // retained heap: the least of a few full collections, so an
    // in-flight background allocation does not count
    val heap = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    obj("loop_s" -> wallS, "cpu_ns" -> cpuNs, "heap_after_gc_bytes" -> heap,
      "cached_bytes_peak" -> cachedPeak.get(),
      "timed_ops" -> (ops.size - opsBefore),
      "counters" -> obj(counters1.map { case (k, v) => k -> (v - counters0(k)) }.toSeq: _*),
      "table_bytes0" -> tableBytes0, "version0" -> version0,
      "table_bytes1" -> (if (workload == "delta_dml") dirBytes(Paths.get(s"$tableRoot/lineitem")) else 0L),
      "ops" -> jlist(ops.asScala.map(o => obj("id" -> o.id, "kind" -> o.kind,
        "client" -> o.client, "t0" -> o.t0, "dur_ms" -> o.durNs / 1e6, "ok" -> o.ok,
        "traced" -> o.traced, "phase" -> o.phase, "err" -> o.err))))
  }

  private def counters(): Map[String, Long] = Map(
    "snap_builds" -> DeltaLog.driverSnapBuilds.get(),
    "snap_extends" -> DeltaLog.driverSnapExtends.get())

  def opAggsJson(): J = obj(trace.opAggs.toSeq.map { case (op, a) =>
    op -> obj("tasks" -> a.tasks, "stages" -> a.stages, "jobs" -> a.jobs,
      "run_ms" -> a.runMs, "gc_ms" -> a.gcMs, "busy_ms" -> a.busyMs,
      "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
      "spill" -> a.spill,
      "scans" -> jlist(a.scans.map { case (t, f, b) => obj("table" -> t, "files" -> f, "bytes" -> b) }))
  }: _*)

  // ---- untimed output capture for the checks --------------------------------

  def checks(): Unit = workload match {
    case "sql_reads" =>
      val live = Tables.map(t => s"$tableRoot/$t" -> dataFiles(s"$tableRoot/$t")).toMap
      mapper.writeValue(Paths.get(s"$outDir/reads_out.json").toFile, obj(
        "results" -> obj(results.asScala.toSeq: _*),
        "execs" -> obj(execs.asScala.toSeq.map { case (k, v) => k -> jlist(v.toSeq) }: _*),
        "table_files" -> obj(live.toSeq: _*)))
    case "delta_dml" =>
      val path = s"$tableRoot/lineitem"
      val sum = spark.sql(bind(s"SELECT l_shipmonth, count(*) AS n, sum(l_quantity) AS qty, " +
        s"sum(l_orderkey) AS keys, sum(l_linenumber) AS lines, sum(l_partkey) AS parts " +
        s"FROM {lineitem} GROUP BY l_shipmonth ORDER BY l_shipmonth", 0)).collect()
      val init = (0L to version0).map(commitStats)
      mapper.writeValue(Paths.get(s"$outDir/dml_out.json").toFile, obj(
        "statements" -> jlist(dmlLog.asScala),
        "final" -> rowsJson(sum),
        "initial_live_files" -> init.map(c => c("adds").asInstanceOf[Int] -
          c("removes").asInstanceOf[Int]).sum))
    case "curation_batch" =>
      val oracle = obj(curationOps.map(n => n -> SparkEntry.oracleSql(n)): _*)
      mapper.writeValue(Paths.get(s"$outDir/oracle_sql.json").toFile, oracle)
  }

  private def dataFiles(table: String): Long =
    Files.walk(Paths.get(table)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet") && !p.toString.contains("_delta_log"))
}
