package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Cross-process execution pin: runs the Delta provider's serialization-
  * sensitive paths on `local-cluster[2,2,1024]` — a real multi-JVM
  * deployment in miniature (the master/workers are in-process threads but
  * every EXECUTOR is a separate JVM, so task closures, the custom
  * FileFormat, [[graft.sources.delta.SerializableHadoopConf]] and the DV
  * build/filter closures must genuinely serialize).
  *
  * The reference's entire plan-codec layer exists because plans cross
  * process boundaries (`/root/reference/src/lib.rs:49-138` ships
  * logical/physical plan protobufs); Spark makes the shipping free, but
  * only a multi-JVM run proves our closures survive it. `local[*]` tests
  * cannot catch a non-serializable capture — this main exists to.
  *
  * [[run]] has five steps: (1) the golden read of the reference fixture,
  * (2) the distributed DV delete, (3) the column-mapped append/read, (4)
  * frame-plane log replay and (5) fake-S3 across executor JVMs. Step 1 runs
  * only where [[ReferenceFixture.present]] holds (the repo does not hold
  * the fixture, FIXTURES.md §1); elsewhere it prints one line starting
  * with [[SkipMarker]] that says why, and steps 2–5 run regardless.
  *
  * Run directly (`sbt "runMain graft.ClusterCheck"`) or through
  * `ClusterSuite`, which spawns it as a subprocess (the shared test JVM
  * already holds a `local[*]` context). Prints `CLUSTERCHECK OK` and
  * exits 0 on success.
  */
object ClusterCheck {

  def main(args: Array[String]): Unit = {
    // the in-process workers launch executors through the dist's launcher,
    // which needs both of these (load-spark-env.sh never runs here)
    require(sys.env.contains("SPARK_HOME"),
      "ClusterCheck needs SPARK_HOME (e.g. /opt/spark) in the environment")
    require(sys.env.contains("SPARK_SCALA_VERSION"),
      "ClusterCheck needs SPARK_SCALA_VERSION (e.g. 2.13) in the environment")
    val spark = GraftSession.getOrCreate("local-cluster[2,2,1024]", Some(4),
      "graft-cluster-check", Map("spark.executor.memory" -> "1024m") ++ executorJvm)
    spark.sparkContext.setLogLevel("WARN")
    try {
      run(spark)
      println("CLUSTERCHECK OK")
    } finally spark.stop()
  }

  /** Starts the line [[run]] prints for a step it skipped. */
  private[graft] val SkipMarker = "CLUSTERCHECK SKIP "

  /** Executors are fresh JVMs: they need our classes and the JDK17 opens. */
  private[graft] def executorJvm: Map[String, String] = Map(
    "spark.executor.extraClassPath" -> sys.props("java.class.path"),
    "spark.executor.extraJavaOptions" -> JvmOpens.asOptionString)

  private[graft] def run(spark: SparkSession): Unit = {
    // 1. golden fixture — the reference's own 5-row table through the
    // provider scan, decoded on remote executors. Only this step reads the
    // fixture, so only this step is skipped where it is absent.
    if (ReferenceFixture.present) {
      val n = graft.sources.delta.DeltaTable.read(spark, ReferenceFixture.Path).count()
      require(n == 5L, s"golden fixture: expected 5 rows, got $n")
    } else println(s"${SkipMarker}step 1 (golden fixture read): ${ReferenceFixture.absentReason}")

    // steps 2-5 write two local tables; they are deleted however the steps end
    val dirs = Seq("graft-cluster-dv", "graft-cluster-cm")
      .map(TempDirs.create)
    try tableSteps(spark, dirs(0), dirs(1))
    finally dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  private def tableSteps(spark: SparkSession, dvDir: String, cmDir: String): Unit = {
    import graft.sources.delta.{DeltaDml, DeltaSchema, DeltaTable, DeltaWriter}
    import org.apache.spark.sql.SaveMode
    import spark.implicits._

    // 2. deletion vectors — the distributed DV build (groupByKey +
    // mapGroups + per-task DV file write) runs ON executors; the read-side
    // anti-filter closure (SerializableHadoopConf + descriptor map) ships
    // back out to them
    spark.range(0, 10000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(4).write.format("delta").save(dvDir)
    val m = DeltaDml.deleteWithDv(spark, dvDir, "id % 2 = 0")
    require(m.rowsAffected == 5000L, s"DV delete affected ${m.rowsAffected}")
    val live = DeltaTable.read(spark, dvDir).agg(count(lit(1)), sum("id")).collect()(0)
    require(live.getLong(0) == 5000L, s"DV read count ${live.getLong(0)}")
    require(live.getLong(1) == (0L until 10000L).filter(_ % 2 == 1).sum,
      s"DV read sum ${live.getLong(1)}")

    // 3. column mapping — physical-name translation inside the custom
    // FileFormat, serialized to executors; append after rename included
    (0 until 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .write.format("delta").save(cmDir)
    DeltaSchema.renameColumn(spark, cmDir, "v", "value")
    DeltaWriter.write(
      (100 until 200).map(i => (i.toLong, i * 2.0)).toDF("id", "value"),
      cmDir, SaveMode.Append, Nil)
    val cm = DeltaTable.read(spark, cmDir)
      .filter(col("value") >= 100.0)
      .agg(count(lit(1)), sum("value")).collect()(0)
    require(cm.getLong(0) == 150L, s"mapped read count ${cm.getLong(0)}")
    require(cm.getDouble(1) == (50 until 200).map(_ * 2.0).sum,
      s"mapped read sum ${cm.getDouble(1)}")

    // 4. distributed snapshot replay — the frame plane's executor-side
    // JSON parse / last-wins dedup must serialize to remote executor JVMs
    // (its scale case IS the multi-executor cluster)
    import graft.sources.delta.DeltaLog
    GraftSession.withConf(spark, DeltaLog.SnapshotPlaneKey, "frame") {
      val snap = DeltaLog.snapshot(spark, dvDir)
      require(snap.files.nonEmpty, "frame-plane snapshot returned no files")
      val viaJob = DeltaTable.read(spark, dvDir).count()
      require(viaJob == 5000L, s"frame-plane replay read $viaJob rows, expected 5000")
    }

    // 5. object-store resolution ACROSS JVM boundaries — the reference's
    // hardest-won lesson (`src/object_store.rs:48-94`,
    // `examples/custom_scheduler.rs:29`: every EXECUTOR must resolve the
    // store itself; a driver-only registration dies on the first remote
    // task). Here each executor JVM must build its own SigV4
    // [[graft.sources.S3FileSystem]] from the propagated Hadoop conf:
    // parquet writes, the log-replay listing, pruned scans and the DML
    // rewrite all run as remote tasks against the fake-S3 endpoint.
    val server = new FakeS3Server("graft-access", "graft-secret")
    server.start()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3.impl", classOf[graft.sources.S3FileSystem].getName)
      hc.set("fs.s3.endpoint", s"http://127.0.0.1:${server.port}")
      hc.set("fs.s3.access.key", "graft-access")
      hc.set("fs.s3.secret.key", "graft-secret")
      hc.set("fs.s3.impl.disable.cache", "true")
      val s3tbl = "s3://bucket/cluster-tbl"
      spark.range(0, 1000).select(col("id"), (col("id") % 5).as("k"))
        .repartition(4).write.format("delta").save(s3tbl)
      require(server.keys.exists(_.contains("_delta_log/00000000000000000000.json")),
        "s3 write committed no delta log")
      val parquetCount = server.keys.count(_.endsWith(".parquet"))
      require(parquetCount >= 4,
        s"expected >=4 executor-written parquet objects, saw $parquetCount")
      val cnt = DeltaTable.read(spark, s3tbl).filter(col("k") === 2).count()
      require(cnt == 200L, s"s3 scan through remote executors returned $cnt rows")
      DeltaDml.delete(spark, s3tbl, "k = 2")
      val left = DeltaTable.read(spark, s3tbl)
        .agg(count(lit(1)), sum("id")).collect()(0)
      require(left.getLong(0) == 800L, s"s3 DML left ${left.getLong(0)} rows")
      require(left.getLong(1) == (0L until 1000L).filter(_ % 5 != 2).sum,
        s"s3 DML sum ${left.getLong(1)}")
    } finally server.stop()
  }
}
