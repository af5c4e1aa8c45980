package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaFileIndex, DeltaLog, DeltaTable, DeltaWriter}

/** Delta layer spec, mirroring the reference's test philosophy
  * (`/root/reference/tests/local.rs`): golden end-to-end reads of the
  * reference's own fixture table, the DDL path, and the write path — which
  * here is a POSITIVE test (the reference asserts INSERT fails over
  * Ballista, `tests/local.rs:100-103`; our Spark-native writer works).
  * The fixture is read in place and the repo does not bundle it
  * (FIXTURES.md §1): the tests that read it are canceled where it is
  * absent, with its path in the reason. */
class DeltaSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val fixture = ReferenceFixture.Path

  private def tmpDir(): String =
    TestSpark.tempDir("graft-delta-")

  test("TIMESTAMP_NTZ column: creation stamps the timestampNtz feature; values round-trip") {
    import spark.implicits._
    val dir = tmpDir()
    val df = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("ts", expr("timestampadd(HOUR, CAST(id AS INT), TIMESTAMP_NTZ'2020-05-06 07:08:09')"))
    DeltaWriter.write(df, dir, SaveMode.Append, Nil)
    val p = DeltaLog.snapshot(spark, dir).protocol
    assert(p.minReaderVersion === 3 && p.minWriterVersion === 7,
      s"ntz schema must upgrade to table features: $p")
    assert(p.readerFeatures.contains("timestampNtz") && p.writerFeatures.contains("timestampNtz"))
    val back = DeltaTable.read(spark, dir)
    assert(back.schema("ts").dataType === org.apache.spark.sql.types.TimestampNTZType)
    // wall-clock values, no zone shift
    assert(back.orderBy("id").select(col("ts").cast("string")).as[String].collect().toSeq ===
      Seq("2020-05-06 08:08:09", "2020-05-06 09:08:09", "2020-05-06 10:08:09"))
    // ntz stats drive skipping without breaking correctness
    assert(back.filter(col("ts") > expr("TIMESTAMP_NTZ'2020-05-06 09:00:00'")).count() === 2)
  }

  test("snapshot warns past the live-file threshold (driver replay scale guard)") {
    val dir = tmpDir()
    spark.range(0, 100).repartition(5).toDF("id").write.format("delta").save(dir)
    val buf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    try GraftSession.withConf(spark, DeltaLog.SnapshotFileCountThresholdKey, "3") {
      System.setErr(new java.io.PrintStream(buf, true))
      assert(DeltaLog.snapshot(spark, dir).files.size === 5)
    } finally System.setErr(oldErr)
    assert(buf.toString.contains("driver-side log replay"),
      s"expected the scale warning, got: ${buf.toString.take(200)}")
    // below the threshold: silent
    val buf2 = new java.io.ByteArrayOutputStream()
    try {
      System.setErr(new java.io.PrintStream(buf2, true))
      DeltaLog.snapshot(spark, dir)
    } finally System.setErr(oldErr)
    assert(!buf2.toString.contains("driver-side log replay"))
  }

  // --- reference-parity golden reads -------------------------------------

  test("golden: fixture read matches the reference's expected 5 rows") {
    assume(ReferenceFixture.present, ReferenceFixture.absentReason)
    // Expected table lifted from /root/reference/tests/local.rs:31-41
    // ('NaN' is a literal string — pandas artifact, tests/local.rs:35-39).
    val df = DeltaTable.read(spark, fixture).orderBy("first_name")
    assert(df.columns.toSeq ==
      Seq("first_name", "last_name", "continent", "country"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("Bruce", "Lee", "Asia", "China"),
      ("Ernesto", "Guevara", "NaN", "Argentina"),
      ("Jack", "Ma", "Asia", "China"),
      ("Soraya", "Jala", "NaN", "Germany"),
      ("Wolfgang", "Manche", "NaN", "Germany")))
  }

  test("golden: CREATE TABLE USING delta DDL path (reference tests/local.rs:48-54)") {
    assume(ReferenceFixture.present, ReferenceFixture.absentReason)
    spark.sql("DROP TABLE IF EXISTS c1")
    spark.sql(s"CREATE TABLE c1 USING delta LOCATION '$fixture'")
    val got = spark.sql("select * from c1 order by first_name").collect()
    assert(got.length == 5)
    assert(got.head.toSeq == Seq("Bruce", "Lee", "Asia", "China"))
    spark.sql("DROP TABLE c1")
  }

  test("partition column is injected from partitionValues, not read from parquet") {
    assume(ReferenceFixture.present, ReferenceFixture.absentReason)
    import scala.jdk.CollectionConverters._
    val snap = DeltaTable.snapshot(spark, fixture)
    assert(snap.partitionColumns == Seq("country"))
    assert(snap.dataSchema.fieldNames.toSeq ==
      Seq("first_name", "last_name", "continent"))
    assert(snap.files.size == 3)
    assert(snap.files.map(_.partitionValues("country")).toSet ==
      Set("Argentina", "China", "Germany"))
  }

  // --- pruning / skipping ------------------------------------------------

  test("partition pruning reaches the file list (only country=China survives)") {
    assume(ReferenceFixture.present, ReferenceFixture.absentReason)
    val df = DeltaTable.read(spark, fixture).filter(col("country") === "China")
    // collect() drives df.queryExecution itself, so its scan metrics populate
    assert(df.collect().length == 2)
    // prune at the FileIndex level with a pushed partition filter
    val snap = DeltaTable.snapshot(spark, fixture)
    val idx = new DeltaFileIndex(spark, snap)
    val country = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "country", org.apache.spark.sql.types.StringType)()
    val eq = org.apache.spark.sql.catalyst.expressions.EqualTo(
      country, org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("China"),
        org.apache.spark.sql.types.StringType))
    val listed = idx.listFiles(Seq(eq), Nil)
    assert(listed.flatMap(_.files).size == 1, "expected exactly 1 surviving parquet file")
    assert(listed.head.files.head.getPath.toString.contains("country=China"))
    // and the physical scan itself reports 1 file read
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined, "expected a FileSourceScanExec leaf")
    assert(scan.get.metrics("numFiles").value == 1)
  }

  test("stats-based file skipping: predicate beyond max prunes all files") {
    val dir = tmpDir()
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v")
    DeltaTable.write(df, dir, SaveMode.Overwrite)
    val snap = DeltaTable.snapshot(spark, dir)
    assert(snap.files.forall(_.stats.isDefined), "writer must produce stats")
    val idx = new DeltaFileIndex(spark, snap)
    // build a pushed filter v > 100.0 over the data schema
    val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "v", org.apache.spark.sql.types.DoubleType)()
    val gt = org.apache.spark.sql.catalyst.expressions.GreaterThan(
      attr, org.apache.spark.sql.catalyst.expressions.Literal(100.0))
    val listed = idx.listFiles(Nil, Seq(gt))
    assert(listed.flatMap(_.files).isEmpty, "all files should be stat-skipped")
    val kept = idx.listFiles(Nil, Seq(
      org.apache.spark.sql.catalyst.expressions.GreaterThan(attr,
        org.apache.spark.sql.catalyst.expressions.Literal(15.0))))
    assert(kept.flatMap(_.files).nonEmpty)
  }

  test("stats skipping treats -0.0 and 0.0 as equal: a -0.0 max keeps `d = 0` and `d >= 0`") {
    val dir = tmpDir()
    import spark.implicits._
    val df = Seq((1L, -5.0d), (2L, -0.0d)).toDF("id", "d").coalesce(1)
    DeltaTable.write(df, dir, SaveMode.Overwrite)
    val pq = tmpDir()
    df.write.mode("overwrite").parquet(pq)
    val delta = DeltaTable.read(spark, dir)
    val raw = spark.read.parquet(pq)
    for (p <- Seq(col("d") === 0, col("d") >= 0)) {
      assert(raw.filter(p).count() === 1L, s"parquet reference for $p")
      assert(delta.filter(p).count() === 1L, s"the -0.0 row must survive $p")
    }
    // stats that still say -0.0 (older commits, other writers) keep the file too
    val snap = DeltaTable.snapshot(spark, dir)
    assert(snap.files.flatMap(_.stats).exists(_.contains("\"d\":0.0")))
    val legacy = snap.copy(files = snap.files.map(f =>
      f.copy(stats = f.stats.map(_.replace("\"d\":0.0", "\"d\":-0.0")))))
    val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "d", org.apache.spark.sql.types.DoubleType)()
    val zero = org.apache.spark.sql.catalyst.expressions.Literal(0.0d)
    for (p <- Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(attr, zero),
        org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(attr, zero)))
      assert(new DeltaFileIndex(spark, legacy).listFiles(Nil, Seq(p)).flatMap(_.files).size === 1,
        s"a -0.0 max bound must keep the file for $p")
  }

  test("stats skipping treats -0.0 and 0.0 as equal: a 0.0 min keeps `d = -0.0` and `d <= -0.0`") {
    val dir = tmpDir()
    import spark.implicits._
    val df = Seq((1L, 0.0d), (2L, 5.0d)).toDF("id", "d").coalesce(1)
    DeltaTable.write(df, dir, SaveMode.Overwrite)
    val pq = tmpDir()
    df.write.mode("overwrite").parquet(pq)
    val delta = DeltaTable.read(spark, dir)
    val raw = spark.read.parquet(pq)
    for (p <- Seq(col("d") === lit(-0.0d), col("d") <= lit(-0.0d))) {
      assert(raw.filter(p).count() === 1L, s"parquet reference for $p")
      assert(delta.filter(p).count() === 1L, s"the 0.0 row must survive $p")
    }
  }

  test("timestamp stats skipping is micros-exact: equality on a sub-millisecond value survives") {
    val dir = tmpDir()
    import spark.implicits._
    // a timestamp 500 MICROSECONDS past the millisecond: a millis-
    // truncated max stat would under-estimate the bound and an equality
    // literal at the true value would unsoundly prune the file
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    ts.setNanos(500000) // .000500
    DeltaTable.write(Seq((1L, ts)).toDF("id", "t"), dir, SaveMode.Overwrite)
    val snap = DeltaTable.snapshot(spark, dir)
    assert(snap.files.forall(_.stats.exists(_.contains("000500"))),
      s"stats must carry micros: ${snap.files.flatMap(_.stats)}")
    // end to end through the provider scan (filter pushdown + skipping)
    val got = DeltaTable.read(spark, dir)
      .filter($"t" === lit(ts)).count()
    assert(got === 1L, "the micros-precision equality must find its row")
    // and a bound truly past the max still prunes
    val idx = new DeltaFileIndex(spark, snap)
    val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "t", org.apache.spark.sql.types.TimestampType)()
    val tooLate = org.apache.spark.sql.catalyst.expressions.GreaterThan(attr,
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts) + 1L,
        org.apache.spark.sql.types.TimestampType))
    assert(idx.listFiles(Nil, Seq(tooLate)).flatMap(_.files).isEmpty,
      "a bound one microsecond past the max must still prune")
  }

  // --- write path (exceeds reference) ------------------------------------

  test("append + overwrite roundtrip with partitioning and time travel") {
    val dir = tmpDir()
    import spark.implicits._
    val v0 = Seq(("a", 1), ("b", 2)).toDF("k", "n")
    DeltaTable.write(v0, dir, SaveMode.Overwrite, partitionBy = Seq("k"))
    val v1 = Seq(("a", 3)).toDF("k", "n")
    DeltaTable.write(v1, dir, SaveMode.Append)

    val now = DeltaTable.read(spark, dir)
    assert(now.count() == 3)
    assert(now.columns.toSet == Set("k", "n"))

    // time travel to version 0
    val at0 = DeltaTable.readVersion(spark, dir, 0)
    assert(at0.count() == 2)

    // overwrite drops old files via remove actions
    val v2 = Seq(("c", 9)).toDF("k", "n")
    DeltaTable.write(v2, dir, SaveMode.Overwrite)
    assert(DeltaTable.read(spark, dir).collect().map(_.getAs[Int]("n")).toSeq == Seq(9))
    assert(DeltaTable.readVersion(spark, dir, 1).count() == 3)
  }

  test("df.write.format(\"delta\").partitionBy(...) API surface") {
    val dir = tmpDir()
    import spark.implicits._
    Seq((1, "x", "p1"), (2, "y", "p2")).toDF("id", "s", "p")
      .write.format("delta").mode("overwrite").partitionBy("p").save(dir)
    val back = spark.read.format("delta").load(dir)
    assert(back.count() == 2)
    val snap = DeltaTable.snapshot(spark, dir)
    assert(snap.partitionColumns == Seq("p"))
    // partition dirs are hive-style and the parquet files do NOT contain p
    assert(snap.files.forall(f => f.path.contains("p=")))
  }

  test("schema mismatch and mode guards") {
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), dir, SaveMode.Overwrite)
    intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((1, "a")).toDF("id", "zzz"), dir, SaveMode.Append)
    }
    intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((1, "a")).toDF("id", "s"), dir, SaveMode.ErrorIfExists)
    }
    // Ignore is a no-op
    DeltaTable.write(Seq((7, "q")).toDF("id", "s"), dir, SaveMode.Ignore)
    assert(DeltaTable.read(spark, dir).count() == 1)
  }

  test("checkpoint write + replay through checkpoint") {
    val dir = tmpDir()
    import spark.implicits._
    // 11 commits → checkpoint at version 10
    (0 to 10).foreach { i =>
      DeltaTable.write(Seq((i, s"row$i")).toDF("id", "s"), dir,
        if (i == 0) SaveMode.Overwrite else SaveMode.Append)
    }
    val cp = new java.io.File(s"$dir/_delta_log")
      .listFiles().map(_.getName).filter(_.contains("checkpoint"))
    assert(cp.contains("00000000000000000010.checkpoint.parquet"))
    assert(new java.io.File(s"$dir/_delta_log/_last_checkpoint").exists())
    // replay goes through the checkpoint + the post-checkpoint commits
    assert(DeltaTable.read(spark, dir).count() == 11)
    // and time travel before the checkpoint still works (JSON replay)
    assert(DeltaTable.readVersion(spark, dir, 4).count() == 5)
  }

  test("protocol gate: unimplemented reader version fails loudly") {
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), dir, SaveMode.Overwrite)
    // forge a protocol bump past anything this engine implements
    // (v3 with supported features is readable — DeletionVectorSuite)
    val log = new java.io.File(s"$dir/_delta_log/00000000000000000001.json")
    Files.write(log.toPath,
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":8}}""".getBytes)
    val e = intercept[UnsupportedOperationException] {
      DeltaTable.read(spark, dir).collect()
    }
    assert(e.getMessage.contains("reader version 4"))
  }

  test("SQL INSERT INTO … VALUES commits a delta version (reference negative → positive)") {
    // The reference documents INSERT as failing by design over Ballista
    // (tests/local.rs:92-103); here the DSv1 relation mixes in
    // InsertableRelation, so the SQL statement routes to the log-aware
    // writer instead of InsertIntoHadoopFsRelationCommand's raw file drop.
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir, SaveMode.Overwrite)
    spark.sql("DROP TABLE IF EXISTS ins_demo")
    spark.sql(s"CREATE TABLE ins_demo USING delta LOCATION '$dir'")
    spark.sql("INSERT INTO ins_demo VALUES (3, 'c'), (4, 'd')")
    spark.sql("REFRESH TABLE ins_demo")
    assert(spark.table("ins_demo").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // the insert must be a LOG commit (version 1), not loose parquet files
    assert(DeltaTable.snapshot(spark, dir).version == 1L)
    // INSERT OVERWRITE replaces the table contents in one ACID commit
    spark.sql("INSERT OVERWRITE ins_demo VALUES (9, 'z')")
    spark.sql("REFRESH TABLE ins_demo")
    assert(spark.table("ins_demo").as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    assert(DeltaTable.snapshot(spark, dir).version == 2L)
    // time travel still sees the pre-overwrite state
    assert(DeltaTable.readVersion(spark, dir, 1L).count() == 4)
    spark.sql("DROP TABLE ins_demo")
  }

  test("remove tombstones: files removed in later versions disappear") {
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), dir, SaveMode.Overwrite)
    val snap0 = DeltaTable.snapshot(spark, dir)
    // hand-written commit removing one file (what VACUUM/DELETE would emit)
    val victim = snap0.files.head.path
    val ok = DeltaLog.tryCommit(spark, dir, 1,
      s"""{"remove":{"path":"$victim","dataChange":true}}""")
    assert(ok)
    val snap1 = DeltaTable.snapshot(spark, dir)
    assert(snap1.files.size == snap0.files.size - 1)
    assert(!snap1.files.map(_.path).contains(victim))
    // committing the same version again must fail (atomic create-exclusive)
    assert(!DeltaLog.tryCommit(spark, dir, 1, "{}"))
  }

  test("unsupported writer features refuse every commit path; reads still work") {
    import spark.implicits._
    import graft.sources.delta.{DeltaDml, DeltaMaintenance, DeltaSchema}
    val dir = tmpDir()
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.format("delta").save(dir)
    // a foreign writer upgrades the table to demand icebergCompatV2 — a
    // capability this engine does not implement ((1,7) is legal per spec).
    // (rowTracking was this test's example until the engine grew it.)
    assert(DeltaLog.tryCommit(spark, dir, 1L,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","icebergCompatV2"]}}"""))
    // reading demands nothing new
    assert(DeltaTable.read(spark, dir).count() === 2)
    def refused(op: => Any): Unit =
      assert(intercept[UnsupportedOperationException](op)
        .getMessage.contains("icebergCompatV2"))
    refused(DeltaWriter.write(Seq((3L, 30.0)).toDF("id", "v"), dir, SaveMode.Append, Nil))
    refused(DeltaDml.delete(spark, dir, "id = 1"))
    refused(DeltaMaintenance.optimize(spark, dir))
    refused(DeltaSchema.setTblProperties(spark, dir, Map("foo" -> "bar")))
  }

  test("legacy delta.invariants expressions refuse writes rather than going unenforced") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val df = Seq((1L, 5.0)).toDF("id", "v").coalesce(1)
    df.write.mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val st = fs.getFileStatus(dataFile)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", DoubleType, nullable = true, new MetadataBuilder()
        .putString("delta.invariants", """{"expression":{"expression":"v > 0"}}""").build())))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(DeltaLog.tryCommit(spark, dir, 0L,
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{}}}
         |{"add":{"path":"${dataFile.getName}","partitionValues":{},"size":${st.getLen},"modificationTime":${st.getModificationTime},"dataChange":true}}"""
        .stripMargin))
    assert(DeltaTable.read(spark, dir).count() === 1) // reads unaffected
    val e = intercept[UnsupportedOperationException] {
      DeltaWriter.write(Seq((2L, -1.0)).toDF("id", "v"), dir, SaveMode.Append, Nil)
    }
    assert(e.getMessage.contains("delta.invariants"))
  }
}
