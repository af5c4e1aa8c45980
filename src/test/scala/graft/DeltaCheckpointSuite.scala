package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaSchema, DeltaTable, DeltaWriter, SnapshotCache}

/** Checkpoint protocol coverage beyond the classic single-file form the
  * writer emits:
  *
  *  - v2 checkpoints (`<v>.checkpoint.<uuid>.parquet` with a
  *    `checkpointMetadata` action), sidecar-less and with sidecar
  *    file-action files under `_delta_log/_sidecars/` — hand-built here,
  *    since the repo's own writer emits classic checkpoints;
  *  - the corrupt-version loud failure;
  *  - the checkpoint-cadence audit: after 25+ commits through MIXED paths
  *    (append, DML, OPTIMIZE, DDL, DV delete, rename) a fresh replay must
  *    read ≤ (1 checkpoint + tail JSONs), counted at the filesystem seam.
  */
class DeltaCheckpointSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val addType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType)))

  /** Hand-write a v2 checkpoint for the CURRENT snapshot of `dir`.
    * `sidecars` > 0 splits the add actions across that many sidecar files
    * (referenced by name); 0 inlines them in the checkpoint. Returns the
    * checkpoint version. `declareVersion` overrides checkpointMetadata's
    * self-description (corruption seam). */
  private def writeV2Checkpoint(
      dir: String, sidecars: Int, declareVersion: Option[Long] = None): Long = {
    val snap = DeltaLog.snapshot(spark, dir)
    val v = snap.version
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("add", addType),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType))))))
    def addRow(f: graft.sources.delta.DeltaAddFile): Row =
      Row(f.path, f.partitionValues, f.size, f.modificationTime, true, f.stats.orNull)
    val base = Seq(
      Row(Row(snap.protocol.minReaderVersion, snap.protocol.minWriterVersion),
        null, null, null, null),
      Row(null, Row(snap.metadata.id, Row("parquet", Map.empty[String, String]),
        snap.metadata.schemaString, snap.metadata.partitionColumns,
        snap.metadata.configuration), null, null, null),
      Row(null, null, null, Row(declareVersion.getOrElse(v)), null))

    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    def writeOneParquet(rows: Seq[Row], s: StructType, target: org.apache.hadoop.fs.Path): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(dir, s"_cpt-${java.util.UUID.randomUUID()}")
      val list = new java.util.ArrayList[Row](rows.size)
      rows.foreach(list.add)
      spark.createDataFrame(list, s).repartition(1).write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.mkdirs(target.getParent)
      require(fs.rename(part, target), s"rename to $target failed")
      fs.delete(tmp, true)
    }

    val rows: Seq[Row] =
      if (sidecars == 0) base ++ snap.files.map(f => Row(null, null, addRow(f), null, null))
      else {
        val groups = snap.files.zipWithIndex.groupBy(_._2 % sidecars).toSeq.sortBy(_._1)
        val names = groups.map { case (i, fsGroup) =>
          val name = f"sc-$i%02d-${java.util.UUID.randomUUID()}.parquet"
          val scSchema = StructType(Seq(StructField("add", addType)))
          writeOneParquet(fsGroup.map { case (f, _) => Row(addRow(f)) }, scSchema,
            new org.apache.hadoop.fs.Path(logDir, s"_sidecars/$name"))
          name
        }
        base ++ names.map(n => Row(null, null, null, null, Row(n)))
      }
    writeOneParquet(rows, schema,
      new org.apache.hadoop.fs.Path(logDir,
        f"$v%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"))
    v
  }

  private def deleteJsonsThrough(dir: String, v: Long): Unit = {
    (0L to v).foreach { i =>
      new java.io.File(s"$dir/_delta_log/" + f"$i%020d.json").delete()
    }
  }

  private def seed(appends: Int): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-cp")
    (0 until appends).foreach { a =>
      DeltaWriter.write(
        (0 until 10).map(i => (a * 10 + i, s"r${a * 10 + i}")).toDF("id", "name"),
        dir, SaveMode.Append, Nil)
    }
    dir
  }

  test("sidecar-less v2 checkpoint replays without the pre-checkpoint JSONs") {
    val dir = seed(3) // versions 0..2, 30 rows
    val v = writeV2Checkpoint(dir, sidecars = 0)
    assert(v === 2)
    deleteJsonsThrough(dir, v)
    // replay state off the v2 checkpoint alone
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version === 2 && snap.files.nonEmpty)
    assert(DeltaTable.read(spark, dir).count() === 30)
    // JSON deltas after the checkpoint still apply
    import spark.implicits._
    DeltaWriter.write(Seq((999, "tail")).toDF("id", "name"), dir, SaveMode.Append, Nil)
    assert(DeltaTable.read(spark, dir).count() === 31)
    assert(DeltaLog.snapshot(spark, dir).version === 3)
  }

  test("v2 checkpoint with sidecar file actions replays the full live set") {
    val dir = seed(4) // versions 0..3, 40 rows
    val v = writeV2Checkpoint(dir, sidecars = 2)
    deleteJsonsThrough(dir, v)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version === 3)
    assert(DeltaTable.read(spark, dir).count() === 40)
    // values intact, not just counts
    assert(DeltaTable.read(spark, dir).filter("id = 35").count() === 1)
  }

  test("a v2 checkpoint whose declared version disagrees with its name fails loudly") {
    val dir = seed(2)
    writeV2Checkpoint(dir, sidecars = 0, declareVersion = Some(7L))
    val e = intercept[IllegalStateException] { DeltaLog.snapshot(spark, dir) }
    assert(e.getMessage.contains("declares version 7"))
  }

  test("delta.checkpointPolicy=v2 makes the WRITER emit v2 checkpoints on the cadence") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-cp-v2w")
    DeltaWriter.write((0 until 10).map(i => (i, s"r$i")).toDF("id", "name"),
      dir, SaveMode.Append, Nil) // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.checkpointPolicy' = 'v2')") // v1
    (2 to 10).foreach { a =>
      DeltaWriter.write(Seq((a * 100, s"r$a")).toDF("id", "name"), dir, SaveMode.Append, Nil)
    } // v2..v10 → cadence checkpoint at v10
    val cpFiles = new java.io.File(s"$dir/_delta_log").listFiles()
      .map(_.getName)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
    assert(cpFiles.length === 1)
    assert(cpFiles.head.matches("""0{16}0010\.checkpoint\.[0-9a-f-]+\.parquet"""),
      s"expected UUID-named v2 checkpoint, got ${cpFiles.head}")
    // the policy enable must have put v2Checkpoint on the protocol BEFORE
    // the first v2 checkpoint was written
    val p = DeltaLog.snapshot(spark, dir).protocol
    assert(p.readerFeatures.contains("v2Checkpoint"),
      s"v2Checkpoint feature missing: ${p.readerFeatures}")
    // replay from the writer-produced v2 checkpoint alone
    deleteJsonsThrough(dir, 10)
    assert(DeltaLog.snapshot(spark, dir).version === 10)
    assert(DeltaTable.read(spark, dir).count() === 19)
    // timestamp travel on the cleaned log: the checkpoint's mtime stands
    // in for the retired commits — a post-cleanup cutoff still resolves
    val snapTs = DeltaLog.snapshot(spark, dir, timestampAsOf = Some("2099-01-01 00:00:00"))
    assert(snapTs.version === 10)
  }

  test("a foreign table listing the v2Checkpoint/timestampNtz reader features is accepted") {
    import spark.implicits._
    val dir = seed(1)
    val snap = DeltaLog.snapshot(spark, dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pLine = mapper.createObjectNode()
    val p = pLine.putObject("protocol")
    p.put("minReaderVersion", 3); p.put("minWriterVersion", 7)
    val rf = p.putArray("readerFeatures")
    Seq("v2Checkpoint", "timestampNtz").foreach(rf.add)
    val wf = p.putArray("writerFeatures")
    Seq("v2Checkpoint", "timestampNtz", "appendOnly").foreach(wf.add)
    assert(DeltaLog.tryCommit(spark, dir, snap.version + 1, mapper.writeValueAsString(pLine)))
    assert(DeltaTable.read(spark, dir).count() === 10) // gate accepts
    // an unknown feature still refuses
    val p2Line = mapper.createObjectNode()
    val p2 = p2Line.putObject("protocol")
    p2.put("minReaderVersion", 3); p2.put("minWriterVersion", 7)
    p2.putArray("readerFeatures").add("futureMagicFeature")
    assert(DeltaLog.tryCommit(spark, dir, snap.version + 2, mapper.writeValueAsString(p2Line)))
    val e = intercept[UnsupportedOperationException] { DeltaTable.read(spark, dir).collect() }
    assert(e.getMessage.contains("futureMagicFeature"))
  }

  test("cadence audit: 25+ mixed-path commits replay with ≤ 1 checkpoint + tail JSONs") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-cadence")
    def append(a: Int): Unit = DeltaWriter.write(
      (0 until 10).map(i => (a * 100 + i, s"r$i", i * 1.0)).toDF("id", "name", "score"),
      dir, SaveMode.Append, Nil)
    // mixed commit paths: appends, copy-on-write DML, OPTIMIZE, constraint
    // DDL, property DDL, a DV delete, a column rename
    (0 until 5).foreach(append)                                        // v0..v4
    DeltaDml.delete(spark, dir, "id % 100 = 9")                        // v5
    DeltaDml.update(spark, dir, "id % 100 = 1", Map("score" -> "score + 1")) // v6
    DeltaMaintenance.optimize(spark, dir)                              // v7
    spark.sql(s"ALTER TABLE delta.`$dir` ADD CONSTRAINT pos CHECK (score >= 0)") // v8
    spark.sql(s"ALTER TABLE delta.`$dir` DROP CONSTRAINT pos")         // v9
    append(5)                                                          // v10 → checkpoint
    DeltaDml.deleteWithDv(spark, dir, "id % 100 = 8")                  // v11
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('team' = 'graft')") // v12
    DeltaSchema.renameColumn(spark, dir, "name", "label")              // v13
    (6 until 18).foreach { a =>                                        // v14..v25
      DeltaWriter.write(
        (0 until 10).map(i => (a * 100 + i, s"r$i", i * 1.0)).toDF("id", "label", "score"),
        dir, SaveMode.Append, Nil)
    }
    val latest = DeltaLog.snapshot(spark, dir).version
    assert(latest >= 25, s"expected ≥ 25 commits, got $latest")
    // the cadence must have produced checkpoints at 10 and 20
    assert(new java.io.File(s"$dir/_delta_log/" + f"${10L}%020d.checkpoint.parquet").exists())
    assert(new java.io.File(s"$dir/_delta_log/" + f"${20L}%020d.checkpoint.parquet").exists())

    // measured replay: exactly 1 checkpoint file + the tail JSONs —
    // from scratch, so drop the incremental memo the writes above warmed
    SnapshotCache.clear()
    DeltaLog.replayReads.set(0)
    val snap = DeltaLog.snapshot(spark, dir)
    val reads = DeltaLog.replayReads.get()
    val expected = 1 + (latest - 20)
    assert(reads <= expected, s"replay read $reads log files; bound is $expected")
    // and the replayed state is right (spot check through the scan)
    assert(snap.version === latest)
    val df = DeltaTable.read(spark, dir)
    // deletes held for the rows that existed then (later appends re-add ids)
    assert(df.filter("id % 100 = 9 AND id < 500").count() === 0)  // v5 delete
    assert(df.filter("id % 100 = 8 AND id < 600").count() === 0)  // v11 DV delete
    assert(df.columns.contains("label"))              // v13 rename held
  }

  test("v2 policy + partSize writes SIDECAR checkpoints that replay whole") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ckpt-sidecar-w")
    DeltaWriter.write(Seq((0, "x")).toDF("id", "s").coalesce(1), dir,
      org.apache.spark.sql.SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpointPolicy' = 'v2', 'delta.checkpoint.partSize' = '3')") // v1
    (2 to 10).foreach { i =>
      DeltaWriter.write(Seq((i, "x")).toDF("id", "s").coalesce(1), dir,
        org.apache.spark.sql.SaveMode.Append, Nil)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the v10 checkpoint is ONE uuid manifest + ceil(10/3)=4 sidecars
    val logNames = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_delta_log"))
      .map(_.getPath.getName)
    val manifests = logNames.filter(_.matches("""0*10\.checkpoint\.[^.]+\.parquet"""))
    assert(manifests.length === 1, s"one uuid manifest expected: ${logNames.mkString(",")}")
    val sidecars = fs.listStatus(
      new org.apache.hadoop.fs.Path(dir, "_delta_log/_sidecars"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(sidecars.length === 4, s"expected 4 sidecars, got ${sidecars.toSeq}")
    // the manifest itself embeds NO add actions
    val manifest = spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, s"_delta_log/${manifests.head}").toString)
    assert(manifest.filter("add IS NOT NULL").count() === 0)
    assert(manifest.filter("sidecar IS NOT NULL").count() === 4)
    // replay through manifest + sidecars is complete, even with the
    // pre-checkpoint JSONs retired
    (0 to 9).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, f"_delta_log/$v%020d.json"), false)
    }
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.size === 10)
    assert(DeltaTable.read(spark, dir).count() === 10)
  }

  test("foreign checkpoints with stats_parsed (no JSON stats) keep file skipping") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = TestSpark.tempDir("graft-ckpt-statsparsed")
    DeltaWriter.write((1 to 10).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      dir, org.apache.spark.sql.SaveMode.Append, Nil)
    DeltaWriter.write((100 to 110).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1),
      dir, org.apache.spark.sql.SaveMode.Append, Nil)
    DeltaWriter.writeCheckpoint(spark, dir, 1L)
    val cpPath = new org.apache.hadoop.fs.Path(dir, "_delta_log/00000000000000000001.checkpoint.parquet")
    val fs = cpPath.getFileSystem(spark.sessionState.newHadoopConf())
    // rewrite the checkpoint the way a stats-as-struct engine lays it out:
    // typed add.stats_parsed, NO add.stats JSON
    val statsSchema = StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", StructType(Seq(
        StructField("id", IntegerType), StructField("s", StringType)))),
      StructField("maxValues", StructType(Seq(
        StructField("id", IntegerType), StructField("s", StringType)))),
      StructField("nullCount", StructType(Seq(
        StructField("id", LongType), StructField("s", LongType))))))
    val cp = spark.read.parquet(cpPath.toString)
    val foreignAdd = struct(
      col("add.path").as("path"),
      col("add.partitionValues").as("partitionValues"),
      col("add.size").as("size"),
      col("add.modificationTime").as("modificationTime"),
      col("add.dataChange").as("dataChange"),
      from_json(col("add.stats"), statsSchema).as("stats_parsed"))
    val rewritten = cp.withColumn("add",
      when(col("add").isNotNull, foreignAdd))
    val tmp = new org.apache.hadoop.fs.Path(dir, "_cp-foreign")
    rewritten.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.delete(cpPath, false) && fs.rename(part, cpPath))
    fs.delete(tmp, true)
    // also retire the pre-checkpoint JSONs so the stats can ONLY come from
    // the struct (replay would otherwise still start at the checkpoint,
    // but this makes the provenance unambiguous)
    (0 to 1).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, f"_delta_log/$v%020d.json"), false)
    }
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.size === 2)
    assert(snap.files.forall(_.stats.nonEmpty), "stats_parsed must re-serialize")
    // stats-based skipping still prunes: only the 100..110 file is read
    val q = DeltaTable.read(spark, dir).filter(col("id") >= 100)
    val scanned = q.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum
    assert(scanned === 1, "file skipping must work off the re-serialized stats")
    assert(q.count() === 11)
  }

  test("an INCOMPLETE multipart checkpoint is treated as absent, never replayed truncated") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ckpt-partial")
    DeltaWriter.write(Seq((0, "x")).toDF("id", "s").coalesce(1), dir,
      org.apache.spark.sql.SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpoint.partSize' = '3')")
    (2 to 10).foreach { i =>
      DeltaWriter.write(Seq((i, "x")).toDF("id", "s").coalesce(1), dir,
        org.apache.spark.sql.SaveMode.Append, Nil)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val parts = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.matches("""0*10\.checkpoint\.\d{10}\.\d{10}\.parquet"""))
    assert(parts.length >= 2, "test needs a real multipart checkpoint")
    // simulate a writer that crashed mid-publish: one part vanishes.
    // Replaying the remaining parts would SILENTLY drop every live file in
    // the missing one — the completeness gate must instead skip the whole
    // set and fall back to pure JSON replay (all commits still present)
    fs.delete(parts.head, false)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.size === 10,
      "partial multipart checkpoint must not truncate the snapshot")
    assert(DeltaTable.read(spark, dir).count() === 10)
  }

  test("delta.checkpoint.partSize writes multipart checkpoints that replay whole") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ckpt-parts")
    DeltaWriter.write(Seq((0, "x")).toDF("id", "s").coalesce(1), dir,
      org.apache.spark.sql.SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpoint.partSize' = '3')") // v1
    (2 to 10).foreach { i =>
      DeltaWriter.write(Seq((i, "x")).toDF("id", "s").coalesce(1), dir,
        org.apache.spark.sql.SaveMode.Append, Nil)
    }
    // the v10 checkpoint must be multipart: ≥ 12 actions / 3 per part
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_delta_log"))
      .map(_.getPath.getName)
    val parts = names.filter(_.matches("""0*10\.checkpoint\.\d{10}\.\d{10}\.parquet"""))
    assert(parts.length >= 4, s"expected multipart checkpoint, log: ${names.mkString(",")}")
    // every part declares the same total, and all are present
    val declared = parts.map(_.split('.')(3).toInt).distinct
    assert(declared === Array(parts.length))
    // replay through the multipart checkpoint is complete
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.size === 10)
    assert(DeltaTable.read(spark, dir).count() === 10)
    // _last_checkpoint records the part count
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, "_delta_log/_last_checkpoint"))
    val lastJson = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(lastJson.contains("\"parts\""))
  }

  test("delta.checkpointInterval shortens the checkpoint cadence") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ckpt-interval")
    DeltaWriter.write(Seq((0, "x")).toDF("id", "s").coalesce(1), dir,
      org.apache.spark.sql.SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpointInterval' = '3')") // v1
    (2 to 3).foreach { i =>
      DeltaWriter.write(Seq((i, "x")).toDF("id", "s").coalesce(1), dir,
        org.apache.spark.sql.SaveMode.Append, Nil)
    }
    // v3 % 3 == 0: a checkpoint exists well before the default interval 10
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_delta_log"))
      .map(_.getPath.getName)
    assert(names.exists(_.contains("00000000000000000003.checkpoint")),
      s"expected a v3 checkpoint, log: ${names.mkString(",")}")
    assert(DeltaTable.read(spark, dir).count() === 3)
  }

  test("writeStatsAsStruct emits typed stats_parsed a writeStatsAsJson=false reader can skip on") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tempDir("graft-ckpt-structstats")
    DeltaWriter.write((1 to 10).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      dir, org.apache.spark.sql.SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpoint.writeStatsAsStruct' = 'true', " +
      "'delta.checkpoint.writeStatsAsJson' = 'false')") // v1
    DeltaWriter.write((100 to 110).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1),
      dir, org.apache.spark.sql.SaveMode.Append, Nil)
    DeltaWriter.writeCheckpoint(spark, dir, 2L)

    // the checkpoint itself: typed stats_parsed present, JSON stats GONE
    val cpPath = new org.apache.hadoop.fs.Path(
      dir, "_delta_log/00000000000000000002.checkpoint.parquet")
    val cp = spark.read.parquet(cpPath.toString)
    val addType = cp.schema("add").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(!addType.fieldNames.contains("stats"), "writeStatsAsJson=false must drop JSON stats")
    assert(addType.fieldNames.contains("stats_parsed"))
    val parsed = cp.filter(col("add").isNotNull)
      .select(
        col("add.stats_parsed.numRecords").as("n"),
        col("add.stats_parsed.minValues.id").as("mn"),
        col("add.stats_parsed.maxValues.id").as("mx"),
        col("add.stats_parsed.nullCount.id").as("nulls"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sortBy(_._2)
    assert(parsed === Array((10L, 1, 10, 0L), (11L, 100, 110, 0L)))

    // retire the JSONs: stats can only come from the struct — and OUR OWN
    // reader (the foreign-stats path) must keep skipping over them
    val fs = cpPath.getFileSystem(spark.sessionState.newHadoopConf())
    (0 to 2).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, f"_delta_log/$v%020d.json"), false)
    }
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.size === 2)
    assert(snap.files.forall(_.stats.nonEmpty), "stats_parsed must re-serialize")
    val q = DeltaTable.read(spark, dir).filter(col("id") >= 100)
    val scanned = q.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum
    assert(scanned === 1, "skipping must work off the struct stats round-trip")
    assert(q.count() === 11)
  }

  test("writeStatsAsStruct on a column-mapped table keys stats_parsed by PHYSICAL names") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tempDir("graft-ckpt-mapstats")
    DeltaWriter.write((1 to 10).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      dir, org.apache.spark.sql.SaveMode.Append, Nil)
    graft.sources.delta.DeltaSchema.renameColumn(spark, dir, "s", "txt") // physical stays "s"
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpoint.writeStatsAsStruct' = 'true')")
    val v = DeltaLog.snapshot(spark, dir).version
    DeltaWriter.writeCheckpoint(spark, dir, v)
    val cp = spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, f"_delta_log/$v%020d.checkpoint.parquet").toString)
    val mins = cp.schema("add").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .apply("stats_parsed").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .apply("minValues").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(mins.fieldNames.toSeq === Seq("id", "s"),
      s"stats_parsed must be keyed by PHYSICAL names, got ${mins.fieldNames.toSeq}")
    // and the values actually parse (a logical-keyed schema would NULL out)
    val rows = cp.filter(col("add").isNotNull)
      .select(col("add.stats_parsed.minValues.s"), col("add.stats_parsed.numRecords"))
      .collect()
    assert(rows.nonEmpty && rows.forall(r => !r.isNullAt(0) && r.getLong(1) > 0L),
      "physical-keyed stats_parsed must carry real values on a mapped table")
  }

  test("writeStatsAsJson=false without writeStatsAsStruct is refused") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ckpt-nostats")
    DeltaWriter.write(Seq((1, "a")).toDF("id", "s").coalesce(1),
      dir, org.apache.spark.sql.SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpoint.writeStatsAsJson' = 'false')")
    val e = intercept[IllegalArgumentException] {
      DeltaWriter.writeCheckpoint(spark, dir, 1L)
    }
    assert(e.getMessage.contains("writeStatsAsStruct"))
  }

  test("multipart and sidecar checkpoints write their add plane from the DEFERRED frame") {
    import spark.implicits._
    // the checkpoint writer's distributed add plane (r18): under the
    // deferred pin the adds come from the winners frame, staged as
    // multiple parquet files per layout — both layouts must replay WHOLE
    // with the pre-checkpoint JSONs retired, exactly like the eager plane
    Seq(
      ("('delta.checkpoint.partSize' = '3')",
        """0*2\.checkpoint\.\d{10}\.\d{10}\.parquet"""),
      ("('delta.checkpointPolicy' = 'v2', 'delta.checkpoint.partSize' = '3')",
        """0*2\.checkpoint\.[^.]+\.parquet""")
    ).foreach { case (props, cpPattern) =>
      val dir = TestSpark.tempDir("graft-cp-deferred")
      DeltaWriter.write((0 until 10).map(i => (i, s"r$i")).toDF("id", "name"),
        dir, SaveMode.Append, Nil)
      spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES $props")
      DeltaWriter.write((10 until 20).map(i => (i, s"r$i")).toDF("id", "name")
        .repartition(9), dir, SaveMode.Append, Nil)
      withPlane("frame") {
        val before = DeltaLog.deferredScans.get()
        DeltaWriter.writeCheckpoint(spark, dir, 2)
        assert(DeltaLog.deferredScans.get() > before,
          s"[$props] checkpoint writer did not take the deferred plane")
        deleteJsonsThrough(dir, 2)
        val snap = DeltaLog.snapshot(spark, dir)
        assert(snap.files.size >= 10, s"[$props] replay lost adds: ${snap.files.size}")
        assert(DeltaTable.read(spark, dir).select("id").as[Int].collect().sorted.toSeq
          === (0 until 20), s"[$props]")
      }
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_delta_log"))
        .map(_.getPath.getName)
      assert(names.exists(_.matches(cpPattern)),
        s"[$props] expected checkpoint matching $cpPattern, log: ${names.mkString(",")}")
    }
  }
}
