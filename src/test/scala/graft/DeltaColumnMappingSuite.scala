package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta._

/** Column mapping (reader v2, `name` mode) end to end: the RENAME COLUMN
  * producer, the protocol upgrade, mapped reads (logical names out,
  * physical names on disk), filter pushdown + stats skipping under the
  * mapping, appends/DML/OPTIMIZE after the rename, and the loud-failure
  * edges (partition columns, `id` mode, nested mappings).
  *
  * The reference reads column-mapped tables via delta-rs 0.29.4
  * (`/root/reference/Cargo.toml:16`); this engine implements both the
  * producer and the scan side from the published protocol.
  */
class DeltaColumnMappingSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fresh(partitioned: Boolean = false): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-colmap")
    val df = (0 until 20).map(i => (i, s"n$i", i * 1.5, i % 4)).toDF("id", "name", "score", "bucket")
    DeltaWriter.write(df, dir, SaveMode.Append, if (partitioned) Seq("bucket") else Nil)
    dir
  }

  test("mapping upgrade on a writer-features protocol keeps the feature list") {
    // a foreign (1, 7) protocol: legacy reader, explicit writerFeatures —
    // the Databricks-written shape. The mapping upgrade must NOT collapse
    // it to bare (2, 7) (writer v7 REQUIRES a feature list per spec) and
    // must list columnMapping among the writer features.
    val dir = fresh()
    val v = DeltaLog.snapshot(spark, dir).version + 1
    assert(DeltaLog.tryCommit(spark, dir, v,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants"]}}"""))
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    val p = DeltaLog.snapshot(spark, dir).protocol
    assert(p.minReaderVersion === 2, s"reader must rise to legacy v2: $p")
    assert(p.minWriterVersion === 7)
    assert(p.writerFeatures.contains("columnMapping"), s"columnMapping not listed: $p")
    assert(p.writerFeatures.contains("appendOnly") && p.writerFeatures.contains("invariants"),
      s"declared writer features dropped: $p")
    // and the mapped read works
    assert(DeltaTable.read(spark, dir).select("points").count() === 20)
  }

  test("RENAME COLUMN is metadata-only, upgrades protocol, and reads back logically") {
    val dir = fresh()
    val filesBefore = DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.map(_.path).toSet === filesBefore, "rename must not touch data files")
    assert(snap.protocol.minReaderVersion === 2 && snap.protocol.minWriterVersion === 5)
    assert(snap.metadata.columnMappingMode === "name")
    assert(snap.metadata.physicalOf("points") === "score")
    assert(snap.metadata.physicalOf("id") === "id")
    // logical schema shows the new name; values come from the old physical column
    val rows = DeltaTable.read(spark, dir).select("id", "points").orderBy("id").collect()
    assert(rows.map(_.getDouble(1)).take(3).toSeq === Seq(0.0, 1.5, 3.0))
    // the old logical name is gone
    intercept[Exception] { DeltaTable.read(spark, dir).select("score").collect() }
  }

  test("appends after a rename write PHYSICAL parquet columns and physical stats keys") {
    import spark.implicits._
    val dir = fresh()
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    DeltaWriter.write(
      Seq((100, "n100", 42.5, 0)).toDF("id", "name", "points", "bucket"),
      dir, SaveMode.Append, Nil)
    val snap = DeltaLog.snapshot(spark, dir)
    val newFile = snap.files.maxBy(_.modificationTime)
    // parquet footer of the new file: physical name "score", not "points"
    val footerCols = spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, newFile.path).toString)
      .schema.fieldNames.toSet
    assert(footerCols.contains("score") && !footerCols.contains("points"))
    // stats of the new add are keyed physically too
    assert(newFile.stats.get.contains("\"score\""))
    assert(!newFile.stats.get.contains("\"points\""))
    // and the full read still comes back logical
    val got = DeltaTable.read(spark, dir).filter(col("id") === 100).collect().head
    assert(got.getAs[Double]("points") === 42.5)
  }

  test("filter pushdown + stats skipping keep working on the renamed column") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-colmap-skip")
    // two appends → two files with disjoint score ranges
    DeltaWriter.write((0 until 10).map(i => (i, i * 1.0)).toDF("id", "score"),
      dir, SaveMode.Append, Nil)
    DeltaWriter.write((100 until 110).map(i => (i, i * 1.0)).toDF("id", "score"),
      dir, SaveMode.Append, Nil)
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    val df = DeltaTable.read(spark, dir).filter(col("points") > 50.0)
    assert(df.count() === 10)
    // stats skipping: only the high-range file(s) survive listFiles
    val snap = DeltaLog.snapshot(spark, dir)
    val index = new DeltaFileIndex(spark, snap)
    val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "points", org.apache.spark.sql.types.DoubleType)()
    val pruned = index.listFiles(Nil, Seq(
      org.apache.spark.sql.catalyst.expressions.GreaterThan(attr,
        org.apache.spark.sql.catalyst.expressions.Literal(50.0))))
    val filesSeen = pruned.map(_.files.size).sum
    assert(filesSeen < snap.files.size, s"expected stats skipping, saw $filesSeen files")
  }

  test("DML, MERGE and OPTIMIZE rewrite physical files correctly after a rename") {
    import spark.implicits._
    val dir = fresh()
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    // copy-on-write UPDATE through the logical name
    DeltaDml.update(spark, dir, "id = 3", Map("points" -> "points + 100.0"))
    assert(DeltaTable.read(spark, dir).filter("id = 3").collect().head
      .getAs[Double]("points") === 104.5)
    // DELETE
    DeltaDml.delete(spark, dir, "points > 25.0")
    // ids 17,18,19 (25.5, 27, 28.5) and 3 (104.5) gone
    assert(DeltaTable.read(spark, dir).count() === 16)
    // MERGE upsert via SQL (logical names in every clause)
    Seq((0, "zero", 1000.0, 0), (999, "new", 9.0, 3))
      .toDF("id", "name", "points", "bucket").createOrReplaceTempView("cm_src")
    spark.sql(
      s"""MERGE INTO delta.`$dir` t USING cm_src s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET points = s.points
         WHEN NOT MATCHED THEN INSERT *""")
    val after = DeltaTable.read(spark, dir)
    assert(after.filter("id = 0").collect().head.getAs[Double]("points") === 1000.0)
    assert(after.filter("id = 999").count() === 1)
    // OPTIMIZE compaction keeps values and the mapping
    DeltaMaintenance.optimize(spark, dir, targetFileBytes = 1L << 30)
    val optimized = DeltaTable.read(spark, dir)
    assert(optimized.count() === after.count())
    assert(optimized.filter("id = 0").collect().head.getAs[Double]("points") === 1000.0)
  }

  test("rename on a partitioned table works for data columns; partition columns refuse") {
    val dir = fresh(partitioned = true)
    intercept[IllegalArgumentException] {
      DeltaSchema.renameColumn(spark, dir, "bucket", "b2")
    }
    DeltaSchema.renameColumn(spark, dir, "name", "label")
    val got = DeltaTable.read(spark, dir).filter("bucket = 2").select("id", "label")
      .orderBy("id").collect()
    assert(got.length === 5 && got.head.getString(1) === "n2")
  }

  test("SQL ALTER TABLE RENAME COLUMN routes; DESCRIBE DETAIL shows the mode") {
    val dir = fresh()
    spark.sql(s"ALTER TABLE delta.`$dir` RENAME COLUMN name TO label")
    assert(DeltaLog.snapshot(spark, dir).metadata.physicalOf("label") === "name")
    val det = spark.sql(s"DESCRIBE DETAIL delta.`$dir`").collect().head
    assert(det.getAs[String]("properties").contains("delta.columnMapping.mode=name"))
    // a DV delete on the mapped table surfaces its features in DETAIL
    DeltaDml.deleteWithDv(spark, dir, "id = 0")
    val feats = spark.sql(s"DESCRIBE DETAIL delta.`$dir`")
      .collect().head.getAs[String]("tableFeatures")
    assert(feats.contains("deletionVectors") && feats.contains("columnMapping"))
  }

  test("renames refuse when CHECK constraints or generated columns reference the column") {
    val dir = fresh()
    spark.sql(s"ALTER TABLE delta.`$dir` ADD CONSTRAINT pos CHECK (score >= 0)")
    val e = intercept[IllegalArgumentException] {
      DeltaSchema.renameColumn(spark, dir, "score", "points")
    }
    assert(e.getMessage.contains("CHECK constraint pos"))
    spark.sql(s"ALTER TABLE delta.`$dir` DROP CONSTRAINT pos")
    DeltaSchema.renameColumn(spark, dir, "score", "points") // now fine
  }

  test("second rename reuses the established mapping (physical name is sticky)") {
    val dir = fresh()
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    DeltaSchema.renameColumn(spark, dir, "points", "credits")
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.metadata.physicalOf("credits") === "score")
    val rows = DeltaTable.read(spark, dir).select("id", "credits").orderBy("id").collect()
    assert(rows(2).getDouble(1) === 3.0)
  }

  test("ADD COLUMNS on a mapped table stamps fresh mapping ids; mergeSchema refuses") {
    import spark.implicits._
    val dir = fresh()
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    spark.sql(s"ALTER TABLE delta.`$dir` ADD COLUMNS (tag STRING)")
    val snap = DeltaLog.snapshot(spark, dir)
    val tag = snap.schema("tag")
    assert(tag.metadata.contains(DeltaMetadata.PhysicalNameKey))
    assert(tag.metadata.contains(DeltaMetadata.ColumnIdKey))
    // ids are unique across the schema
    val ids = snap.schema.fields.map(_.metadata.getLong(DeltaMetadata.ColumnIdKey))
    assert(ids.distinct.length === ids.length)
    intercept[UnsupportedOperationException] {
      DeltaWriter.write(
        Seq((1, "x", 1.0, 0, "t", 9.9)).toDF("id", "name", "points", "bucket", "tag", "extra"),
        dir, SaveMode.Append, Nil, mergeSchema = true)
    }
  }

  test("DV delete on a mapped table lists columnMapping in the v3 feature upgrade") {
    val dir = fresh()
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    DeltaDml.deleteWithDv(spark, dir, "points < 3.0")
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.protocol.minReaderVersion === 3)
    assert(snap.protocol.readerFeatures === Set("deletionVectors", "columnMapping"))
    assert(DeltaTable.read(spark, dir).count() === 18)
    // and the mapped DV read still resolves values correctly
    assert(DeltaTable.read(spark, dir).filter("points < 10").count() === 5) // ids 2..6
  }

  test("DROP COLUMN is metadata-only and re-adding the name reads NULL, not old data") {
    import spark.implicits._
    val dir = fresh()
    val filesBefore = DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
    DeltaSchema.dropColumn(spark, dir, "score")
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.map(_.path).toSet === filesBefore, "drop must not touch data files")
    assert(snap.metadata.columnMappingMode === "name")
    assert(!snap.schema.fieldNames.contains("score"))
    intercept[Exception] { DeltaTable.read(spark, dir).select("score").collect() }
    // re-add the SAME logical name: fresh UUID physical name → NULL
    spark.sql(s"ALTER TABLE delta.`$dir` ADD COLUMNS (score DOUBLE)")
    val snap2 = DeltaLog.snapshot(spark, dir)
    assert(snap2.metadata.physicalOf("score").startsWith("col-"),
      "re-added column must NOT reuse the dropped physical name")
    val rows = DeltaTable.read(spark, dir).select("id", "score").collect()
    assert(rows.forall(_.isNullAt(1)), "old dropped data must not resurrect")
    // appends populate the fresh physical column; old rows stay NULL
    DeltaWriter.write(Seq((500, "n500", 0, 9.5)).toDF("id", "name", "bucket", "score"),
      dir, SaveMode.Append, Nil)
    val after = DeltaTable.read(spark, dir)
    assert(after.filter("score = 9.5").count() === 1)
    assert(after.filter("score IS NULL").count() === 20)
  }

  test("SQL DROP COLUMN routes; guards hold (partition col, only col, references)") {
    val dir = fresh(partitioned = true)
    spark.sql(s"ALTER TABLE delta.`$dir` DROP COLUMN name")
    assert(!DeltaLog.snapshot(spark, dir).schema.fieldNames.contains("name"))
    intercept[IllegalArgumentException] {
      DeltaSchema.dropColumn(spark, dir, "bucket") // partition column
    }
    spark.sql(s"ALTER TABLE delta.`$dir` ADD CONSTRAINT pos CHECK (score >= 0)")
    val e = intercept[IllegalArgumentException] {
      DeltaSchema.dropColumn(spark, dir, "score")
    }
    assert(e.getMessage.contains("CHECK constraint"))
  }

  test("time travel across a rename serves each version's own logical schema") {
    val dir = fresh() // v0: id, name, score, bucket
    DeltaSchema.renameColumn(spark, dir, "score", "points") // v1
    // pre-rename version: old logical name, same values
    val v0 = DeltaTable.readVersion(spark, dir, 0L)
    assert(v0.columns.contains("score") && !v0.columns.contains("points"))
    assert(v0.filter(col("id") === 2).collect().head.getAs[Double]("score") === 3.0)
    // post-rename: new logical name over the SAME files
    val v1 = DeltaTable.read(spark, dir)
    assert(v1.columns.contains("points") && !v1.columns.contains("score"))
    // SQL time travel sees the same split
    assert(spark.sql(s"SELECT score FROM delta.`$dir` VERSION AS OF 0 WHERE id = 2")
      .collect().head.getDouble(0) === 3.0)
  }

  test("id-mode mapping reads by parquet field id, not by any column name") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-idmode")
    def fidMd(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    // data file with "foreign" column names + field ids in the footer
    (0 until 10).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .select(col("a").as("weird_name_1", fidMd(1)), col("b").as("weird_name_2", fidMd(2)))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val st = fs.getFileStatus(dataFile)
    def f(name: String, dt: DataType, id: Long, phys: String) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putLong(DeltaMetadata.ColumnIdKey, id)
        .putString(DeltaMetadata.PhysicalNameKey, phys).build())
    val schema = StructType(Seq(f("id", LongType, 1, "col-a"), f("v", DoubleType, 2, "col-b")))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(DeltaLog.tryCommit(spark, dir, 0L,
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{"${DeltaMetadata.ModeKey}":"id","${DeltaMetadata.MaxColumnIdKey}":"2"}}}
         |{"add":{"path":"${dataFile.getName}","partitionValues":{},"size":${st.getLen},"modificationTime":${st.getModificationTime},"dataChange":true}}"""
        .stripMargin))
    // neither "weird_name_*" (file), "col-a/b" (physical) nor "id/v"
    // (logical) agree — only the field ids line up
    val got = DeltaTable.read(spark, dir)
    assert(got.columns.toSeq === Seq("id", "v"))
    assert(got.agg(org.apache.spark.sql.functions.sum("id"),
      org.apache.spark.sql.functions.sum("v")).collect().head match {
      case r => r.getLong(0) === 45L && r.getDouble(1) === 90.0
    })
    // the engine's own append stamps field ids → still readable by id
    DeltaWriter.write(Seq((100L, 1.0)).toDF("id", "v"), dir, SaveMode.Append, Nil)
    assert(DeltaTable.read(spark, dir).count() === 11)
    assert(DeltaTable.read(spark, dir).filter("id = 100").count() === 1)
    // id-mode columns missing their field id still fail loudly
    val bad = StructType(Seq(f("id", LongType, 1, "col-a"),
      StructField("v", DoubleType, nullable = true)))
    val v2 = DeltaLog.snapshot(spark, dir).version + 1
    assert(DeltaLog.tryCommit(spark, dir, v2,
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(bad.json)},"partitionColumns":[],"configuration":{"${DeltaMetadata.ModeKey}":"id"}}}"""))
    val e = intercept[UnsupportedOperationException] { DeltaTable.read(spark, dir).collect() }
    assert(e.getMessage.contains("delta.columnMapping.id"))
  }

  test("nested mapped names (name mode) read through the path-keyed rename; writes refuse") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-nestmap")
    // foreign-written file: physical names at EVERY level
    Seq((1L, (10, "a")), (2L, (20, "b")), (3L, (30, "c")))
      .toDF("kcol", "scol")
      .select(col("kcol").as("col-id"),
        col("scol").cast("struct<`col-x`:int,`col-y`:string>").as("col-s"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val st = fs.getFileStatus(dataFile)
    // log schema: logical names at every level, physicalName metadata on
    // nested fields too — what a delta-spark nested rename produces
    def md(id: Long, phys: String) = new MetadataBuilder()
      .putLong(DeltaMetadata.ColumnIdKey, id)
      .putString(DeltaMetadata.PhysicalNameKey, phys).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, md(1, "col-id")),
      StructField("s", StructType(Seq(
        StructField("x", IntegerType, nullable = true, md(3, "col-x")),
        StructField("y", StringType, nullable = true, md(4, "col-y")))),
        nullable = true, md(2, "col-s"))))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(DeltaLog.tryCommit(spark, dir, 0L,
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{"${DeltaMetadata.ModeKey}":"name","${DeltaMetadata.MaxColumnIdKey}":"4"}}}
         |{"add":{"path":"${dataFile.getName}","partitionValues":{},"size":${st.getLen},"modificationTime":${st.getModificationTime},"dataChange":true}}"""
        .stripMargin))
    val got = DeltaTable.read(spark, dir)
    assert(got.columns.toSeq === Seq("id", "s"))
    // full read, nested projection (schema pruning rebuilds the struct —
    // the rename must be path-keyed, not metadata-keyed), nested filter
    assert(got.select(col("id"), col("s.x"), col("s.y")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      === Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c")))
    assert(got.select(col("s.x")).orderBy("x").collect().map(_.getInt(0)).toSeq
      === Seq(10, 20, 30))
    assert(got.filter(col("s.x") >= 20).count() === 2)
    // writes refuse loudly — staged files' nested names would silently
    // disagree with the log
    val e = intercept[UnsupportedOperationException] {
      DeltaWriter.write(
        Seq((9L, (90, "z"))).toDF("id", "s"), dir, SaveMode.Append, Nil)
    }
    assert(e.getMessage.contains("NESTED"))
  }

  test("nested id-mode: struct fields resolve by parquet field id at every level") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-idnest")
    // foreign data file: names agree with NOTHING (neither logical nor the
    // log's physical names) — only the field ids, at every level, line up
    def fidMd(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    Seq((1L, (10, "a")), (2L, (20, "b")), (3L, (30, "c")))
      .toDF("kcol", "scol")
      .select(
        col("kcol").as("w1", fidMd(1)),
        org.apache.spark.sql.functions.struct(
          col("scol._1").as("w3", fidMd(3)),
          col("scol._2").as("w4", fidMd(4))).as("w2", fidMd(2)))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val st = fs.getFileStatus(dataFile)
    def md(id: Long, phys: String) = new MetadataBuilder()
      .putLong(DeltaMetadata.ColumnIdKey, id)
      .putString(DeltaMetadata.PhysicalNameKey, phys).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, md(1, "col-id")),
      StructField("s", StructType(Seq(
        StructField("x", IntegerType, nullable = true, md(3, "col-x")),
        StructField("y", StringType, nullable = true, md(4, "col-y")))),
        nullable = true, md(2, "col-s"))))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(DeltaLog.tryCommit(spark, dir, 0L,
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{"${DeltaMetadata.ModeKey}":"id","${DeltaMetadata.MaxColumnIdKey}":"4"}}}
         |{"add":{"path":"${dataFile.getName}","partitionValues":{},"size":${st.getLen},"modificationTime":${st.getModificationTime},"dataChange":true}}"""
        .stripMargin))
    val got = DeltaTable.read(spark, dir)
    assert(got.columns.toSeq === Seq("id", "s"))
    // full read, nested projection (schema pruning rebuilds the struct —
    // the id stamping must be path-keyed), nested filter
    assert(got.select(col("id"), col("s.x"), col("s.y")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      === Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c")))
    assert(got.select(col("s.x")).orderBy("x").collect().map(_.getInt(0)).toSeq
      === Seq(10, 20, 30))
    assert(got.filter(col("s.x") >= 20).count() === 2)

    // a nested field WITHOUT an id is unreadable in id mode: loud failure
    val bad = StructType(Seq(
      StructField("id", LongType, nullable = true, md(1, "col-id")),
      StructField("s", StructType(Seq(
        StructField("x", IntegerType, nullable = true, md(3, "col-x")),
        StructField("y", StringType, nullable = true))),
        nullable = true, md(2, "col-s"))))
    assert(DeltaLog.tryCommit(spark, dir, 1L,
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(bad.json)},"partitionColumns":[],"configuration":{"${DeltaMetadata.ModeKey}":"id","${DeltaMetadata.MaxColumnIdKey}":"4"}}}"""))
    val e = intercept[UnsupportedOperationException] {
      DeltaTable.read(spark, dir).collect()
    }
    assert(e.getMessage.contains("s.y"))
  }

  test("unknown mapping modes fail loudly at scan build") {
    val dir = fresh()
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    val snap = DeltaLog.snapshot(spark, dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val mdLine = mapper.createObjectNode()
    val m = mdLine.putObject("metaData")
    m.put("id", snap.metadata.id)
    val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", snap.metadata.schemaString)
    m.putArray("partitionColumns")
    val cfg = m.putObject("configuration")
    (snap.metadata.configuration + (DeltaMetadata.ModeKey -> "mystery")).foreach {
      case (k, v) => cfg.put(k, v)
    }
    assert(DeltaLog.tryCommit(spark, dir, snap.version + 1, mapper.writeValueAsString(mdLine)))
    val e = intercept[UnsupportedOperationException] {
      DeltaTable.read(spark, dir).collect()
    }
    assert(e.getMessage.contains("mystery"))
  }
}
