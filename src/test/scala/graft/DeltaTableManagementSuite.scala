package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta._

/** CHECK constraints, optimized writes, DESCRIBE DETAIL, and checkpoint
  * cadence on maintenance/DML commit paths. */
class DeltaTableManagementSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def freshTable(): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-mgmt")
    DeltaWriter.write(
      Seq((1, "a", 100), (2, "b", 200)).toDF("id", "k", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    dir
  }

  test("check constraint: add validates existing rows; writes then enforce it") {
    import spark.implicits._
    val dir = freshTable()
    // existing data violates -> rejected
    intercept[DeltaConstraintViolationException] {
      DeltaConstraints.addCheckConstraint(spark, dir, "v_small", "v < 150")
    }
    // valid constraint lands in metaData.configuration
    DeltaConstraints.addCheckConstraint(spark, dir, "v_pos", "v > 0")
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.metadata.configuration("delta.constraints.v_pos") === "v > 0")

    // append violating it -> rejected; valid append passes
    intercept[DeltaConstraintViolationException] {
      DeltaWriter.write(Seq((3, "c", -5)).toDF("id", "k", "v"), dir, SaveMode.Append, Nil)
    }
    DeltaWriter.write(Seq((3, "c", 5)).toDF("id", "k", "v"), dir, SaveMode.Append, Nil)
    assert(DeltaTable.read(spark, dir).count() === 3)

    // UPDATE producing a violating row -> rejected, table unchanged
    intercept[DeltaConstraintViolationException] {
      DeltaDml.update(spark, dir, "id = 1", Map("v" -> "-1"))
    }
    assert(DeltaTable.read(spark, dir).filter(col("v") < 0).count() === 0)

    // MERGE insert violating -> rejected
    intercept[DeltaConstraintViolationException] {
      DeltaMerge.merge(spark, dir, Seq((9, "z", -9)).toDF("id", "k", "v"),
        condition = "t.id = s.id",
        matchedUpdate = None, matchedDelete = false,
        notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v")))
    }

    // NULL passes (SQL CHECK semantics), duplicate name rejected, drop works
    intercept[IllegalArgumentException] {
      DeltaConstraints.addCheckConstraint(spark, dir, "v_pos", "v > 1")
    }
    DeltaConstraints.dropConstraint(spark, dir, "v_pos")
    DeltaWriter.write(Seq((4, "d", -1)).toDF("id", "k", "v"), dir, SaveMode.Append, Nil)
    assert(DeltaTable.read(spark, dir).count() === 4)
  }

  test("check constraint NULL semantics: NULL evaluation passes") {
    import org.apache.spark.sql.types._
    val dir = TestSpark.tempDir("graft-mgmt-null")
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("v", IntegerType, nullable = true)))
    DeltaWriter.write(
      spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1, Integer.valueOf(10))), schema),
      dir, SaveMode.Append, Nil)
    DeltaConstraints.addCheckConstraint(spark, dir, "v_big", "v > 5")
    // NULL v -> constraint expr NULL -> passes (SQL standard)
    DeltaWriter.write(
      spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(2, null)), schema),
      dir, SaveMode.Append, Nil)
    assert(DeltaTable.read(spark, dir).count() === 2)
  }

  test("optimizeWrite: one file per hive partition per commit") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-mgmt-ow")
    val df = (0 until 64).map(i => (i, s"p${i % 4}")).toDF("id", "k")
      .repartition(16) // deliberately fragmented input
    DeltaWriter.write(df, dir, SaveMode.Append, Seq("k"), optimizeWrite = true)
    val snap = DeltaLog.snapshot(spark, dir)
    val perPartition = snap.files.groupBy(_.partitionValues).view.mapValues(_.size)
    assert(perPartition.values.forall(_ === 1),
      s"expected 1 file per partition, got ${perPartition.toMap}")
    assert(DeltaTable.read(spark, dir).count() === 64)
  }

  test("describe detail reports files, bytes, partitioning, properties") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-mgmt-detail")
    DeltaWriter.write(
      (0 until 8).map(i => (i, s"p${i % 2}")).toDF("id", "k").coalesce(1),
      dir, SaveMode.Append, Seq("k"))
    DeltaConstraints.addCheckConstraint(spark, dir, "id_pos", "id >= 0")
    val d = DeltaMaintenance.detail(spark, dir).collect()(0)
    assert(d.getAs[String]("format") === "delta")
    assert(d.getAs[Long]("numFiles") === 2)
    assert(d.getAs[Long]("sizeInBytes") > 0)
    assert(d.getAs[String]("partitionColumns") === "k")
    assert(d.getAs[String]("properties").contains("delta.constraints.id_pos=id >= 0"))
    assert(d.getAs[Long]("version") === 1)
  }

  test("DML commits hit the checkpoint cadence") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-mgmt-ckpt")
    // versions 0..8: appends (below the cadence of 10)
    (0 until 9).foreach { i =>
      DeltaWriter.write(Seq((i, i * 10)).toDF("id", "v").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def checkpointExists(v: Long) = fs.exists(new org.apache.hadoop.fs.Path(
      DeltaLog.logDir(dir), f"$v%020d.checkpoint.parquet"))
    assert(!checkpointExists(9))
    // version 9: a DELETE; version 10: another DELETE -> checkpoint at 10
    DeltaDml.delete(spark, dir, "id = 0")
    assert(!checkpointExists(9))
    DeltaDml.delete(spark, dir, "id = 1")
    assert(checkpointExists(10))
    // replay through the checkpoint still reads correctly
    assert(DeltaTable.read(spark, dir).count() === 7)
  }

  test("time travel by timestamp resolves the newest commit at or before the cutoff") {
    import spark.implicits._
    val dir = freshTable() // v0: 2 rows
    val v0File = new org.apache.hadoop.fs.Path(DeltaLog.logDir(dir), "0" * 19 + "0.json")
    val fs = v0File.getFileSystem(spark.sessionState.newHadoopConf())
    val t0 = fs.getFileStatus(v0File).getModificationTime
    DeltaWriter.write(Seq((3, "c", 300)).toDF("id", "k", "v").coalesce(1),
      dir, SaveMode.Append, Nil) // v1
    // cutoff = v0's own commit time → exactly v0 (modtime comparison is <=)
    val atV0 = spark.read.format("delta")
      .option("timestampAsOf", java.time.Instant.ofEpochMilli(t0).toString)
      .load(dir)
    assert(atV0.count() === 2)
    // a cutoff in the far future resolves to latest
    val atNow = spark.read.format("delta")
      .option("timestampAsOf", "2099-01-01").load(dir)
    assert(atNow.count() === 3)
    // a cutoff before the table existed is an error
    intercept[Exception] {
      spark.read.format("delta").option("timestampAsOf", "2000-01-01").load(dir).count()
    }
  }
}
