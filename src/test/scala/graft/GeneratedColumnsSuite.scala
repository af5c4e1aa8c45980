package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaTable, DeltaWriter}

/** Generated columns (`GENERATED ALWAYS AS expr`, stored as
  * delta.generationExpression field metadata): the production pattern for
  * time-partitioned tables — partition by a DATE derived from the event
  * timestamp, prune on it. */
class GeneratedColumnsSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("generated date partition: computed on create and append, pruned on read") {
    val dir = TestSpark.tempDir("graft-gen")
    val day1 = Seq((1L, ts("2024-01-01 10:00:00"), 5.0), (2L, ts("2024-01-01 11:00:00"), 7.0))
      .toDF("id", "ts", "v")
    // creating write declares the generated column; data does not carry it
    DeltaWriter.write(day1, dir, SaveMode.Append, Seq("d"),
      generatedColumns = Map("d" -> "CAST(ts AS DATE)"))
    // appending write: expression comes from the table schema metadata
    val day2 = Seq((3L, ts("2024-01-02 09:00:00"), 1.0)).toDF("id", "ts", "v")
    DeltaWriter.write(day2, dir, SaveMode.Append, Nil)

    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.partitionColumns === Seq("d"))
    assert(snap.schema("d").metadata.getString("delta.generationExpression")
      === "CAST(ts AS DATE)")
    assert(snap.files.map(_.partitionValues("d")).toSet === Set("2024-01-01", "2024-01-02"))

    // pruning on the generated partition column
    val pruned = DeltaTable.read(spark, dir).filter(col("d") === lit("2024-01-02").cast("date"))
    assert(pruned.collect().map(_.getAs[Long]("id")).toSeq === Seq(3L))
    assert(pruned.queryExecution.executedPlan.toString.contains("2024-01-02"))
  }

  test("provided values for a generated column are validated") {
    val dir = TestSpark.tempDir("graft-gen-val")
    DeltaWriter.write(
      Seq((1L, ts("2024-01-01 10:00:00"), 5.0)).toDF("id", "ts", "v"),
      dir, SaveMode.Append, Seq("d"),
      generatedColumns = Map("d" -> "CAST(ts AS DATE)"))
    // correct provided values pass
    DeltaWriter.write(
      Seq((2L, ts("2024-01-03 10:00:00"), 1.0)).toDF("id", "ts", "v")
        .withColumn("d", expr("CAST(ts AS DATE)")),
      dir, SaveMode.Append, Nil)
    // wrong provided values are rejected
    val ex = intercept[IllegalArgumentException] {
      DeltaWriter.write(
        Seq((3L, ts("2024-01-04 10:00:00"), 1.0)).toDF("id", "ts", "v")
          .withColumn("d", lit("1999-01-01").cast("date")),
        dir, SaveMode.Append, Nil)
    }
    assert(ex.getMessage.contains("generated column d"))
    assert(DeltaTable.read(spark, dir).count() === 2)
  }

  test("declaring mismatched expressions against an existing table fails") {
    val dir = TestSpark.tempDir("graft-gen-mismatch")
    DeltaWriter.write(
      Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "ts"),
      dir, SaveMode.Append, Nil,
      generatedColumns = Map("d" -> "CAST(ts AS DATE)"))
    intercept[IllegalArgumentException] {
      DeltaWriter.write(
        Seq((2L, ts("2024-01-02 10:00:00"))).toDF("id", "ts"),
        dir, SaveMode.Append, Nil,
        generatedColumns = Map("d" -> "date_add(CAST(ts AS DATE), 1)"))
    }
  }

  /** Files the physical scan reads (pre-AQE plan — pruning is decided at
    * planning time). Stats-based file skipping on the data filter applies
    * too, so this measures the COMBINED pruning. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum

  /** Column names the scan's PARTITION filters reference — the direct pin
    * that a derived generated-column conjunct reached the pruning path. */
  private def partitionFilterRefs(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.partitionFilters.flatMap(_.references.map(_.name)).toSet
    }.flatten.toSet

  test("filter on the SOURCE timestamp prunes generated date partitions") {
    val dir = TestSpark.tempDir("graft-gen-prune")
    val days = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-02 11:00:00")),
      (3L, ts("2024-01-03 12:00:00")))
    DeltaWriter.write(days.toDF("id", "ts").coalesce(1), dir, SaveMode.Append,
      Seq("d"), generatedColumns = Map("d" -> "CAST(ts AS DATE)"))
    assert(DeltaLog.snapshot(spark, dir).files.size === 3)
    // range on ts: a derived d-bound must reach the partition filters
    val range = DeltaTable.read(spark, dir)
      .filter(col("ts") >= ts("2024-01-03 00:00:00"))
    assert(partitionFilterRefs(range).contains("d"),
      "ts range must derive a partition filter on d")
    assert(scannedFiles(range) === 1)
    assert(range.collect().map(_.getAs[Long]("id")).toSeq === Seq(3L))
    // equality derives too
    val eq = DeltaTable.read(spark, dir).filter(col("ts") === ts("2024-01-02 11:00:00"))
    assert(partitionFilterRefs(eq).contains("d"))
    assert(scannedFiles(eq) === 1)
    assert(eq.collect().map(_.getAs[Long]("id")).toSeq === Seq(2L))
    // strict upper bound widens to an inclusive one — sound, not minimal
    val lt = DeltaTable.read(spark, dir).filter(col("ts") < ts("2024-01-02 00:00:00"))
    assert(partitionFilterRefs(lt).contains("d"))
    assert(lt.collect().map(_.getAs[Long]("id")).toSeq === Seq(1L))
  }

  test("non-monotonic MONTH generation derives equality but never ranges") {
    val dir = TestSpark.tempDir("graft-gen-month")
    val rows = Seq(
      (1L, ts("2024-01-15 10:00:00")), (2L, ts("2024-02-15 10:00:00")),
      (3L, ts("2024-03-15 10:00:00")))
    DeltaWriter.write(rows.toDF("id", "ts").coalesce(1), dir, SaveMode.Append,
      Seq("m"), generatedColumns = Map("m" -> "MONTH(ts)"))
    assert(DeltaLog.snapshot(spark, dir).files.size === 3)
    val eq = DeltaTable.read(spark, dir).filter(col("ts") === ts("2024-02-15 10:00:00"))
    assert(partitionFilterRefs(eq).contains("m"), "equality derives through month")
    assert(scannedFiles(eq) === 1)
    assert(eq.collect().map(_.getAs[Long]("id")).toSeq === Seq(2L))
    // a range must NOT derive through month (month(ts) wraps across
    // years) — no m partition filter, result still correct
    val range = DeltaTable.read(spark, dir).filter(col("ts") >= ts("2024-02-01 00:00:00"))
    assert(!partitionFilterRefs(range).contains("m"),
      "no unsound month-range derivation")
    assert(range.collect().map(_.getAs[Long]("id")).sorted.toSeq === Seq(2L, 3L))
  }
}
