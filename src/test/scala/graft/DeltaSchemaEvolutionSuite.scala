package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaSchema, DeltaTable, DeltaWriter}

/** Schema evolution (mergeSchema) specs: superset appends update the log
  * schema in place; old files read NULL for new columns; drift without the
  * flag stays a hard error. Plus type WIDENING (`ALTER COLUMN … TYPE`, the
  * `typeWidening` feature): metadata-only, old narrow files upcast at
  * scan. */
class DeltaSchemaEvolutionSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("ALTER COLUMN TYPE widens metadata-only; narrow files upcast; wide appends land") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = TestSpark.tempDir("graft-widen")
    Seq((1, 1.5f), (2, 2.5f)).toDF("id", "score")
      .write.format("delta").save(dir)
    val filesBefore = DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
    spark.sql(s"ALTER TABLE delta.`$dir` ALTER COLUMN id TYPE BIGINT")
    DeltaSchema.alterColumnType(spark, dir, "score", DoubleType)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.map(_.path).toSet === filesBefore, "widening must not touch data files")
    assert(snap.schema("id").dataType === LongType)
    assert(snap.schema("score").dataType === DoubleType)
    assert(snap.protocol.minReaderVersion === 3)
    assert(snap.protocol.readerFeatures.contains("typeWidening"))
    // old INT32/FLOAT files upcast at scan
    val rows = DeltaTable.read(spark, dir).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.head.getDouble(1) === 1.5)
    // appends beyond the old type's range work
    DeltaWriter.write(Seq((Int.MaxValue.toLong + 7, 9.9)).toDF("id", "score"),
      dir, SaveMode.Append, Nil)
    val big = DeltaTable.read(spark, dir).filter("id > 2").collect().head
    assert(big.getLong(0) === Int.MaxValue.toLong + 7)
    // and stats skipping still evaluates over the mixed-type file set
    assert(DeltaTable.read(spark, dir).filter("score > 5.0").count() === 1)
  }

  test("narrowing, cross-class changes and partition columns refuse") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = TestSpark.tempDir("graft-widen-bad")
    Seq((1L, "a", 2.5)).toDF("id", "k", "score")
      .write.format("delta").partitionBy("k").save(dir)
    intercept[IllegalArgumentException] {
      DeltaSchema.alterColumnType(spark, dir, "id", IntegerType) // narrow
    }
    intercept[IllegalArgumentException] {
      DeltaSchema.alterColumnType(spark, dir, "score", StringType) // cross-class
    }
    intercept[IllegalArgumentException] {
      DeltaSchema.alterColumnType(spark, dir, "k", LongType) // partition col
    }
  }

  test("mergeSchema append adds nullable columns; old rows read NULL") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .write.format("delta").partitionBy("k").save(dir)

    val widened = Seq((3L, "a", 0.5)).toDF("id", "k", "score")
    // without the flag: hard error with a hint
    val err = intercept[IllegalArgumentException] {
      DeltaTable.write(widened, dir, SaveMode.Append, Nil)
    }
    assert(err.getMessage.contains("mergeSchema"))

    widened.write.format("delta").mode("append")
      .option("mergeSchema", "true").save(dir)

    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version === 1L)
    assert(snap.schema.fieldNames.toSeq === Seq("id", "k", "score"))
    assert(snap.schema("score").nullable)

    val rows = DeltaTable.read(spark, dir)
      .orderBy("id")
      .select("id", "k", "score")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq === Seq(
      (1L, "a", None), (2L, "b", None), (3L, "a", Some(0.5))))

    // time travel still reads the ORIGINAL schema at version 0
    assert(DeltaTable.readVersion(spark, dir, 0L).schema.fieldNames.toSeq === Seq("id", "k"))
  }

  test("dropping columns is rejected even with mergeSchema") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-evolve2")
    Seq((1L, "a", 0.1)).toDF("id", "k", "score")
      .write.format("delta").save(dir)
    val narrower = Seq((2L, "b")).toDF("id", "k")
    assertThrows[IllegalArgumentException] {
      DeltaTable.write(narrower, dir, SaveMode.Append, Nil, mergeSchema = true)
    }
  }
}
