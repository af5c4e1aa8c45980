package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaSchema, DeltaTable, DeltaWriter}

/** Column defaults (`allowColumnDefaults` writer feature), PRODUCTION
  * Delta semantics: a default applies to FUTURE writes that omit the
  * column (CURRENT_DEFAULT materialized at write time); rows in files
  * older than the default read NULL — never a backfill. Explicit values,
  * including explicit NULL, always win. */
class DeltaDefaultsSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("ADD COLUMN DEFAULT: future writes fill it, existing rows read NULL") {
    val dir = TestSpark.tempDir("graft-defaults")
    DeltaWriter.write(Seq((1, 10.0), (2, 20.0)).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` ADD COLUMN tier STRING DEFAULT 'std'")
    // writer-only protocol feature; the reader version is untouched
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.protocol.minWriterVersion === 7)
    assert(snap.protocol.writerFeatures.contains("allowColumnDefaults"))
    assert(snap.protocol.minReaderVersion === 1)
    // production semantics: rows predating the default read NULL
    assert(DeltaTable.read(spark, dir).filter(col("id") <= 2)
      .select("tier").collect().forall(_.isNullAt(0)))
    // a write omitting the column materializes CURRENT_DEFAULT
    DeltaWriter.write(Seq((3, 30.0)).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    // explicit values — including explicit NULL — always win
    DeltaWriter.write(
      Seq((4, 40.0, "prem"), (5, 50.0, null)).toDF("id", "v", "tier").coalesce(1),
      dir, SaveMode.Append, Nil)
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .select("id", "tier").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(rows === Seq((1, null), (2, null), (3, "std"), (4, "prem"), (5, null)))
  }

  test("SET DEFAULT / DROP DEFAULT on an existing column") {
    val dir = TestSpark.tempDir("graft-defaults-set")
    DeltaWriter.write(
      Seq((1, Option("a")), (2, None)).toDF("id", "k").coalesce(1),
      dir, SaveMode.Append, Nil)
    // before any default: omitting k is schema drift, refused
    intercept[IllegalArgumentException] {
      DeltaWriter.write(Seq(Tuple1(3)).toDF("id"), dir, SaveMode.Append, Nil)
    }
    spark.sql(s"ALTER TABLE delta.`$dir` ALTER COLUMN k SET DEFAULT 'dflt'")
    DeltaWriter.write(Seq(Tuple1(3)).toDF("id"), dir, SaveMode.Append, Nil)
    // pre-default rows untouched (incl. the genuine NULL), new row filled
    val got = DeltaTable.read(spark, dir).orderBy("id")
      .select("k").collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got === Seq("a", null, "dflt"))
    // DROP DEFAULT restores the strict drift behavior
    spark.sql(s"ALTER TABLE delta.`$dir` ALTER COLUMN k DROP DEFAULT")
    intercept[IllegalArgumentException] {
      DeltaWriter.write(Seq(Tuple1(4)).toDF("id"), dir, SaveMode.Append, Nil)
    }
    // dropping a non-existent default is refused
    intercept[IllegalArgumentException] {
      DeltaSchema.setColumnDefault(spark, dir, "k", None)
    }
  }

  test("defaults survive DML rewrites and constant-fold at ALTER time") {
    val dir = TestSpark.tempDir("graft-defaults-dml")
    DeltaWriter.write(Seq((1, 10.0), (2, 20.0)).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    // a folded arithmetic default is fine — stored re-literalized; it only
    // affects writes AFTER this point
    spark.sql(s"ALTER TABLE delta.`$dir` ADD COLUMN boost INT DEFAULT 2 + 3")
    DeltaWriter.write(Seq((3, 30.0)).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    assert(DeltaTable.read(spark, dir).orderBy("id")
      .select("boost").collect()
      .map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq === Seq(-1, -1, 5))
    // the copy-on-write UPDATE rewrite keeps each row's CURRENT value
    // (NULL stays NULL — a rewrite is not a new logical write)
    graft.sources.delta.DeltaDml.update(spark, dir, "id = 1", Map("v" -> "11.0"))
    assert(DeltaTable.read(spark, dir).orderBy("id")
      .select("boost").collect()
      .map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq === Seq(-1, -1, 5))
    // non-constant defaults are refused loudly
    val ex = intercept[IllegalArgumentException] {
      DeltaSchema.addColumnWithDefault(spark, dir,
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.DoubleType), "rand()")
    }
    assert(ex.getMessage.contains("constant"))
    // duplicate column refused
    intercept[IllegalArgumentException] {
      DeltaSchema.addColumnWithDefault(spark, dir,
        org.apache.spark.sql.types.StructField("boost",
          org.apache.spark.sql.types.IntegerType), "1")
    }
  }
}
