package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaTable, DeltaWriter}

/** Incremental change reads (append-level CDC): exactly-once row
  * consumption across appends, with OPTIMIZE rewrites invisible. */
class DeltaChangesSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("readChanges yields each appended row once, tagged with its commit version") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-cdc")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), dir, SaveMode.Append, Seq("k"))
    DeltaWriter.write(Seq((3L, "a")).toDF("id", "k"), dir, SaveMode.Append, Seq("k"))
    // split partition k=a into small files first? already small; compact:
    DeltaMaintenance.optimize(spark, dir) // dataChange=false rewrite
    DeltaWriter.write(Seq((4L, "b")).toDF("id", "k"), dir, SaveMode.Append, Seq("k"))
    assert(DeltaLog.snapshot(spark, dir).version === 3L)

    // initial snapshot = changes of version 0
    val v0 = DeltaTable.readChanges(spark, dir, -1L, 0L)
      .select("id", "_commit_version").as[(Long, Long)].collect().sorted.toSeq
    assert(v0 === Seq((1L, 0L), (2L, 0L)))

    // everything after v0: the OPTIMIZE commit contributes NOTHING
    val later = DeltaTable.readChanges(spark, dir, 0L, 3L)
      .select("id", "_commit_version").as[(Long, Long)].collect().sorted.toSeq
    assert(later === Seq((3L, 1L), (4L, 3L)))

    // a polling consumer over single-version windows sees each row once
    val polled = (0L until 4L).flatMap { v =>
      DeltaTable.readChanges(spark, dir, v - 1, v).select("id").as[Long].collect()
    }.sorted
    assert(polled === Seq(1L, 2L, 3L, 4L))

    // empty window → empty frame with the right schema
    val empty = DeltaTable.readChanges(spark, dir, 2L, 2L)
    assert(empty.isEmpty)
    assert(empty.schema.fieldNames.last === "_commit_version")
  }

  test("a data-removing commit in the range fails fast unless explicitly ignored") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-cdc-rm")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), dir, SaveMode.Append, Nil)
    DeltaWriter.write(Seq((3L, "c")).toDF("id", "k"), dir, SaveMode.Append, Nil)
    // version 2: Overwrite = dataChange=true removes + adds — the adds
    // REWRITE rows a pure add-consumer already took at v0/v1
    DeltaWriter.write(Seq((9L, "z")).toDF("id", "k"), dir, SaveMode.Overwrite, Nil)

    // append-only prefix still reads fine
    assert(DeltaTable.readChanges(spark, dir, -1L, 1L)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // range covering the overwrite: exactly-once is impossible → throw
    val e = intercept[UnsupportedOperationException] {
      DeltaTable.readChanges(spark, dir, 1L, 2L).collect()
    }
    assert(e.getMessage.contains("removes data"))
    // opt-in ignoreChanges semantics: consume the overwrite's adds
    assert(DeltaTable.readChanges(spark, dir, 1L, 2L, ignoreDataChangeRemoves = true)
      .select("id").as[Long].collect().toSeq === Seq(9L))
  }

  test("a deletion-vector DELETE's re-add serves only the rows its vector leaves") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-cdc-dv")
    DeltaWriter.write(Seq(1L, 2L, 3L, 4L).toDF("id").coalesce(1), dir, SaveMode.Append, Nil)
    DeltaDml.deleteWithDv(spark, dir, "id = 2")
    assert(DeltaTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 4L))
    // v1 removes and re-adds the one file with a DV attached: consuming
    // its add must apply the vector, never resurrect the deleted row
    assert(DeltaTable.readChanges(spark, dir, 0L, 1L, ignoreDataChangeRemoves = true)
      .select("id", "_commit_version").as[(Long, Long)].collect().sorted.toSeq ===
      Seq((1L, 1L), (3L, 1L), (4L, 1L)))
  }
}
