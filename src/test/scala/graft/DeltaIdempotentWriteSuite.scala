package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaMerge, DeltaTable, DeltaWriter, MergeClause}

/** Batch idempotent writes — the `txnAppId`/`txnVersion` writer options
  * and the MERGE `txn` parameter. The retry contract: an orchestrator
  * (Airflow re-run, speculative retry) that redelivers a batch with the
  * same (appId, version) must observe a no-op, keyed on the protocol's
  * `txn` (SetTransaction) action — the same machinery the streaming sink
  * uses for exactly-once (delta-rs exposes the equivalent as
  * commit-properties app transactions). */
class DeltaIdempotentWriteSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp() = TestSpark.tempDir("graft-idem")

  test("redelivered batch write with same (appId, version) is a no-op") {
    import spark.implicits._
    val dir = tmp()
    def deliver(v: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "k").write.format("delta")
        .mode(SaveMode.Append)
        .option("txnAppId", "loader").option("txnVersion", v.toString)
        .save(dir)

    deliver(1L, Seq((1L, "a"), (2L, "b")))
    deliver(1L, Seq((1L, "a"), (2L, "b"))) // retry — must not commit
    assert(DeltaLog.snapshot(spark, dir).version === 0L)
    assert(DeltaTable.read(spark, dir).count() === 2L)

    // a LOWER version than the high-water mark is also a no-op
    deliver(0L, Seq((9L, "z")))
    assert(DeltaTable.read(spark, dir).count() === 2L)

    // the next version commits normally
    deliver(2L, Seq((3L, "c")))
    assert(DeltaLog.snapshot(spark, dir).version === 1L)
    assert(DeltaTable.read(spark, dir).count() === 3L)
    assert(DeltaLog.snapshot(spark, dir).transactions("loader") === 2L)
  }

  test("txnAppId without txnVersion fails loudly") {
    import spark.implicits._
    val dir = tmp()
    val e = intercept[IllegalArgumentException] {
      Seq((1L, "a")).toDF("id", "k").write.format("delta")
        .mode(SaveMode.Append).option("txnAppId", "loader").save(dir)
    }
    assert(e.getMessage.contains("txnAppId and txnVersion"))
  }

  test("independent appIds do not interfere") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "k").write.format("delta")
      .mode(SaveMode.Append)
      .option("txnAppId", "app1").option("txnVersion", "5").save(dir)
    Seq((2L, "b")).toDF("id", "k").write.format("delta")
      .mode(SaveMode.Append)
      .option("txnAppId", "app2").option("txnVersion", "1").save(dir)
    assert(DeltaTable.read(spark, dir).count() === 2L)
    val txns = DeltaLog.snapshot(spark, dir).transactions
    assert(txns === Map("app1" -> 5L, "app2" -> 1L))
  }

  test("redelivered MERGE with same (appId, version) is a no-op") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.format("delta").save(dir)

    def upsert(v: Long) = DeltaMerge.merge(
      spark, dir, Seq((2L, 99.0), (3L, 30.0)).toDF("id", "v"),
      "t.id = s.id",
      matched = Seq(MergeClause.Matched(Some(Map("v" -> "s.v")))),
      notMatched = Seq(MergeClause.NotMatched(Map("id" -> "s.id", "v" -> "s.v"))),
      bySource = Nil,
      schemaEvolution = false,
      txn = Some(("upserter", v)))

    val m1 = upsert(1L)
    assert(m1.rowsUpdated === 1L && m1.rowsInserted === 1L)
    val vAfter = DeltaLog.snapshot(spark, dir).version

    val m2 = upsert(1L) // retry — must be a no-op before any rewrite
    assert(m2.rowsUpdated === 0L && m2.rowsDeleted === 0L && m2.rowsInserted === 0L)
    assert(DeltaLog.snapshot(spark, dir).version === vAfter)
    assert(DeltaTable.read(spark, dir).orderBy("id").as[(Long, Double)].collect().toSeq
      === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))

    // next version applies (and is itself a no-op data-wise here, but
    // still advances the SetTransaction watermark)
    val m3 = upsert(2L)
    assert(m3.rowsUpdated === 2L) // both source rows now match: same values
    assert(DeltaLog.snapshot(spark, dir).transactions("upserter") === 2L)
  }

  test("MERGE that changes nothing still records its txn watermark") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, 10.0)).toDF("id", "v").write.format("delta").save(dir)
    // source matches nothing and the only clause is insert-of-nothing
    val m = DeltaMerge.merge(
      spark, dir, Seq.empty[(Long, Double)].toDF("id", "v"),
      "t.id = s.id",
      matched = Nil,
      notMatched = Seq(MergeClause.NotMatched(Map("id" -> "s.id", "v" -> "s.v"))),
      bySource = Nil,
      schemaEvolution = false,
      txn = Some(("empty-app", 7L)))
    assert(m.rowsInserted === 0L)
    // the watermark must be durable or a retry would re-run the merge
    assert(DeltaLog.snapshot(spark, dir).transactions("empty-app") === 7L)
  }

  test("streaming-sink and batch writers share one watermark namespace") {
    import spark.implicits._
    val dir = tmp()
    // batch write claims (app, 3); a direct DeltaWriter call (the path the
    // streaming sink uses) at version 3 must then no-op
    Seq((1L, "a")).toDF("id", "k").write.format("delta")
      .mode(SaveMode.Append)
      .option("txnAppId", "shared").option("txnVersion", "3").save(dir)
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "k"), dir, SaveMode.Append, Nil,
      txn = Some(("shared", 3L)))
    assert(DeltaTable.read(spark, dir).count() === 1L)
  }
}
