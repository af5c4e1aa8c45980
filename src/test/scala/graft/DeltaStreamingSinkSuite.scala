package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaTable, DeltaWriter}

/** Streaming ingestion into the Delta layer via foreachBatch — the
  * idiomatic Spark pattern for sinks without a native streaming writer:
  * each micro-batch appends one ACID Delta commit, so readers see
  * exactly-once batch boundaries and time travel across them. (The
  * reference cannot write Delta at all over its distributed engine —
  * `tests/local.rs:100-103` — so this is exceed-parity surface.) */
class DeltaStreamingSinkSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("foreachBatch streams micro-batches into versioned Delta commits") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.tempDir("graft-stream-delta")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "k")
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        DeltaWriter.write(batch, dir, SaveMode.Append, Seq("k"))
      }
      .start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "a"))
      q.processAllAvailable()

      val snap = DeltaLog.snapshot(spark, dir)
      assert(snap.version === 1L) // two micro-batches → two commits
      val all = DeltaTable.read(spark, dir)
        .orderBy("id").select("id", "k")
        .as[(Long, String)].collect().toSeq
      assert(all === Seq((1L, "a"), (2L, "b"), (3L, "a")))
      // batch boundary is a time-travel boundary
      val v0 = DeltaTable.readVersion(spark, dir, 0L)
        .select("id").as[Long].collect().sorted.toSeq
      assert(v0 === Seq(1L, 2L))
    } finally q.stop()
  }

  test("writeStream.format(delta): native sink appends micro-batches with txn tags") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.tempDir("graft-sink-native")
    val cp = TestSpark.tempDir("graft-sink-cp")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "k")
      .writeStream
      .format("delta")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", cp)
      .option("path", dir)
      .start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "a"))
      q.processAllAvailable()
      val snap = DeltaLog.snapshot(spark, dir)
      assert(snap.version === 1L)
      // the commits carry SetTransaction tags keyed by the query id
      assert(snap.transactions.get(q.id.toString) === Some(1L))
      val all = DeltaTable.read(spark, dir)
        .orderBy("id").select("id", "k").as[(Long, String)].collect().toSeq
      assert(all === Seq((1L, "a"), (2L, "b"), (3L, "a")))
    } finally q.stop()
  }

  test("txn tags make a redelivered batch a no-op (exactly-once across retries)") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-sink-txn")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    DeltaWriter.write(batch, dir, SaveMode.Append, Nil, txn = Some(("app-1", 0L)))
    // same appId, same batch version: dropped before staging
    DeltaWriter.write(batch, dir, SaveMode.Append, Nil, txn = Some(("app-1", 0L)))
    // same appId, LOWER version (late straggler): dropped too
    DeltaWriter.write(batch, dir, SaveMode.Append, Nil, txn = Some(("app-1", -1L)))
    assert(DeltaLog.snapshot(spark, dir).version === 0L)
    assert(DeltaTable.read(spark, dir).count() === 2L)
    // a DIFFERENT app's version-0 batch is independent
    DeltaWriter.write(Seq((3L, "c")).toDF("id", "k"), dir, SaveMode.Append, Nil,
      txn = Some(("app-2", 0L)))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version === 1L)
    assert(snap.transactions === Map("app-1" -> 0L, "app-2" -> 0L))
    assert(DeltaTable.read(spark, dir).count() === 3L)
    // no orphan parquet beyond the live files (skips staged nothing)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    var dataFiles = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.toString.contains("_delta_log")) dataFiles += 1
    }
    assert(dataFiles === snap.files.size)
  }

  test("txn high-water marks survive checkpointing") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-sink-txn-cp")
    // app-early commits ONLY at v0 — after the v10 checkpoint its hwm
    // exists nowhere in the JSON tail, so replay must surface it from
    // CHECKPOINT state or redelivery double-applies
    DeltaWriter.write(Seq((0L, "v0")).toDF("id", "k"), dir, SaveMode.Append, Nil,
      txn = Some(("app-early", 7L)))
    (1L until 12L).foreach { i =>
      DeltaWriter.write(Seq((i, s"v$i")).toDF("id", "k"), dir, SaveMode.Append, Nil,
        txn = Some(("app-cp", i)))
    }
    val fsCp = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val hfs = fsCp.getFileSystem(spark.sessionState.newHadoopConf())
    assert(hfs.listStatus(fsCp).exists(_.getPath.getName.contains(".checkpoint.")))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.transactions.get("app-early") === Some(7L))
    assert(snap.transactions.get("app-cp") === Some(11L))
    // redelivery of app-early's batch after the checkpoint: still a no-op
    DeltaWriter.write(Seq((99L, "dup")).toDF("id", "k"), dir, SaveMode.Append, Nil,
      txn = Some(("app-early", 7L)))
    assert(DeltaTable.read(spark, dir).count() === 12L)
  }

  test("complete mode: each batch replaces the table (aggregate result sink)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.tempDir("graft-sink-complete")
    val cp = TestSpark.tempDir("graft-sink-complete-cp")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "k")
      .groupBy("k").count()
      .writeStream
      .format("delta")
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", cp)
      .option("path", dir)
      .start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "a"))
      q.processAllAvailable()
      val counts = DeltaTable.read(spark, dir)
        .orderBy("k").as[(String, Long)].collect().toSeq
      assert(counts === Seq(("a", 2L), ("b", 1L)))
    } finally q.stop()
  }

  test("update output mode is refused loudly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.tempDir("graft-sink-update")
    val in = MemoryStream[(Long, String)]
    val e = intercept[Exception] {
      in.toDF().toDF("id", "k")
        .groupBy("k").count()
        .writeStream
        .format("delta")
        .outputMode(OutputMode.Update)
        .option("checkpointLocation",
          TestSpark.tempDir("graft-sink-update-cp"))
        .option("path", dir)
        .start()
    }
    assert(e.getMessage.contains("Append and Complete") ||
      Option(e.getCause).exists(_.getMessage.contains("Append and Complete")))
  }
}
