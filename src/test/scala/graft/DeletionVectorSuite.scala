package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeletionVectors, DeltaDml, DeltaLog, DeltaMaintenance, DeltaTable, DeltaWriter, DvDescriptor}

/** Deletion vectors (Delta reader v3, table feature `deletionVectors`):
  * blob serde, merge-on-read DELETE, scan-side anti-filtering, and the
  * interop rules with copy-on-write DML / OPTIMIZE / checkpoint / restore /
  * vacuum. The reference reads DV tables through delta-rs 0.29.4
  * (`/root/reference/Cargo.toml:16`); everything here is implemented from
  * the published protocol. */
class DeletionVectorSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    TestSpark.tempDir("graft-dv-")

  // --- serde -------------------------------------------------------------

  test("roaring serde round-trips array, bitset and multi-key shapes") {
    val shapes: Seq[Array[Long]] = Seq(
      Array.empty[Long],
      Array(0L),
      Array(1L, 5L, 65535L),                        // one array container
      (0L until 5000L).toArray,                      // bitset container (>4096)
      Array(3L, 65536L + 7, (1L << 32) + 11,         // multi-container + multi-key
        (1L << 32) + 65536L + 13),
      (0L until 200L).map(_ * 977L).toArray)
    shapes.foreach { idx =>
      val data = DeletionVectors.serialize(idx.iterator)
      assert(DeletionVectors.deserialize(data).toSeq == idx.toSeq, s"shape ${idx.length}")
    }
  }

  test("z85 uuid round-trip") {
    val u = java.util.UUID.randomUUID()
    assert(DeletionVectors.z85DecodeUuid(DeletionVectors.z85EncodeUuid(u)) == u)
  }

  test("DV file write/read round-trip with CRC and offsets") {
    val dir = tmpDir()
    val conf = spark.sessionState.newHadoopConf()
    val a = (0L until 100L).filter(_ % 3 == 0).toArray
    val b = Array(7L, 9L, 4999L)
    val descs = DeletionVectors.writeDvFile(conf, dir, Seq(
      DeletionVectors.DvBlob(DeletionVectors.serialize(a.iterator), a.length.toLong),
      DeletionVectors.DvBlob(DeletionVectors.serialize(b.iterator), b.length.toLong)))
    assert(descs.size == 2 && descs.map(_.cardinality) == Seq(a.length.toLong, b.length.toLong))
    assert(DeletionVectors.read(conf, dir, descs(0)).toSeq == a.toSeq)
    assert(DeletionVectors.read(conf, dir, descs(1)).toSeq == b.toSeq)
  }

  // --- merge-on-read DELETE end to end ------------------------------------

  test("deleteWithDv hides rows without rewriting data files") {
    val path = tmpDir()
    spark.range(0, 1000).select(col("id"), (col("id") % 10).as("k"))
      .write.format("delta").save(path)
    val filesBefore = DeltaTable.snapshot(spark, path).files.map(_.path).toSet

    val m = DeltaDml.deleteWithDv(spark, path, "id % 7 = 0")
    assert(m.rowsAffected == (0 until 1000).count(_ % 7 == 0))

    val snap = DeltaTable.snapshot(spark, path)
    assert(snap.protocol.minReaderVersion == 3)
    assert(snap.protocol.readerFeatures.contains("deletionVectors"))
    // same physical files, now carrying DVs
    assert(snap.files.map(_.path).toSet == filesBefore)
    assert(snap.files.forall(_.deletionVector.isDefined))

    val got = DeltaTable.read(spark, path).agg(
      count(lit(1)), sum("id")).collect()(0)
    val live = (0 until 1000).filter(_ % 7 != 0)
    assert(got.getLong(0) == live.size.toLong)
    assert(got.getLong(1) == live.map(_.toLong).sum)
  }

  test("second deleteWithDv on the same files merges bitmaps") {
    val path = tmpDir()
    spark.range(0, 500).toDF("id").write.format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id % 3 = 0")
    val m2 = DeltaDml.deleteWithDv(spark, path, "id % 5 = 0")
    // 3-multiples already gone; only NEW matches counted
    assert(m2.rowsAffected == (0 until 500).count(i => i % 5 == 0 && i % 3 != 0))
    val live = (0 until 500).filter(i => i % 3 != 0 && i % 5 != 0)
    val got = DeltaTable.read(spark, path).agg(count(lit(1)), sum("id")).collect()(0)
    assert(got.getLong(0) == live.size.toLong && got.getLong(1) == live.map(_.toLong).sum)
  }

  test("DV filtering is correct under predicate pushdown and multiple row groups") {
    val path = tmpDir()
    // small row groups force multi-row-group files — row indexes must stay
    // file-global and pushdown-stable (they come from parquet offsets)
    spark.range(0, 50000).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(2)
      .write.option("parquet.block.size", (64 * 1024).toString)
      .format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id % 2 = 1")
    val got = DeltaTable.read(spark, path)
      .filter(col("id") >= 40000)  // pushed to parquet
      .agg(count(lit(1)), sum("v")).collect()(0)
    val live = (40000 until 50000).filter(_ % 2 == 0)
    assert(got.getLong(0) == live.size.toLong)
    assert(got.getLong(1) == live.map(_.toLong * 2).sum)
  }

  test("deleteWithDv on a partitioned table prunes and keeps other partitions intact") {
    val path = tmpDir()
    spark.range(0, 1000).select(col("id"), (col("id") % 4).as("p"))
      .write.format("delta").partitionBy("p").save(path)
    DeltaDml.deleteWithDv(spark, path, "p = 2 AND id % 2 = 0")
    val snap = DeltaTable.snapshot(spark, path)
    // only partition p=2's files carry DVs
    assert(snap.files.filter(_.deletionVector.isDefined)
      .forall(_.partitionValues("p") == "2"))
    val live = (0 until 1000).filterNot(i => i % 4 == 2 && i % 2 == 0)
    val got = DeltaTable.read(spark, path).agg(count(lit(1)), sum("id")).collect()(0)
    assert(got.getLong(0) == live.size.toLong && got.getLong(1) == live.map(_.toLong).sum)
  }

  test("a fully-deleted file is removed outright, not DV'd") {
    val path = tmpDir()
    spark.range(0, 100).select(col("id"), (col("id") % 2).as("p"))
      .write.format("delta").partitionBy("p").save(path)
    DeltaDml.deleteWithDv(spark, path, "p = 1")
    val snap = DeltaTable.snapshot(spark, path)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.partitionValues("p") == "0"))
    assert(snap.files.forall(_.deletionVector.isEmpty))
    assert(DeltaTable.read(spark, path).count() == 50)
  }

  // --- interop ------------------------------------------------------------

  test("copy-on-write UPDATE over a DV'd file does not resurrect deleted rows") {
    val path = tmpDir()
    spark.range(0, 200).select(col("id"), lit(1.0).as("v")).write.format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id < 50")
    DeltaDml.update(spark, path, "id >= 100", Map("v" -> "v + 1.0"))
    val rows = DeltaTable.read(spark, path).collect()
    assert(rows.length == 150)
    assert(rows.forall(_.getLong(0) >= 50))
    assert(rows.count(_.getDouble(1) == 2.0) == 100)
    // the rewritten file must carry no DV
    assert(DeltaTable.snapshot(spark, path).files.forall(_.deletionVector.isEmpty))
  }

  test("OPTIMIZE physically drops DV'd rows and clears the DVs") {
    val path = tmpDir()
    spark.range(0, 400).toDF("id").repartition(4).write.format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id % 4 = 0")
    val m = DeltaMaintenance.optimize(spark, path)
    assert(m.filesRemoved >= 2)
    val snap = DeltaTable.snapshot(spark, path)
    assert(snap.files.forall(_.deletionVector.isEmpty))
    assert(DeltaTable.read(spark, path).count() == 300)
  }

  test("OPTIMIZE ZORDER BY never resurrects DV'd rows") {
    val path = tmpDir()
    spark.range(0, 400).select(col("id"), (col("id") % 20).as("k"))
      .repartition(4).write.format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id % 4 = 0")
    assert(DeltaTable.read(spark, path).count() == 300)
    DeltaMaintenance.zorder(spark, path, Seq("id", "k"))
    val snap = DeltaTable.snapshot(spark, path)
    assert(snap.files.forall(_.deletionVector.isEmpty))
    assert(DeltaTable.read(spark, path).count() == 300)
    assert(DeltaTable.read(spark, path).filter("id % 4 = 0").count() == 0)
  }

  test("MERGE rewrite of a DV-carrying file never resurrects its deleted rows") {
    val path = tmpDir()
    // ONE data file: the DV'd rows and the merge-matched rows must share
    // it, or the rewrite never touches the DV-carrying file at all
    spark.range(0, 100).select(col("id"), (col("id") * 2).as("v"))
      .repartition(1).write.format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id >= 90")
    assert(DeltaTable.read(spark, path).count() == 90)
    // source matches surviving rows in the SAME file(s) the DV covers
    val src = spark.range(0, 10).select(col("id"), lit(-1L).as("v"))
    graft.sources.delta.DeltaMerge.merge(
      spark, path, src,
      condition = "t.id = s.id",
      matchedUpdate = Some(Map("v" -> "s.v")), matchedDelete = false,
      notMatchedInsert = None)
    val after = DeltaTable.read(spark, path)
    assert(after.count() == 90, "rewrite must not resurrect DV'd rows")
    assert(after.filter("id >= 90").count() == 0)
    assert(after.filter("v = -1").count() == 10)
  }

  test("checkpoint persists deletion vectors across replay") {
    val path = tmpDir()
    spark.range(0, 300).toDF("id").write.format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id < 100")
    val v = DeltaTable.snapshot(spark, path).version
    DeltaWriter.writeCheckpoint(spark, path, v)
    // remove the JSON commits at/below the checkpoint: replay must come
    // from the checkpoint alone and still carry the DV
    val logDir = DeltaLog.logDir(path)
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    (0L to v).foreach { i =>
      fs.delete(new org.apache.hadoop.fs.Path(logDir, f"$i%020d.json"), false)
    }
    val snap = DeltaTable.snapshot(spark, path)
    assert(snap.protocol.readerFeatures.contains("deletionVectors"))
    assert(snap.files.exists(_.deletionVector.isDefined))
    assert(DeltaTable.read(spark, path).count() == 200)
  }

  test("time travel before the DV delete sees all rows; RESTORE re-applies them") {
    val path = tmpDir()
    spark.range(0, 120).toDF("id").write.format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id >= 60")
    assert(DeltaTable.readVersion(spark, path, 0L).count() == 120)
    assert(DeltaTable.read(spark, path).count() == 60)
    DeltaMaintenance.restore(spark, path, 0L)
    assert(DeltaTable.read(spark, path).count() == 120)
    // restore BACK to the DV version keeps the descriptor
    DeltaMaintenance.restore(spark, path, 1L)
    assert(DeltaTable.read(spark, path).count() == 60)
  }

  test("vacuum keeps live DV files and collects orphaned ones") {
    val path = tmpDir()
    // one data file so BOTH deletes touch it and the first DV is superseded
    spark.range(0, 100).coalesce(1).toDF("id").write.format("delta").save(path)
    DeltaDml.deleteWithDv(spark, path, "id < 10")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    def dvBins(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath.getName).filter(_.startsWith("deletion_vector_")).toSeq
    assert(dvBins().size == 1)
    // second delete writes a NEW dv file superseding the first
    DeltaDml.deleteWithDv(spark, path, "id >= 90")
    assert(dvBins().size == 2)
    val removed = DeltaMaintenance.vacuum(spark, path, retentionMs = -1000)
    assert(removed >= 1)
    assert(dvBins().size == 1) // the superseded bin is gone, the live one kept
    assert(DeltaTable.read(spark, path).count() == 80)
  }

  test("DV build is distributed: a mass delete never collects row indexes to the driver") {
    val path = tmpDir()
    // 8 files x 125k rows; the delete matches 500k rows (>50%). The old
    // driver-side build collected every (file, row_index) pair: >= 4 MB of
    // raw longs before Row overhead. The distributed build collects only
    // per-file descriptors, so TOTAL driver-bound task-result bytes across
    // every job in the operation stay far below the raw-index payload.
    spark.range(0, 1000000).select(col("id"), (col("id") % 8).as("k"))
      .repartition(8)
      .write.format("delta").save(path)
    val resultBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) resultBytes.addAndGet(t.taskMetrics.resultSize)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = DeltaDml.deleteWithDv(spark, path, "id % 2 = 0")
      assert(m.rowsAffected == 500000L)
      // let the async listener bus drain (poll until stable)
      var last = -1L
      var spins = 0
      while (resultBytes.get() != last && spins < 40) {
        last = resultBytes.get(); Thread.sleep(250); spins += 1
      }
      val total = resultBytes.get()
      assert(total > 0, "listener saw no tasks")
      assert(total < 2L * 1024 * 1024,
        s"driver-bound task results totalled $total bytes — row indexes are " +
          "being collected to the driver instead of built executor-side")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the delete is exact, DVs spread over the build tasks' files
    val snap = DeltaTable.snapshot(spark, path)
    assert(snap.files.forall(_.deletionVector.isDefined))
    val dvFiles = snap.files.flatMap(_.deletionVector).map(_.pathOrInlineDv).distinct
    assert(dvFiles.nonEmpty)
    val got = DeltaTable.read(spark, path).agg(count(lit(1)), sum("id")).collect()(0)
    assert(got.getLong(0) == 500000L)
    assert(got.getLong(1) == (0L until 1000000L).filter(_ % 2 == 1).sum)
  }

  test("unsupported reader features still fail loudly") {
    val path = tmpDir()
    spark.range(0, 10).toDF("id").write.format("delta").save(path)
    val logDir = DeltaLog.logDir(path)
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new org.apache.hadoop.fs.Path(logDir, f"${1L}%020d.json"), false)
    // collations is real but unimplemented here (v2Checkpoint/timestampNtz/
    // typeWidening/variantType all graduated into SupportedReaderFeatures)
    out.write(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["collations"],"writerFeatures":["collations"]}}"""
        .getBytes("UTF-8"))
    out.close()
    val e = intercept[UnsupportedOperationException](DeltaTable.read(spark, path).count())
    assert(e.getMessage.contains("collations"))
  }

  test("concurrent modification of a touched file aborts the DV commit") {
    val path = tmpDir()
    // one data file so the concurrent delete collides with ours
    spark.range(0, 100).coalesce(1).toDF("id").write.format("delta").save(path)
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaDml.deleteWithDv(spark, path, "id < 50", beforeCommit = () => {
        // concurrent DV delete lands first on the same file
        DeltaDml.deleteWithDv(spark, path, "id >= 90")
      })
    }
    assert(e.getMessage.contains("merge-on-read"))
    // the concurrent delete's effect is intact
    assert(DeltaTable.read(spark, path).count() == 90)
  }
}
