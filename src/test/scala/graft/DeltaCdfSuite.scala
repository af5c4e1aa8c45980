package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta._

/** Change Data Feed end to end: enablement (protocol bump), cdc writes
  * from DELETE/UPDATE/MERGE/DV-delete, derived inserts/deletes for plain
  * append/overwrite commits, OPTIMIZE invisibility, the SQL
  * `table_changes` TVF, and the loud failures (not enabled; DV commit
  * without cdc). */
class DeltaCdfSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(rows: Int = 20): String = {
    val dir = TestSpark.tempDir("graft-cdf")
    DeltaWriter.write(
      (0 until rows).map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "score"),
      dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    dir
  }

  private def cdf(dir: String, from: Long, to: Long) =
    DeltaTable.readCdf(spark, dir, from, to)

  test("enabling CDF bumps the writer protocol") {
    val dir = fresh()
    val p = DeltaLog.snapshot(spark, dir).protocol
    assert(p.minWriterVersion >= 4)
  }

  test("appends derive insert change rows; the pre-range is excluded") {
    val dir = fresh() // v0 data, v1 enable
    DeltaWriter.write(Seq((100, "x", 1.0)).toDF("id", "name", "score"),
      dir, SaveMode.Append, Nil) // v2
    val ch = cdf(dir, 1, 2).collect()
    assert(ch.length === 1)
    val r = ch.head
    assert(r.getAs[String]("_change_type") === "insert")
    assert(r.getAs[Int]("id") === 100)
    assert(r.getAs[Long]("_commit_version") === 2L)
    assert(r.getAs[java.sql.Timestamp]("_commit_timestamp") != null)
  }

  test("UPDATE emits exact pre/post images (only the changed rows)") {
    val dir = fresh()
    DeltaDml.update(spark, dir, "id % 5 = 0", Map("score" -> "score + 100"))
    val v = DeltaLog.snapshot(spark, dir).version
    val ch = cdf(dir, v - 1, v)
    val pre = ch.filter("_change_type = 'update_preimage'").collect()
    val post = ch.filter("_change_type = 'update_postimage'").collect()
    assert(pre.length === 4 && post.length === 4) // ids 0,5,10,15
    assert(pre.map(_.getAs[Double]("score")).sorted.toSeq === Seq(0.0, 5.0, 10.0, 15.0))
    assert(post.map(_.getAs[Double]("score")).sorted.toSeq === Seq(100.0, 105.0, 110.0, 115.0))
    // no derived whole-file rows leaked in
    assert(ch.count() === 8)
  }

  test("DELETE (copy-on-write) and DELETE (deletion vectors) both emit delete rows") {
    val dir = fresh()
    DeltaDml.delete(spark, dir, "id < 3") // v2
    DeltaDml.deleteWithDv(spark, dir, "id >= 17") // v3
    val v = DeltaLog.snapshot(spark, dir).version
    val ch = cdf(dir, v - 2, v)
    assert(ch.filter("_change_type = 'delete'").count() === 6) // 0,1,2 + 17,18,19
    assert(ch.filter("_change_type = 'delete' AND _commit_version = " + v).count() === 3)
    assert(ch.count() === 6)
    // and the table itself agrees
    assert(DeltaTable.read(spark, dir).count() === 14)
  }

  test("MERGE emits update images, deletes and inserts as cdc") {
    val dir = fresh() // ids 0..19
    Seq((5, "five", -1.0), (300, "new", 3.0))
      .toDF("id", "name", "score").createOrReplaceTempView("cdf_src")
    spark.sql(
      s"""MERGE INTO delta.`$dir` t USING cdf_src s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET score = s.score
         WHEN NOT MATCHED THEN INSERT *""")
    val v = DeltaLog.snapshot(spark, dir).version
    val ch = cdf(dir, v - 1, v)
    assert(ch.filter("_change_type = 'update_preimage' AND id = 5").count() === 1)
    assert(ch.filter("_change_type = 'update_postimage' AND score = -1.0").count() === 1)
    assert(ch.filter("_change_type = 'insert' AND id = 300").count() === 1)
    assert(ch.count() === 3)
  }

  test("OPTIMIZE is invisible to CDF; overwrite derives delete+insert") {
    val dir = fresh()
    DeltaWriter.write(Seq((100, "x", 1.0)).toDF("id", "name", "score"),
      dir, SaveMode.Append, Nil)
    val vBefore = DeltaLog.snapshot(spark, dir).version
    DeltaMaintenance.optimize(spark, dir, targetFileBytes = 1L << 30)
    val vOpt = DeltaLog.snapshot(spark, dir).version
    assert(vOpt > vBefore)
    assert(cdf(dir, vBefore, vOpt).count() === 0, "compaction must not appear as changes")
    // overwrite: every old row a delete, every new row an insert
    DeltaWriter.write(Seq((1000, "o", 0.0)).toDF("id", "name", "score"),
      dir, SaveMode.Overwrite, Nil)
    val vOw = DeltaLog.snapshot(spark, dir).version
    val ch = cdf(dir, vOw - 1, vOw)
    assert(ch.filter("_change_type = 'delete'").count() === 21)
    assert(ch.filter("_change_type = 'insert'").count() === 1)
  }

  test("a range crossing the enablement boundary fails loudly (pre-enablement DML is unrecorded)") {
    val dir = TestSpark.tempDir("graft-cdf-boundary")
    DeltaWriter.write((0 until 10).map(i => (i, s"n$i")).toDF("id", "name"),
      dir, SaveMode.Append, Nil)                     // v0 (CDF off)
    DeltaDml.delete(spark, dir, "id < 3")            // v1: DML with NO cdc
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")     // v2: enable
    DeltaDml.update(spark, dir, "id = 5", Map("name" -> "'upd'")) // v3: cdc
    // end-snapshot check alone would pass and DERIVE whole-file changes
    // for v1 — phantom delete+insert churn for every surviving row
    val e = intercept[UnsupportedOperationException] { cdf(dir, 0, 3).collect() }
    assert(e.getMessage.contains("not recorded"), e.getMessage)
    // a range starting at the enablement version reads fine
    val ch = cdf(dir, 2, 3).collect()
    assert(ch.map(_.getAs[String]("_change_type")).sorted.toSeq
      === Seq("update_postimage", "update_preimage"))
  }

  test("replaceWhere records EXACT cdc: surviving rewritten rows emit no churn") {
    val dir = TestSpark.tempDir("graft-cdf-rw")
    DeltaWriter.write(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "name")
      .coalesce(1), dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")
    // row-level predicate: the single touched file keeps ids 3,4 — those
    // SURVIVORS are rewritten but unchanged, so the change feed must not
    // mention them (derived whole-file changes would emit delete+insert
    // for them)
    DeltaMaintenance.replaceWhere(spark, dir,
      Seq((1, "x"), (2, "y")).toDF("id", "name"), "id <= 2")
    val v = DeltaLog.snapshot(spark, dir).version
    val ch = cdf(dir, v - 1, v).collect()
    val byType = ch.groupBy(_.getAs[String]("_change_type"))
      .view.mapValues(_.map(r =>
        (r.getAs[Int]("id"), r.getAs[String]("name"))).sorted.toSeq).toMap
    assert(byType === Map(
      "delete" -> Seq((1, "a"), (2, "b")),
      "insert" -> Seq((1, "x"), (2, "y"))), s"got $byType")
  }

  test("SQL table_changes('/path', from[, to]) routes through the parser") {
    val dir = fresh()
    DeltaDml.update(spark, dir, "id = 7", Map("name" -> "'seven'"))
    val v = DeltaLog.snapshot(spark, dir).version
    val got = spark.sql(
      s"SELECT _change_type, id, name FROM table_changes('$dir', $v, $v) ORDER BY _change_type")
      .collect()
    assert(got.length === 2)
    // alphabetical: postimage < preimage
    assert(got.map(_.getString(0)).toSeq === Seq("update_postimage", "update_preimage"))
    assert(got(0).getString(2) === "seven")
    // open-ended form (end defaults to latest)
    val n = spark.sql(s"SELECT count(*) AS n FROM table_changes('$dir', $v)")
      .collect().head.getLong(0)
    assert(n === 2)
  }

  test("table_changes accepts timestamp arguments (production dual signature)") {
    val dir = fresh()
    def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString.replace('T', ' ')
    Thread.sleep(1200)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(1200)
    DeltaDml.update(spark, dir, "id = 7", Map("name" -> "'seven'"))   // v2
    Thread.sleep(1200)
    val mid = System.currentTimeMillis()
    Thread.sleep(1200)
    DeltaDml.delete(spark, dir, "id = 3")                             // v3
    // starting timestamp between v1 and v2 -> serves v2 and v3 changes
    val all = spark.sql(
      s"SELECT _change_type FROM table_changes('$dir', '${iso(cutoff)}')")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(all === Seq("delete", "update_postimage", "update_preimage"))
    // ending timestamp between v2 and v3 bounds the feed at v2
    val bounded = spark.sql(
      s"SELECT _change_type FROM table_changes('$dir', '${iso(cutoff)}', '${iso(mid)}')")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(bounded === Seq("update_postimage", "update_preimage"))
    // a start past the newest commit is refused loudly
    val late = iso(System.currentTimeMillis() + 3600 * 1000)
    val ex = intercept[IllegalArgumentException] {
      spark.sql(s"SELECT * FROM table_changes('$dir', '$late')").collect()
    }
    assert(ex.getMessage.contains("resolves past"))
  }

  test("CDF on a column-mapped table reads through renames") {
    val dir = fresh()
    DeltaSchema.renameColumn(spark, dir, "score", "points")
    DeltaDml.update(spark, dir, "id = 1", Map("points" -> "points * 10"))
    val v = DeltaLog.snapshot(spark, dir).version
    val post = cdf(dir, v - 1, v).filter("_change_type = 'update_postimage'").collect()
    assert(post.length === 1 && post.head.getAs[Double]("points") === 10.0)
  }

  test("derived deletes from an overwrite of a DV-carrying file exclude the DV'd rows") {
    val dir = TestSpark.tempDir("graft-cdf-dv-ow")
    // ONE file so the DV and the overwrite touch the same file
    spark.range(0, 10).select(col("id"), (col("id") * 1.0).as("score"))
      .repartition(1).write.format("delta").save(dir) // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    DeltaDml.deleteWithDv(spark, dir, "id >= 7") // v2: cdc delete of 7,8,9 + DV
    DeltaWriter.write(Seq((100L, 0.0)).toDF("id", "score"),
      dir, SaveMode.Overwrite, Nil) // v3: removes the DV'd file (no cdc)
    val v = DeltaLog.snapshot(spark, dir).version
    val ch = cdf(dir, 1, v)
    // v2 deleted 7,8,9 (cdc); v3's derived delete must cover ONLY the 7
    // rows still live — not resurrect 7,8,9 as phantom deletes
    assert(ch.filter("_change_type = 'delete' AND _commit_version = 2").count() === 3)
    assert(ch.filter("_change_type = 'delete' AND _commit_version = " + v).count() === 7)
    assert(ch.filter("_change_type = 'delete' AND _commit_version = " + v +
      " AND id >= 7 AND id < 100").count() === 0, "DV'd rows must not re-delete")
    assert(ch.filter("_change_type = 'insert' AND id = 100").count() === 1)
  }

  test("derived deletes on a PARTITIONED table label columns correctly") {
    val dir = TestSpark.tempDir("graft-cdf-part")
    // partition column k is NOT last in the declared schema — the provider
    // scan appends partition columns last, so a positional rename would
    // swap values into the wrong columns
    Seq(("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0))
      .toDF("k", "id", "score")
      .write.format("delta").partitionBy("k").save(dir) // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    // force the DV-aware derive path: a DV delete first, then an overwrite
    DeltaDml.deleteWithDv(spark, dir, "id = 1") // v2 (cdc)
    DeltaWriter.write(Seq(("c", 9, 90.0)).toDF("k", "id", "score"),
      dir, SaveMode.Overwrite, Nil) // v3 (derived)
    val v = DeltaLog.snapshot(spark, dir).version
    val del = cdf(dir, v - 1, v).filter("_change_type = 'delete'")
      .orderBy("id").collect()
    // rows live at the overwrite: (a,2,20.0), (b,3,30.0) — id 1 was DV'd
    assert(del.length === 2)
    assert(del.map(_.getAs[Int]("id")).toSeq === Seq(2, 3))
    assert(del.map(_.getAs[String]("k")).toSeq === Seq("a", "b"), "k mislabeled")
    assert(del.map(_.getAs[Double]("score")).toSeq === Seq(20.0, 30.0), "score mislabeled")
  }

  test("DML cdc on a partitioned table: hive layout, populated partitionValues, exact read") {
    val dir = TestSpark.tempDir("graft-cdf-hive")
    Seq(("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0), ("b", 4, 40.0))
      .toDF("k", "id", "score")
      .write.format("delta").partitionBy("k").save(dir) // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    DeltaDml.update(spark, dir, "id = 3", Map("score" -> "score * -1")) // v2
    DeltaDml.delete(spark, dir, "k = 'a' AND id = 1") // v3
    val v = DeltaLog.snapshot(spark, dir).version
    // the cdc actions must carry hive paths + partitionValues (the
    // production layout — foreign readers source partition columns from
    // the ACTION, not the file)
    val logDir = DeltaLog.logDir(dir)
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val commit2 = {
      val in = fs.open(new org.apache.hadoop.fs.Path(logDir, f"${v - 1}%020d.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val cdcLines = commit2.linesIterator.filter(_.contains("\"cdc\"")).toSeq
    assert(cdcLines.nonEmpty)
    assert(cdcLines.forall(_.contains("k=b")), s"cdc path not hive-partitioned: $cdcLines")
    assert(cdcLines.forall(_.contains(""""partitionValues":{"k":"b"}""")),
      s"cdc partitionValues empty: $cdcLines")
    // and the read injects the partition column from the action
    val ch = cdf(dir, v - 2, v).orderBy("_commit_version", "_change_type").collect()
    assert(ch.forall(_.getAs[String]("k") != null), "partition column read as NULL")
    val upd = ch.filter(_.getAs[String]("_change_type") == "update_postimage")
    assert(upd.map(r => (r.getAs[String]("k"), r.getAs[Int]("id"), r.getAs[Double]("score"))).toSeq
      === Seq(("b", 3, -30.0)))
    val del = ch.filter(_.getAs[String]("_change_type") == "delete")
    assert(del.map(r => (r.getAs[String]("k"), r.getAs[Int]("id"))).toSeq === Seq(("a", 1)))
  }

  test("legacy flat cdc files (embedded partition columns, empty partitionValues) still read") {
    val dir = TestSpark.tempDir("graft-cdf-flat")
    Seq(("a", 1, 10.0), ("b", 2, 20.0)).toDF("k", "id", "score")
      .write.format("delta").partitionBy("k").save(dir) // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    // hand-stage a PRE-hive-layout cdc file: partition column embedded in
    // the file, cdc action with empty partitionValues (what this engine
    // wrote before the layout change — on-disk compatibility must hold)
    val rel = "_change_data/cdc-legacy-flat.parquet"
    val target = new org.apache.hadoop.fs.Path(dir, rel)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(target.getParent)
    val staging = TestSpark.tempDir("graft-cdf-flat-stage")
    Seq(("a", 1, 10.0, "delete")).toDF("k", "id", "score", "_change_type")
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    assert(fs.rename(part, target))
    val size = fs.getFileStatus(target).getLen
    val v = DeltaLog.snapshot(spark, dir).version + 1
    assert(DeltaLog.tryCommit(spark, dir, v,
      s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},"operation":"DELETE"}}
         |{"cdc":{"path":"${rel.replace("_change_data/", "_change_data/")}","partitionValues":{},"size":$size,"dataChange":false}}"""
        .stripMargin))
    val ch = cdf(dir, v - 1, v).collect()
    assert(ch.length === 1)
    assert(ch.head.getAs[String]("k") === "a", "embedded partition column lost")
    assert(ch.head.getAs[Int]("id") === 1)
    assert(ch.head.getAs[String]("_change_type") === "delete")
  }

  test("a CDF range with a retired commit fails loudly instead of returning a partial feed") {
    val dir = fresh() // v0 data, v1 enable
    DeltaDml.update(spark, dir, "id = 1", Map("score" -> "1.0")) // v2
    DeltaDml.update(spark, dir, "id = 2", Map("score" -> "2.0")) // v3
    val logDir = DeltaLog.logDir(dir)
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate log cleanup retiring v2's commit JSON
    assert(fs.delete(new org.apache.hadoop.fs.Path(logDir, f"${2L}%020d.json"), false))
    val e = intercept[IllegalArgumentException] { cdf(dir, 1, 3).collect() }
    assert(e.getMessage.contains("no longer available"))
    assert(e.getMessage.contains("2"))
  }

  test("protocol upgrades preserve implied legacy features (CDF survives a DV delete)") {
    val dir = fresh() // CDF enabled → legacy writer v4
    assert(DeltaLog.snapshot(spark, dir).protocol.minWriterVersion === 4)
    DeltaDml.deleteWithDv(spark, dir, "id < 2") // upgrades to (3, 7)
    val p = DeltaLog.snapshot(spark, dir).protocol
    assert(p.minReaderVersion === 3 && p.minWriterVersion === 7)
    assert(p.writerFeatures.contains("changeDataFeed"),
      s"changeDataFeed dropped in upgrade: ${p.writerFeatures}")
    assert(p.writerFeatures.contains("deletionVectors"))
    // and the feed still works after the upgrade
    DeltaDml.update(spark, dir, "id = 10", Map("score" -> "score + 1"))
    val v = DeltaLog.snapshot(spark, dir).version
    assert(cdf(dir, v - 1, v).filter("_change_type = 'update_postimage'").count() === 1)
  }

  test("not-enabled read and pre-CDF DV commits fail loudly") {
    val dir = TestSpark.tempDir("graft-cdf-off")
    DeltaWriter.write((0 until 10).map(i => (i, i * 1.0)).toDF("id", "score"),
      dir, SaveMode.Append, Nil)
    val e = intercept[IllegalArgumentException] { cdf(dir, 0, 0).collect() }
    assert(e.getMessage.contains("enableChangeDataFeed"))
    // DV delete while CDF off, then enable: the DV commit cannot be
    // derived (partial predicate → every touched file KEEPS a DV; a
    // fully-deleted file would be a plain remove and derivable)
    DeltaDml.deleteWithDv(spark, dir, "id % 3 = 0") // v1, no cdc
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v2
    val e2 = intercept[UnsupportedOperationException] {
      cdf(dir, 0, 2).collect()
    }
    // the general per-version enablement gate now fires first ("not
    // recorded"); the DV-specific wording remains for foreign DV commits
    // made while CDF was ON
    assert(e2.getMessage.contains("not recorded")
      || e2.getMessage.contains("deletion vector"), e2.getMessage)
  }
}
