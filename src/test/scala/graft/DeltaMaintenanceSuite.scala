package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaMaintenance, DeltaTable, DeltaWriter}

/** OPTIMIZE / VACUUM / history specs over a scratch partitioned table. */
class DeltaMaintenanceSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Fresh table: 4 small appends × 2 partitions = 8 small files. */
  private def freshTable(): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-opt")
    (0 until 4).foreach { i =>
      val df = Seq((i * 2, "a", s"row${i}a"), (i * 2 + 1, "b", s"row${i}b"))
        .toDF("id", "k", "payload")
      DeltaWriter.write(df, dir, SaveMode.Append, Seq("k"))
    }
    dir
  }

  test("optimize compacts small files per partition, preserving data and history") {
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir)
    assert(before.files.size === 8)
    val expected = DeltaTable.read(spark, dir)
      .orderBy("id").collect().map(_.toString).toSeq

    val m = DeltaMaintenance.optimize(spark, dir, targetFileBytes = 128L << 20)
    assert(m.filesRemoved === 8)
    val after = DeltaLog.snapshot(spark, dir)
    assert(after.version === before.version + 1)
    assert(after.files.size === 2) // one compacted file per partition
    assert(after.files.forall(_.stats.nonEmpty)) // stats re-collected

    val got = DeltaTable.read(spark, dir)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(got === expected)

    // dataChange=false rewrite: time travel to the pre-optimize version
    // still reads the original files
    val old = DeltaTable.readVersion(spark, dir, before.version)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(old === expected)

    val ops = DeltaMaintenance.history(spark, dir)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head === "OPTIMIZE")
    assert(ops.count(_ == "WRITE") === 4)
  }

  test("optimize aborts when a concurrent commit removed a source file") {
    val dir = freshTable()
    val victim = DeltaLog.snapshot(spark, dir).files.head
    // Inject the race deterministically: after OPTIMIZE staged its rewrite
    // (from the pre-rewrite snapshot) but before it commits, a "concurrent
    // writer" removes one of the files OPTIMIZE planned to remove.
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaMaintenance.optimize(spark, dir, 128L << 20, None, () => {
        val v = DeltaLog.snapshot(spark, dir).version + 1
        assert(DeltaLog.tryCommit(spark, dir, v,
          s"""{"remove":{"path":"${victim.path}","dataChange":true,"deletionTimestamp":0}}"""))
      })
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the aborted rewrite must not have committed anything: the latest
    // version is the injected remove, and the live file set reflects it
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.size === 7)
    assert(!snap.files.map(_.path).contains(victim.path))
    // data is intact minus the concurrently-removed file's single row
    assert(DeltaTable.read(spark, dir).count() === 7)
  }

  test("optimize retries cleanly past a version-number conflict (no file overlap)") {
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir)
    // A concurrent APPEND (adds a file, removes nothing) steals the next
    // version number: OPTIMIZE must retry at version+2 and still commit,
    // because none of ITS source files were touched.
    import spark.implicits._
    val m = DeltaMaintenance.optimize(spark, dir, 128L << 20, None, () => {
      DeltaWriter.write(Seq((100, "a", "late")).toDF("id", "k", "payload"),
        dir, SaveMode.Append, Seq("k"))
    })
    assert(m.committedVersion === before.version + 2)
    // 8 compacted into 2, plus the late concurrent file
    assert(DeltaLog.snapshot(spark, dir).files.size === 3)
    assert(DeltaTable.read(spark, dir).count() === 9)
  }

  test("optimize is a no-op when every partition is already compact") {
    val dir = freshTable()
    DeltaMaintenance.optimize(spark, dir)
    val v = DeltaLog.snapshot(spark, dir).version
    val m2 = DeltaMaintenance.optimize(spark, dir)
    assert(m2.filesRemoved === 0)
    assert(DeltaLog.snapshot(spark, dir).version === v) // no empty commit
  }

  test("restore rolls back to an earlier version as a new commit, history preserved") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-restore")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), dir, SaveMode.Append, Nil)  // v0
    DeltaWriter.write(Seq((3L, "c")).toDF("id", "k"), dir, SaveMode.Append, Nil)             // v1
    DeltaWriter.write(Seq((9L, "z")).toDF("id", "k"), dir, SaveMode.Overwrite, Nil)          // v2

    val v = DeltaMaintenance.restore(spark, dir, 1L)
    assert(v === 3L)
    // current state == v1's state
    assert(DeltaTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
    // the undone overwrite is still time-travelable (files not vacuumed)
    assert(DeltaTable.readVersion(spark, dir, 2L).select("id").as[Long].collect().toSeq
      === Seq(9L))
    // restore is a data change: incremental consumers must not silently
    // re-consume the re-added files
    intercept[UnsupportedOperationException] {
      DeltaTable.readChanges(spark, dir, 2L, 3L).collect()
    }
    // restoring to the current state is a no-op (no new commit)
    assert(DeltaMaintenance.restore(spark, dir, 3L) === 3L)
    assert(DeltaLog.snapshot(spark, dir).version === 3L)
    // history records the RESTORE operation at v3
    val ops = DeltaMaintenance.history(spark, dir)
      .select("version", "operation").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ops.contains((3L, "RESTORE")))
  }

  test("VACUUM protocol-checks before deleting (vacuumProtocolCheck contract)") {
    val dir = freshTable()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def protoLine(reader: Seq[String], writer: Seq[String]): String = {
      val pLine = mapper.createObjectNode()
      val p = pLine.putObject("protocol")
      p.put("minReaderVersion", 3); p.put("minWriterVersion", 7)
      val rf = p.putArray("readerFeatures"); reader.foreach(rf.add)
      val wf = p.putArray("writerFeatures"); writer.foreach(wf.add)
      mapper.writeValueAsString(pLine)
    }
    // a foreign table DEMANDING the check (feature in both lists) stays
    // vacuumable by this engine — the check is implemented, not just listed
    val v1 = DeltaLog.snapshot(spark, dir).version + 1
    assert(DeltaLog.tryCommit(spark, dir, v1, protoLine(
      Seq("vacuumProtocolCheck"), Seq("vacuumProtocolCheck", "appendOnly"))))
    DeltaMaintenance.vacuumDryRun(spark, dir) // no throw
    // an UNKNOWN writer feature may reference physical files this walk
    // cannot see — both the audit and the deletion must refuse upfront
    assert(DeltaLog.tryCommit(spark, dir, v1 + 1, protoLine(
      Seq("vacuumProtocolCheck"),
      Seq("vacuumProtocolCheck", "futureBlobRefs"))))
    intercept[UnsupportedOperationException] {
      DeltaMaintenance.vacuumDryRun(spark, dir)
    }
    intercept[UnsupportedOperationException] {
      DeltaMaintenance.vacuum(spark, dir, retentionMs = 0L)
    }
    // nothing was deleted by the refused run
    assert(DeltaTable.read(spark, dir).count() > 0)
  }

  test("vacuum deletes aged-out unreferenced files; current reads survive") {
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir)
    val expected = DeltaTable.read(spark, dir)
      .orderBy("id").collect().map(_.toString).toSeq
    DeltaMaintenance.optimize(spark, dir)

    // default retention keeps everything (files are seconds old)
    assert(DeltaMaintenance.vacuum(spark, dir) === 0)
    // retention 0 removes the 8 tombstoned originals
    assert(DeltaMaintenance.vacuum(spark, dir, retentionMs = 0) === 8)

    val got = DeltaTable.read(spark, dir)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(got === expected)
    // the vacuum contract: pre-optimize versions are no longer readable
    val oldRead = scala.util.Try(
      DeltaTable.readVersion(spark, dir, before.version).collect())
    assert(oldRead.isFailure)
  }

  test("vacuum retention clock starts at REMOVAL (tombstone), not file creation") {
    val dir = freshTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // age every data file's MTIME far past the retention window, as if
    // the table had been written 30 days ago...
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    DeltaLog.snapshot(spark, dir).files.foreach { f =>
      fs.setTimes(new org.apache.hadoop.fs.Path(dir, f.path), old, -1)
    }
    // ...then compact it NOW: the removed files were tombstoned seconds
    // ago, so the default 7-day retention must keep them — an mtime-keyed
    // vacuum would delete them instantly, breaking in-flight readers of
    // the pre-OPTIMIZE snapshot and fresh time travel
    val before = DeltaLog.snapshot(spark, dir).version
    DeltaMaintenance.optimize(spark, dir)
    assert(DeltaMaintenance.vacuum(spark, dir) === 0,
      "files removed seconds ago must survive the retention window")
    assert(DeltaTable.readVersion(spark, dir, before).count() === 8L,
      "time travel inside the retention window must keep working")
    // an ORPHAN (never referenced by the log — crashed staging output)
    // has no tombstone: it falls back to its mtime and ages out
    val orphan = new org.apache.hadoop.fs.Path(dir, "part-orphan.parquet")
    val out = fs.create(orphan, true); out.write(1); out.close()
    fs.setTimes(orphan, old, -1)
    assert(DeltaMaintenance.vacuumDryRun(spark, dir)
      .exists(_.endsWith("part-orphan.parquet")))
    assert(DeltaMaintenance.vacuum(spark, dir) === 1)
  }

  test("CONVERT TO DELTA rejects a stray file outside the declared partition layout") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-convert-stray")
    (1 to 6).map(i => (i, s"k${i % 2}")).toDF("id", "k")
      .write.mode("overwrite").partitionBy("k").parquet(dir)
    // a root-level parquet outside the hive layout: converting it would
    // register null partition values — rows invisible to partition filters
    Seq((99, "x")).toDF("id", "k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/__tmp_stray")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val strayPart = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/__tmp_stray"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(strayPart, new org.apache.hadoop.fs.Path(dir, "stray.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/__tmp_stray"), true)
    val e = intercept[IllegalArgumentException] {
      DeltaMaintenance.convertToDelta(spark, dir, Seq("k"))
    }
    assert(e.getMessage.contains("stray.parquet"), e.getMessage)
  }

  test("CONVERT TO DELTA registers a hive-partitioned parquet dir in place") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-convert")
    val src = (1 to 20).map(i => (i, s"k${i % 3}", i * 1.5)).toDF("id", "k", "v")
    src.write.mode("overwrite").partitionBy("k").parquet(dir)
    val nFiles = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    assert(DeltaMaintenance.convertToDelta(spark, dir, Seq("k")) === 0L)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version === 0L)
    assert(snap.partitionColumns === Seq("k"))
    assert(snap.files.size === nFiles, "every existing file registered, none rewritten")
    assert(snap.files.forall(_.stats.exists(_.contains("numRecords"))),
      "per-file stats collected at conversion")
    assert(snap.files.forall(f => f.partitionValues.get("k").exists(_ != null)))
    val got = DeltaTable.read(spark, dir)
    assert(got.count() === 20)
    // partition pruning works off the converted partitionValues
    assert(got.filter($"k" === "k0").count() === src.filter($"k" === "k0").count())
    // it is a LIVE table: appends + DML work post-convert
    DeltaWriter.write(Seq((21, "k0", 99.0)).toDF("id", "k", "v"),
      dir, SaveMode.Append, Nil)
    graft.sources.delta.DeltaDml.delete(spark, dir, "id <= 5")
    assert(DeltaTable.read(spark, dir).count() === 16)
    // converting again refuses
    val e = intercept[IllegalArgumentException](
      DeltaMaintenance.convertToDelta(spark, dir, Seq("k")))
    assert(e.getMessage.contains("already a delta table"))
  }

  test("OPTIMIZE WHERE compacts only the matching partitions") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-opt-where")
    // two partitions, two small files each
    (1 to 2).foreach { _ =>
      DeltaWriter.write(
        Seq((1, "a"), (2, "b")).toDF("v", "k").repartition(1),
        dir, SaveMode.Append, Seq("k"))
    }
    val before = DeltaLog.snapshot(spark, dir)
    assert(before.files.size === 4)
    val m = DeltaMaintenance.optimize(spark, dir, predicate = Some("k = 'a'"))
    assert(m.filesRemoved === 2 && m.filesAdded === 1)
    val after = DeltaLog.snapshot(spark, dir)
    // partition b's files survive untouched; partition a holds one file
    val bFiles = before.files.filter(_.partitionValues("k") == "b").map(_.path).toSet
    assert(bFiles.subsetOf(after.files.map(_.path).toSet))
    assert(after.files.count(_.partitionValues("k") == "a") === 1)
    // values intact
    assert(DeltaTable.read(spark, dir).groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 2L, "b" -> 2L))
    // a data-column predicate is refused loudly
    val ex = intercept[IllegalArgumentException] {
      DeltaMaintenance.optimize(spark, dir, predicate = Some("v > 0"))
    }
    assert(ex.getMessage.contains("partition columns"))
  }

  test("OPTIMIZE WHERE ZORDER BY clusters only the scoped partition (SQL)") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-zorder-where")
    val rows = (1 to 400).map(i => (i % 20, (i * 7) % 20, if (i % 2 == 0) "a" else "b"))
    DeltaWriter.write(rows.toDF("x", "y", "k").repartition(4), dir, SaveMode.Append, Seq("k"))
    val before = DeltaLog.snapshot(spark, dir)
    val res = spark.sql(
      s"OPTIMIZE delta.`$dir` WHERE k = 'a' ZORDER BY (x, y)").collect()(0)
    assert(res.getLong(0) === before.files.count(_.partitionValues("k") == "a"))
    val after = DeltaLog.snapshot(spark, dir)
    val bFiles = before.files.filter(_.partitionValues("k") == "b").map(_.path).toSet
    assert(bFiles.subsetOf(after.files.map(_.path).toSet), "unscoped partition untouched")
    assert(DeltaTable.read(spark, dir).count() === 400)
  }

  test("VACUUM DRY RUN lists vacuumable files without deleting them") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-vacuum-dry")
    DeltaWriter.write(Seq((1, "x")).toDF("id", "s").coalesce(1), dir, SaveMode.Append, Nil)
    // overwrite orphans the v0 file
    DeltaWriter.write(Seq((2, "y")).toDF("id", "s").coalesce(1), dir, SaveMode.Overwrite, Nil)
    val dry = spark.sql(s"VACUUM delta.`$dir` RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(dry.size === 1, s"one orphaned file, got $dry")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(dry.head)), "dry run deletes nothing")
    // the real vacuum deletes exactly what the dry run listed
    assert(spark.sql(s"VACUUM delta.`$dir` RETAIN 0 HOURS")
      .collect()(0).getLong(0) === 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dry.head)))
    assert(DeltaTable.read(spark, dir).count() === 1)
  }

  test("DESCRIBE HISTORY surfaces per-operation metrics") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-opmetrics")
    DeltaWriter.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "k").coalesce(1),
      dir, SaveMode.Append, Nil)
    graft.sources.delta.DeltaDml.delete(spark, dir, "id = 2")
    val hist = spark.sql(s"DESCRIBE HISTORY delta.`$dir`")
      .collect().map(r => r.getAs[String]("operation") -> r.getAs[String]("operationMetrics"))
      .toMap
    assert(hist("WRITE").contains("\"numOutputRows\":\"3\""), hist("WRITE"))
    assert(hist("DELETE").contains("\"numAffectedRows\":\"1\""), hist("DELETE"))
    assert(hist("DELETE").contains("\"numRemovedFiles\":\"1\""))
    // operationParameters ride along, and LIMIT keeps the newest commits
    val limited = spark.sql(s"DESCRIBE HISTORY delta.`$dir` LIMIT 1").collect()
    assert(limited.length === 1)
    assert(limited(0).getAs[String]("operation") === "DELETE")
    assert(limited(0).getAs[String]("operationParameters").contains("id = 2"))
  }

  test("dataSkippingNumIndexedCols bounds per-file stats to the first N columns") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-skipcols")
    DeltaWriter.write(Seq((1, "x", 2.0)).toDF("a", "b", "c").coalesce(1),
      dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.dataSkippingNumIndexedCols' = '1')")
    DeltaWriter.write(Seq((2, "y", 3.0)).toDF("a", "b", "c").coalesce(1),
      dir, SaveMode.Append, Nil)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val statsCols = DeltaLog.snapshot(spark, dir).files
      .flatMap(_.stats.map { st =>
        val mins = mapper.readTree(st).path("minValues")
        val it = mins.fieldNames(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next()
        b.result().toSet
      })
    // v0's file indexed everything; the post-property file only column a
    assert(statsCols.contains(Set("a", "b", "c")))
    assert(statsCols.contains(Set("a")))
    // numRecords survives regardless (it is what row-count plans read)
    assert(DeltaLog.snapshot(spark, dir).files.forall(
      _.stats.exists(mapper.readTree(_).has("numRecords"))))
  }

  test("autoCompact bin-packs small-file creep after writes") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-autocompact")
    DeltaWriter.write(Seq((0, "x")).toDF("id", "s").coalesce(1), dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.autoOptimize.autoCompact' = 'true')")
    spark.conf.set("spark.graft.delta.autoCompact.minNumFiles", "4")
    try {
      (1 to 3).foreach { i =>
        DeltaWriter.write(Seq((i, "x")).toDF("id", "s").coalesce(1), dir, SaveMode.Append, Nil)
      }
      // 4 small files -> the 4th write triggers the compaction
      val snap = DeltaLog.snapshot(spark, dir)
      assert(snap.files.size === 1, s"expected auto-compacted table, got ${snap.files.size}")
      assert(DeltaMaintenance.history(spark, dir)
        .select("operation").collect().map(_.getString(0)).contains("OPTIMIZE"))
      assert(DeltaTable.read(spark, dir).count() === 4)
      // below the threshold nothing fires
      DeltaWriter.write(Seq((9, "x")).toDF("id", "s").coalesce(1), dir, SaveMode.Append, Nil)
      assert(DeltaLog.snapshot(spark, dir).files.size === 2)
    } finally spark.conf.unset("spark.graft.delta.autoCompact.minNumFiles")
  }

  test("expired-log cleanup retires pre-checkpoint metadata per retention") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-log-clean")
    DeltaWriter.write(Seq((0, "x")).toDF("id", "s").coalesce(1), dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.logRetentionDuration' = 'interval 0 minutes')") // v1
    // v2..v24: checkpoints (and piggybacked cleanup) land at v10 and v20
    (2 to 24).foreach { i =>
      DeltaWriter.write(Seq((i, "x")).toDF("id", "s").coalesce(1), dir, SaveMode.Append, Nil)
    }
    Thread.sleep(20) // mtimes strictly behind the cleanup cutoff
    DeltaMaintenance.cleanupMetadata(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val logFiles = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_delta_log"))
      .map(_.getPath.getName).toSet
    // everything below the newest checkpoint (v20) is gone
    assert(!logFiles.exists(_.startsWith("00000000000000000005")), s"v5 retired: $logFiles")
    assert(!logFiles.exists(n => n.contains("00000000000000000010.checkpoint")))
    assert(logFiles.exists(n => n.contains("00000000000000000020.checkpoint")))
    assert(logFiles.contains("00000000000000000024.json"))
    // the table still reads correctly from checkpoint + tail
    assert(DeltaTable.read(spark, dir).count() === 24)
    // time travel into the retired range fails loudly, not wrongly
    assert(scala.util.Try(DeltaTable.readVersion(spark, dir, 5L).count()).isFailure)
    // a default-retention table never loses young metadata
    val dir2 = TestSpark.tempDir("graft-log-keep")
    (0 to 11).foreach { i =>
      DeltaWriter.write(Seq((i, "y")).toDF("id", "s").coalesce(1), dir2, SaveMode.Append, Nil)
    }
    assert(DeltaMaintenance.cleanupMetadata(spark, dir2) === 0)
    assert(DeltaTable.readVersion(spark, dir2, 2L).count() === 3)
  }

  test("SHOW PARTITIONS lists live partition tuples, metadata-only") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-show-parts")
    DeltaWriter.write(
      Seq((1, "a", 1), (2, "b", 1), (3, "b", 2)).toDF("id", "k", "n"),
      dir, SaveMode.Append, Seq("k", "n"))
    val parts = spark.sql(s"SHOW PARTITIONS delta.`$dir`")
      .collect().map(_.getString(0)).toSeq
    assert(parts === Seq("k=a/n=1", "k=b/n=1", "k=b/n=2"))
    // DELETE emptying a partition drops it from the listing
    graft.sources.delta.DeltaDml.delete(spark, dir, "k = 'a'")
    assert(spark.sql(s"SHOW PARTITIONS delta.`$dir`")
      .collect().map(_.getString(0)).toSeq === Seq("k=b/n=1", "k=b/n=2"))
    val unpart = TestSpark.tempDir("graft-show-unpart")
    DeltaWriter.write(Seq((1, "x")).toDF("id", "s"), unpart, SaveMode.Append, Nil)
    assert(scala.util.Try(
      spark.sql(s"SHOW PARTITIONS delta.`$unpart`").collect()).isFailure)
  }

  test("FSCK repairs a table whose physical files were lost") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-fsck")
    DeltaWriter.write(Seq((1, "x"), (2, "y")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    DeltaWriter.write(Seq((3, "z")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.size === 2)
    // storage incident: the file holding id=3 vanishes
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val lost = snap.files.find { f =>
      spark.read.parquet(new org.apache.hadoop.fs.Path(dir, f.path).toString)
        .filter($"id" === 3).count() > 0
    }.get.path
    assert(fs.delete(new org.apache.hadoop.fs.Path(dir, lost), false))
    // the table is broken; dry run reports without committing
    assert(scala.util.Try(DeltaTable.read(spark, dir).count()).isFailure)
    assert(DeltaMaintenance.fsck(spark, dir, dryRun = true) === Seq(lost))
    assert(DeltaLog.snapshot(spark, dir).version === snap.version, "dry run commits nothing")
    // repair: the missing entry is dropped, surviving rows readable
    assert(spark.sql(s"FSCK REPAIR TABLE delta.`$dir`")
      .collect().map(_.getString(0)).toSeq === Seq(lost))
    assert(DeltaTable.read(spark, dir).orderBy("id")
      .select("id").as[Int].collect().toSeq === Seq(1, 2))
    val hist = DeltaMaintenance.history(spark, dir)
      .select("operation").collect().map(_.getString(0))
    assert(hist.contains("FSCK"))
    // a healthy table fscks to nothing
    assert(DeltaMaintenance.fsck(spark, dir) === Nil)
  }

  test("CONVERT TO DELTA validates the declared partitioning; SQL surface works") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-convert-sql")
    (1 to 6).map(i => (i, s"p${i % 2}")).toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    // declared columns must match the k=v directory layout
    val e = intercept[IllegalArgumentException](
      DeltaMaintenance.convertToDelta(spark, dir, Nil))
    assert(e.getMessage.contains("directory layout"))
    // production syntax, type tokens tolerated in PARTITIONED BY
    val out = spark.sql(s"CONVERT TO DELTA parquet.`$dir` PARTITIONED BY (p string)")
      .collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L))
    assert(DeltaTable.read(spark, dir).count() === 6)
  }
}
