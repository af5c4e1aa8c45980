package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaTable, DeltaWriter}

/** Spark-job snapshot state reconstruction (DeltaStateReconstruction) —
  * the scale path past the driver-replay ceiling. The contract under test:
  * for ANY log the job path must produce a snapshot IDENTICAL to the
  * driver-map path (protocol, metadata, live file set with stats and DVs,
  * SetTransactions), and the auto cutover must route big tables to it
  * without the caller noticing. */
class DeltaStateReconstructionSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    TestSpark.tempDir("graft-recon-")

  private def snapshotIn(plane: String, dir: String, versionAsOf: Option[Long] = None) =
    withPlane(plane)(DeltaLog.snapshot(spark, dir, versionAsOf = versionAsOf))

  private def withThreshold[T](files: Int)(f: => T): T =
    GraftSession.withConf(spark, DeltaLog.SnapshotFileCountThresholdKey, files.toString)(f)

  private def assertSameSnapshot(dir: String, versionAsOf: Option[Long] = None): Unit = {
    val d = snapshotIn("driver", dir, versionAsOf)
    val j = snapshotIn("frame", dir, versionAsOf)
    assert(j.version === d.version)
    assert(j.protocol === d.protocol)
    assert(j.metadata === d.metadata)
    assert(j.transactions === d.transactions)
    assert(j.files.sortBy(_.path) === d.files.sortBy(_.path))
  }

  test("job replay matches driver replay across appends, DML, DV delete, OPTIMIZE, txn, checkpoint") {
    val dir = tmpDir()
    // partitioned history with a NULL partition value in the mix
    DeltaWriter.write(
      Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", null)).toDF("id", "s", "p"),
      dir, SaveMode.Append, Seq("p"))
    DeltaWriter.write(Seq((4, "d", "p1"), (5, "e", "p3")).toDF("id", "s", "p"),
      dir, SaveMode.Append, Nil)
    // copy-on-write DML: remove+add in one commit
    DeltaDml.delete(spark, dir, "id = 2")
    DeltaDml.update(spark, dir, "id = 1", Map("s" -> "'A'"))
    // SetTransaction: job path must surface it for idempotence checks
    DeltaWriter.write(Seq((6, "f", "p2")).toDF("id", "s", "p"),
      dir, SaveMode.Append, Nil, txn = Some(("recon-app", 7L)))
    // checkpoint mid-history, then MORE commits so the tail exercises the
    // JSON side: a DV delete (remove+add of the SAME path in one commit —
    // the in-commit ordering tie-break) and a dataChange=false OPTIMIZE
    val cpV = DeltaLog.snapshot(spark, dir).version
    DeltaWriter.writeCheckpoint(spark, dir, cpV)
    DeltaDml.deleteWithDv(spark, dir, "id = 4")
    DeltaWriter.write(Seq((7, "g", "p1"), (8, "h", "p1")).toDF("id", "s", "p"),
      dir, SaveMode.Append, Nil)
    DeltaMaintenance.optimize(spark, dir, 128L << 20)

    assertSameSnapshot(dir)
    // time travel both before and after the checkpoint boundary
    assertSameSnapshot(dir, versionAsOf = Some(2L))
    assertSameSnapshot(dir, versionAsOf = Some(cpV + 1))

    // the job-path snapshot actually reads correctly end-to-end
    val rows = withPlane("frame") {
      DeltaTable.read(spark, dir).select("id").as[Int].collect().sorted.toSeq
    }
    assert(rows === Seq(1, 3, 5, 6, 7, 8))
  }

  test("a corrupt commit-JSON line fails the job replay LOUDLY (parity with the driver path)") {
    val dir = tmpDir()
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    DeltaWriter.write(Seq((3L, "c")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    // truncated object-store write: the last line of the newest commit is
    // cut mid-object — PERMISSIVE parsing would null-struct it and the
    // action filters would silently DROP the action (a live file or
    // metadata update vanishing only past the job-plane cutover)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commit = new org.apache.hadoop.fs.Path(dir,
      "_delta_log/00000000000000000001.json")
    val in = fs.open(commit)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val out = fs.create(commit, true)
    try out.write((content + "\n" + """{"add":{"path":"trunc""").getBytes("UTF-8"))
    finally out.close()
    val e = intercept[Exception] { snapshotIn("frame", dir) }
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ").toLowerCase
    assert(chain.contains("malformed") || chain.contains("parse") || chain.contains("json"),
      s"expected a loud parse failure, got: $chain")
    // the driver path fails on the same log too — behavior must not
    // diverge on table size
    intercept[Exception] { snapshotIn("driver", dir) }
  }

  test("job replay handles a checkpoint-only log (no tail commits)") {
    val dir = tmpDir()
    DeltaWriter.write((1 to 20).toDF("id"), dir, SaveMode.Append, Nil)
    DeltaWriter.write((21 to 40).toDF("id"), dir, SaveMode.Append, Nil)
    val v = DeltaLog.snapshot(spark, dir).version
    DeltaWriter.writeCheckpoint(spark, dir, v)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0L to v).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, f"_delta_log/$n%020d.json"), false)
    }
    assertSameSnapshot(dir)
    assert(snapshotIn("frame", dir).files.nonEmpty)
  }

  test("v2 sidecar checkpoints replay identically through the job path") {
    val dir = tmpDir()
    DeltaWriter.write(Seq((1, "x")).toDF("id", "s"), dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpointPolicy' = 'v2', 'delta.checkpoint.partSize' = '2')")
    (2 to 8).foreach { i =>
      DeltaWriter.write(Seq((i, s"v$i")).toDF("id", "s").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    val v = DeltaLog.snapshot(spark, dir).version
    DeltaWriter.writeCheckpoint(spark, dir, v)
    DeltaWriter.write(Seq((9, "tail")).toDF("id", "s"), dir, SaveMode.Append, Nil)
    assertSameSnapshot(dir)
  }

  test("foreign stats_parsed checkpoints keep stats through the job path") {
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    DeltaWriter.write((1 to 10).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    DeltaWriter.write((100 to 110).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    DeltaWriter.writeCheckpoint(spark, dir, 1L)
    val cpPath = new org.apache.hadoop.fs.Path(
      dir, "_delta_log/00000000000000000001.checkpoint.parquet")
    val fs = cpPath.getFileSystem(spark.sessionState.newHadoopConf())
    val statsSchema = StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", StructType(Seq(
        StructField("id", IntegerType), StructField("s", StringType)))),
      StructField("maxValues", StructType(Seq(
        StructField("id", IntegerType), StructField("s", StringType)))),
      StructField("nullCount", StructType(Seq(
        StructField("id", LongType), StructField("s", LongType))))))
    val cp = spark.read.parquet(cpPath.toString)
    val foreignAdd = struct(
      col("add.path").as("path"),
      col("add.partitionValues").as("partitionValues"),
      col("add.size").as("size"),
      col("add.modificationTime").as("modificationTime"),
      col("add.dataChange").as("dataChange"),
      from_json(col("add.stats"), statsSchema).as("stats_parsed"))
    val rewritten = cp.withColumn("add", when(col("add").isNotNull, foreignAdd))
    val tmp = new org.apache.hadoop.fs.Path(dir, "_cp-foreign")
    rewritten.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.delete(cpPath, false) && fs.rename(part, cpPath))
    fs.delete(tmp, true)
    (0 to 1).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, f"_delta_log/$v%020d.json"), false)
    }
    val snap = snapshotIn("frame", dir)
    assert(snap.files.size === 2)
    assert(snap.files.forall(_.stats.nonEmpty),
      "stats_parsed must re-serialize executor-side (to_json)")
    // skipping still prunes on the re-serialized stats
    val minIds = snap.files.flatMap(_.stats).map { s =>
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(s).get("minValues").get("id").asInt()
    }.sorted
    assert(minIds === Seq(1, 100))
  }

  test("auto mode cuts over past the threshold and the snapshot is unchanged") {
    val dir = tmpDir()
    // 12 single-file commits -> checkpoint at v9 (cadence 10) records
    // ~12 rows in _last_checkpoint; threshold 5 routes auto to the job path
    (1 to 12).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "s").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    val driver = snapshotIn("driver", dir)
    withThreshold(5) {
      val auto = DeltaLog.snapshot(spark, dir) // auto mode
      assert(auto.version === driver.version)
      assert(auto.files.sortBy(_.path) === driver.files.sortBy(_.path))
      assert(auto.metadata === driver.metadata)
    }
  }

  test("pre-checkpoint bulk load routes to the job path on tail-commit bytes") {
    val dir = tmpDir()
    // 3 commits, NO checkpoint yet (cadence 10): the checkpoint-estimate
    // signal cannot fire, so the cutover must come from the tail-commit
    // JSON byte signal alone — the bulk-load-before-first-checkpoint case
    (1 to 3).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i" * 50)).toDF("id", "s").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    assert(!new java.io.File(s"$dir/_delta_log/_last_checkpoint").exists())
    val driver = snapshotIn("driver", dir)
    withThreshold(1) { // tail bytes/512 > 1
      val before = DeltaLog.jobReplays.get()
      val auto = DeltaLog.snapshot(spark, dir) // auto mode
      assert(DeltaLog.jobReplays.get() === before + 1,
        "auto mode did not route the pre-checkpoint snapshot to the job plane")
      assert(auto.version === driver.version)
      assert(auto.files.sortBy(_.path) === driver.files.sortBy(_.path))
      assert(auto.metadata === driver.metadata)
    }

    // and a small table (threshold restored) still takes the driver plane
    val before = DeltaLog.jobReplays.get()
    DeltaLog.snapshot(spark, dir)
    assert(DeltaLog.jobReplays.get() === before,
      "small pre-checkpoint table must not pay a Spark job for its snapshot")
  }

  // ---- deferred-scan plane (DeltaLog.scanSnapshot + DeferredDeltaFiles):
  // the live set stays a distributed frame; listFiles prunes executor-side

  test("deferred scan returns results identical to the eager path (filtered, unfiltered, time travel)") {
    val dir = tmpDir()
    DeltaWriter.write(
      (1 to 40).map(i => (i.toLong, s"s$i", s"p${i % 3}")).toDF("id", "s", "p"),
      dir, SaveMode.Append, Seq("p"))
    DeltaWriter.write(
      (41 to 60).map(i => (i.toLong, s"s$i", s"p${i % 3}")).toDF("id", "s", "p"),
      dir, SaveMode.Append, Nil)
    DeltaDml.delete(spark, dir, "id = 7")
    def readAll(versionAsOf: Option[Long]) = {
      val r = versionAsOf.foldLeft(spark.read.format("delta")) {
        (r, v) => r.option("versionAsOf", v)
      }
      r.load(dir)
    }
    Seq(None, Some(1L)).foreach { v =>
      val eager = readAll(v).orderBy("id").collect().map(_.toString).toSeq
      val before = DeltaLog.deferredScans.get()
      val (deferredRows, filteredRows) = withPlane("frame") {
        (readAll(v).orderBy("id").collect().map(_.toString).toSeq,
          // pushed partition + stats filters ride the deferred plane
          readAll(v).filter("p = 'p1' AND id <= 20").orderBy("id")
            .collect().map(_.toString).toSeq)
      }
      assert(DeltaLog.deferredScans.get() > before,
        "scanSnapshot did not take the deferred plane under 'always'")
      assert(deferredRows === eager)
      val expectFiltered = eager.filter { s =>
        val id = s.drop(1).takeWhile(_ != ',').toLong
        id <= 20 && id % 3 == 1
      }
      assert(filteredRows === expectFiltered)
    }
  }

  test("deferred pruning handles NULL partition values (executor-side UDF edge)") {
    // a null hive-partition value rides partitionValues as a null map
    // entry; the ScanPruner UDF must keep/drop such files exactly like the
    // driver-side index — a null mishandled executor-side would silently
    // vanish rows only past the deferral cutover
    val dir = tmpDir()
    DeltaWriter.write(
      Seq((1, "a", "p1"), (2, "b", null), (3, "c", "p2"), (4, "d", null))
        .toDF("id", "s", "p"),
      dir, SaveMode.Append, Seq("p"))
    val eagerNull = spark.read.format("delta").load(dir)
      .filter("p IS NULL").select("id").as[Int].collect().sorted.toSeq
    val eagerP1 = spark.read.format("delta").load(dir)
      .filter("p = 'p1'").select("id").as[Int].collect().sorted.toSeq
    assert(eagerNull === Seq(2, 4) && eagerP1 === Seq(1))
    withPlane("frame") {
      assert(spark.read.format("delta").load(dir)
        .filter("p IS NULL").select("id").as[Int].collect().sorted.toSeq === eagerNull)
      assert(spark.read.format("delta").load(dir)
        .filter("p = 'p1'").select("id").as[Int].collect().sorted.toSeq === eagerP1)
      assert(spark.read.format("delta").load(dir).count() === 4)
    }
  }

  test("deferred listFiles materializes only surviving file descriptors") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.unsafe.types.UTF8String
    val dir = tmpDir()
    // 8 single-file commits with DISJOINT id ranges (stats prune cleanly),
    // partitioned two ways
    (0 until 8).foreach { c =>
      DeltaWriter.write(
        (c * 100 until c * 100 + 10).map(i => (i.toLong, s"p${c % 2}"))
          .toDF("id", "p").coalesce(1),
        dir, SaveMode.Append, if (c == 0) Seq("p") else Nil)
    }
    withPlane("frame") {
      val (snap, deferred) = DeltaLog.scanSnapshot(spark, dir)
      assert(deferred.isDefined, "plain table must defer under 'always'")
      assert(snap.files.isEmpty, "deferred snapshot must not materialize files")
      val index = new graft.sources.delta.DeltaFileIndex(spark, snap, deferred)
      // stats filter: id = 305 lives in exactly one file
      val idAttr = AttributeReference("id", LongType)()
      val statsPruned = index.listFiles(Nil, Seq(EqualTo(idAttr, Literal(305L))))
      assert(statsPruned.map(_.files.length).sum === 1,
        s"expected 1 surviving file, got $statsPruned")
      // partition filter: only p0 files survive
      val pAttr = AttributeReference("p",
        org.apache.spark.sql.types.StringType)()
      val partPruned = index.listFiles(
        Seq(EqualTo(pAttr, Literal(UTF8String.fromString("p0"),
          org.apache.spark.sql.types.StringType))), Nil)
      assert(partPruned.map(_.files.length).sum === 4)
      // unfiltered: the full-table path still enumerates everything
      assert(index.listFiles(Nil, Nil).map(_.files.length).sum === 8)
      // metadata aggregates run distributed, never a collect
      assert(deferred.get.fileCount === 8L)
      assert(deferred.get.totalBytes > 0L)
    }
  }

  test("deferred scan covers DV-bearing and column-mapped tables (DV adds only reach the driver)") {
    val dvDir = tmpDir()
    DeltaWriter.write((1 to 30).map(i => (i, s"x$i")).toDF("id", "s")
      .repartition(4), dvDir, SaveMode.Append, Nil)
    DeltaDml.deleteWithDv(spark, dvDir, "id = 3")
    val mapDir = tmpDir()
    DeltaWriter.write((1 to 10).map(i => (i, s"x$i")).toDF("id", "s"),
      mapDir, SaveMode.Append, Nil)
    graft.sources.delta.DeltaSchema.renameColumn(spark, mapDir, "s", "label")
    withPlane("frame") {
      val (dvSnap, dvDeferred) = DeltaLog.scanSnapshot(spark, dvDir)
      assert(dvDeferred.isDefined, "DV tables defer too since r17")
      // the snapshot materializes ONLY the DV-carrying adds (the scan
      // format's dvByPath input) — never the whole live set
      assert(dvSnap.files.nonEmpty &&
        dvSnap.files.forall(_.deletionVector.isDefined))
      assert(dvSnap.files.size < dvDeferred.get.fileCount,
        "non-DV adds must stay deferred")
      // ... and the read applies the DV through the deferred plane
      assert(spark.read.format("delta").load(dvDir).count() === 29)
      assert(spark.read.format("delta").load(dvDir)
        .filter("id <= 5").select("id").as[Int].collect().sorted.toSeq ===
        Seq(1, 2, 4, 5))
      val (mapSnap, mapDeferred) = DeltaLog.scanSnapshot(spark, mapDir)
      assert(mapDeferred.isDefined,
        "column mapping is schema metadata — it defers too")
      assert(mapSnap.files.isEmpty, "no DVs -> nothing materialized")
      val mapped = spark.read.format("delta").load(mapDir)
      assert(mapped.columns.contains("label"))
      assert(mapped.filter("id = 7").select("label").as[String].head() === "x7")
    }
    // a driver pin routes the scan path through the driver replay too
    // (no job, no deferred handle)
    withPlane("driver") {
      val jobsBefore = DeltaLog.jobReplays.get()
      val (snap, deferred) = DeltaLog.scanSnapshot(spark, dvDir)
      assert(deferred.isEmpty && snap.files.nonEmpty)
      assert(DeltaLog.jobReplays.get() === jobsBefore,
        "driver-plane pin must govern the scan path too")
    }
  }

  test("deferred scans replay CHECKPOINTED state (classic and v2 sidecars)") {
    // the probes and the other deferred tests exercise JSON-only logs; a
    // 10M-file table in practice replays mostly out of its checkpoint —
    // the deferred plane must prune/collect out of checkpoint parquet
    // (and v2 sidecars) exactly like it does out of the JSON tail
    Seq(
      "classic" -> "",
      "v2_sidecar" ->
        ", 'delta.checkpointPolicy'='v2', 'delta.checkpoint.partSize'='3'"
    ).foreach { case (tag, extraProps) =>
      val dir = tmpDir()
      DeltaWriter.write(Seq((0L, "seed")).toDF("id", "s").coalesce(1),
        dir, SaveMode.Append, Nil)
      spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
        s"('delta.appendOnly'='false'$extraProps)")
      // disjoint id ranges per commit, checkpoint mid-history, JSON tail on top
      (1 to 9).foreach { c =>
        DeltaWriter.write(
          (c * 100L until c * 100L + 5).map(i => (i, s"r$i")).toDF("id", "s")
            .coalesce(1),
          dir, SaveMode.Append, Nil)
      }
      val cpV = DeltaLog.snapshot(spark, dir).version
      DeltaWriter.writeCheckpoint(spark, dir, cpV)
      DeltaWriter.write(
        (1000L until 1005L).map(i => (i, s"t$i")).toDF("id", "s").coalesce(1),
        dir, SaveMode.Append, Nil)
      val eager = spark.read.format("delta").load(dir)
        .orderBy("id").collect().map(_.toString).toSeq
      withPlane("frame") {
        val got = spark.read.format("delta").load(dir)
          .orderBy("id").collect().map(_.toString).toSeq
        assert(got === eager, s"[$tag]")
        // pruned collect out of the CHECKPOINT side: id=302 predates the
        // checkpoint, so its descriptor lives in checkpoint parquet (or a
        // sidecar), not the JSON tail
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
        val (snap, deferred) = DeltaLog.scanSnapshot(spark, dir)
        assert(deferred.isDefined, s"[$tag]")
        val index = new graft.sources.delta.DeltaFileIndex(spark, snap, deferred)
        val pruned = index.listFiles(Nil, Seq(EqualTo(
          AttributeReference("id", org.apache.spark.sql.types.LongType)(),
          Literal(302L))))
        assert(pruned.map(_.files.length).sum === 1,
          s"[$tag] expected the one checkpoint-side survivor, got $pruned")
        // ... and out of the JSON tail in the same replay
        val tailPruned = index.listFiles(Nil, Seq(EqualTo(
          AttributeReference("id", org.apache.spark.sql.types.LongType)(),
          Literal(1002L))))
        assert(tailPruned.map(_.files.length).sum === 1, s"[$tag]")
      }
    }
  }

  // ---- deferred DML/OPTIMIZE plane (r18): candidate-finding routes
  // through DeferredDeltaFiles, commit loops re-read metadata-only and
  // validate via the incremental conflict rule — the full DML lifecycle
  // must be byte-equivalent to the eager plane.

  test("DELETE/UPDATE/DV-delete/MERGE/OPTIMIZE/replaceWhere on the deferred plane match the eager plane") {
    import graft.sources.delta.DeltaMerge
    def lifecycle(mode: String): (Seq[String], Long) = {
      val dir = tmpDir()
      withPlane(mode) {
        DeltaWriter.write(
          (1 to 100).map(i => (i.toLong, s"s$i", i * 1.0)).toDF("id", "s", "v")
            .repartition(4),
          dir, SaveMode.Append, Nil)
        DeltaWriter.write(
          (101 to 200).map(i => (i.toLong, s"s$i", i * 1.0)).toDF("id", "s", "v")
            .repartition(4),
          dir, SaveMode.Append, Nil)
        val del = DeltaDml.delete(spark, dir, "id % 10 = 3")
        assert(del.rowsAffected === 20, s"[$mode]")
        val upd = DeltaDml.update(spark, dir, "id % 10 = 4", Map("v" -> "v + 0.5"))
        assert(upd.rowsAffected === 20, s"[$mode]")
        val dv = DeltaDml.deleteWithDv(spark, dir, "id % 10 = 5")
        assert(dv.rowsAffected === 20, s"[$mode]")
        val m = DeltaMerge.merge(spark, dir,
          (195 to 210).map(i => (i.toLong, s"m$i", -1.0)).toDF("id", "s", "v"),
          "t.id = s.id",
          matchedUpdate = Some(Map("s" -> "s.s", "v" -> "s.v")),
          notMatchedInsert = Some(Map("id" -> "s.id", "s" -> "s.s", "v" -> "s.v")))
        // 195 was DV-deleted above, so it re-inserts alongside 201..210
        assert(m.rowsInserted === 11, s"[$mode]")
        DeltaMaintenance.replaceWhere(spark, dir,
          Seq((7L, "rw", 7.5)).toDF("id", "s", "v"), "id <= 10")
        val opt = DeltaMaintenance.optimize(spark, dir, targetFileBytes = 128L << 20)
        assert(opt.filesRemoved > 0, s"[$mode] compaction found no candidates")
        val rows = spark.read.format("delta").load(dir)
          .orderBy("id").collect().map(_.toString).toSeq
        (rows, DeltaLog.snapshot(spark, dir).version)
      }
    }
    val (eagerRows, eagerV) = lifecycle("driver")
    val before = DeltaLog.deferredScans.get()
    val (deferredRows, deferredV) = lifecycle("frame")
    assert(DeltaLog.deferredScans.get() > before,
      "the lifecycle never exercised the deferred plane")
    assert(deferredRows === eagerRows)
    assert(deferredV === eagerV,
      "both planes must commit the same number of versions")
  }

  test("deferred commit loop: a disjoint blind append proceeds; a concurrent rewrite of a touched file aborts") {
    val dir = tmpDir()
    // two files with disjoint ids, so DMLs can touch them independently
    DeltaWriter.write((1 to 10).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    DeltaWriter.write((11 to 20).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    withPlane("frame") {
      // blind append racing the DELETE: WriteSerializable exempts it —
      // the incremental rule must NOT abort on it (fleet-scale liveness)
      val m = DeltaDml.delete(spark, dir, "id = 1", () => {
        DeltaWriter.write(Seq((999, "zz")).toDF("id", "s"), dir, SaveMode.Append, Nil)
      })
      assert(m.rowsAffected === 1)
      val ids = spark.read.format("delta").load(dir)
        .select("id").as[Int].collect().sorted.toSeq
      assert(!ids.contains(1) && ids.contains(999))
      // a concurrent DML that rewrites THIS transaction's touched file
      // must abort (the incremental rule: an action on a touched path in
      // the intervening range)
      intercept[java.util.ConcurrentModificationException] {
        DeltaDml.delete(spark, dir, "id = 2", () => {
          DeltaDml.delete(spark, dir, "id = 3") // same file as id=2
        })
      }
    }
  }

  test("deferred materialization survives log cleanup via re-resolve at the pinned version") {
    import graft.sources.delta.SnapshotCache
    val dir = tmpDir()
    (0 until 3).foreach { c =>
      DeltaWriter.write(
        (c * 10 until c * 10 + 10).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    try withPlane("frame") {
      SnapshotCache.clear()
      val (snap, deferred) = DeltaLog.scanSnapshot(spark, dir)
      assert(deferred.isDefined)
      // log cleanup races the long-lived relation: a checkpoint covers the
      // pinned version, then the captured commit JSONs are retired —
      // the deferred plane must re-resolve instead of failing the scan
      // (the eager path, which collected at snapshot time, never saw this
      // window — r17 ADVICE)
      DeltaWriter.writeCheckpoint(spark, dir, snap.version)
      (0L to snap.version).foreach { v =>
        val f = new java.io.File(s"$dir/_delta_log/" + f"$v%020d.json")
        assert(f.delete(), s"could not retire $f")
      }
      val all = deferred.get.all
      assert(all.size === 3)
      // and the recovered frame serves a real pruned read
      assert(spark.read.format("delta").load(dir).count() === 30)
    } finally SnapshotCache.clear()
  }

  test("ordered pacing plane survives log cleanup via re-resolve at the pinned version") {
    import graft.sources.delta.SnapshotCache
    val dir = tmpDir()
    (0 until 3).foreach { c =>
      DeltaWriter.write(
        (c * 10 until c * 10 + 10).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    try withPlane("frame") {
      SnapshotCache.clear()
      val (snap, deferred) = DeltaLog.scanSnapshot(spark, dir)
      val d = deferred.getOrElse(fail("expected the deferred plane"))
      val first = d.orderedSlice(0, 1) // builds + persists the index
      assert(first.size === 1)
      // checkpoint covers the pinned version, the commit JSONs retire, AND
      // the persisted frame/index blocks are dropped — the next slice's
      // recompute hits the retired files and must re-resolve, not fail the
      // stream (same contract the scan plane pins above)
      graft.sources.delta.DeltaWriter.writeCheckpoint(spark, dir, snap.version)
      (0L to snap.version).foreach { v =>
        val f = new java.io.File(s"$dir/_delta_log/" + f"$v%020d.json")
        assert(f.delete(), s"could not retire $f")
      }
      spark.catalog.clearCache()
      assert(d.orderedCount === 3L)
      val all = d.orderedSlice(0, 3)
      assert(all.map(_.path) === all.map(_.path).sorted, "path rank preserved")
      assert(all.head.path === first.head.path,
        "the recovered index ranks the same file first")
    } finally SnapshotCache.clear()
  }

  test("v2 checkpoint integrity gates fire AT scanSnapshot, not mid-query") {
    import graft.sources.delta.SnapshotCache
    val dir = tmpDir()
    DeltaWriter.write(Seq((1, "a")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.checkpointPolicy' = 'v2')")
    DeltaWriter.write(Seq((2, "b")).toDF("id", "s").coalesce(1),
      dir, SaveMode.Append, Nil)
    val v = DeltaLog.snapshot(spark, dir).version
    DeltaWriter.writeCheckpoint(spark, dir, v)
    // misplace the v2 checkpoint: a file NAMED v-1 that DECLARES v — the
    // corruption the declared-version gate exists for
    val logDir = new java.io.File(s"$dir/_delta_log")
    val cp = logDir.listFiles().find(_.getName.matches(s"0*$v\\.checkpoint\\..*\\.parquet"))
      .getOrElse(fail("no v2 checkpoint written"))
    val renamed = new java.io.File(logDir,
      cp.getName.replace(f"$v%020d", f"${v - 1}%020d"))
    assert(cp.renameTo(renamed))
    try withPlane("frame") {
      SnapshotCache.clear()
      // the gate must fire HERE — at snapshot construction, like the eager
      // replay — not lazily at the first listFiles (r17 ADVICE: a corrupt
      // v2 checkpoint surfacing mid-query, or never for metadata-only use)
      val e = intercept[IllegalStateException] {
        DeltaLog.scanSnapshot(spark, dir, versionAsOf = Some(v - 1))
      }
      assert(e.getMessage.contains("declares version"))
    } finally SnapshotCache.clear()
  }

  test("a non-serializable pushed filter falls back to driver-side pruning (never fails the scan)") {
    import graft.sources.delta.{DeltaFileIndex, ScanPruner}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, LeafExpression, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.types.{BooleanType, LongType}
    // an Expression whose tree does NOT java-serialize (poison field) —
    // the failure mode the r17 ADVICE flagged: the eager driver-side
    // evaluation never serialized filters, the deferred plane ships them
    // in the collect closure
    case class NonSerializablePredicate() extends LeafExpression with CodegenFallback {
      private val poison = new Object
      override def dataType = BooleanType
      override def nullable = false
      override def eval(input: InternalRow): Any = { val _ = poison; true }
    }
    val dir = tmpDir()
    (0 until 3).foreach { c =>
      DeltaWriter.write(
        (c * 100L until c * 100L + 10).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    withPlane("frame") {
      val (snap, deferred) = DeltaLog.scanSnapshot(spark, dir)
      assert(deferred.isDefined)
      // a normal stats filter AND the poison predicate together: the
      // executor-side prune cannot ship, so the fallback must evaluate
      // BOTH driver-side — same survivors as the poison-free prune
      val statsFilter = EqualTo(AttributeReference("id", LongType)(), Literal(105L))
      val withPoison = ScanPruner(Nil, Seq(statsFilter, NonSerializablePredicate()),
        snap.partitionSchema, snap.dataSchema, snap.metadata.physicalNames)
      val got = deferred.get.collect(Some(withPoison)).map(_.path).sorted
      val clean = ScanPruner(Nil, Seq(statsFilter),
        snap.partitionSchema, snap.dataSchema, snap.metadata.physicalNames)
      val expected = deferred.get.collect(Some(clean)).map(_.path).sorted
      assert(got === expected)
      assert(got.size === 1, "stats skipping must still prune to the one file")
    }
  }

  test("snapshot frame cache: reuse at one version, invalidation on commit AND on table recreation") {
    import graft.sources.delta.SnapshotCache
    val dir = tmpDir()
    DeltaWriter.write((1 to 30).map(i => (i, s"x$i")).toDF("id", "s"),
      dir, SaveMode.Append, Nil)
    try withPlane("frame") {
      SnapshotCache.clear()
      assert(spark.read.format("delta").load(dir).count() === 30)
      val h1 = SnapshotCache.frameHits.get()
      assert(spark.read.format("delta").load(dir).filter("id <= 5").count() === 5)
      assert(SnapshotCache.frameHits.get() > h1,
        "second scan at the same version must reuse the cached frame")
      // a commit advances the version: the next scan must NOT be served
      // the stale frame. (It MAY still be a cache hit — the post-commit
      // checksum writer snapshots the new version and warms the cache for
      // it, by design — so the pin is on the DATA, not hit accounting.)
      DeltaWriter.write(Seq((31, "y")).toDF("id", "s"), dir, SaveMode.Append, Nil)
      assert(spark.read.format("delta").load(dir).count() === 31,
        "post-commit scan served a stale cached frame")
      // table recreated at the same path reuses version numbers — the
      // replay-input fingerprint must reject the stale entry
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      DeltaWriter.write(
        (1 to 12).map(i => (i, s"recreated-$i-with-longer-rows")).toDF("id", "s"),
        dir, SaveMode.Append, Nil)
      DeltaWriter.write(Seq((13, "tail")).toDF("id", "s"), dir, SaveMode.Append, Nil)
      assert(spark.read.format("delta").load(dir).count() === 13,
        "recreated table served the DELETED table's cached frame")
    } finally SnapshotCache.clear()
  }

  // ---- the plane selector: one session conf, read per call

  test("a second eager frame-plane snapshot at one version is served by the cached frame") {
    import graft.sources.delta.SnapshotCache
    val dir = tmpDir()
    DeltaWriter.write((1 to 30).map(i => (i, s"x$i")).toDF("id", "s").repartition(3),
      dir, SaveMode.Append, Nil)
    try withPlane("frame") {
      SnapshotCache.clear()
      val first = DeltaLog.snapshot(spark, dir)
      val hits = SnapshotCache.frameHits.get()
      val second = DeltaLog.snapshot(spark, dir)
      assert(SnapshotCache.frameHits.get() === hits + 1,
        "the second snapshot must collect the cached frame, not replay again")
      assert(second.version === first.version)
      assert(second.files === first.files)
    } finally SnapshotCache.clear()
  }

  test("the plane conf is per session: a new session's pin leaves the root session alone") {
    val dir = tmpDir()
    DeltaWriter.write((1 to 10).map(i => (i, s"x$i")).toDF("id", "s"),
      dir, SaveMode.Append, Nil)
    val other = spark.newSession()
    withPlane("frame", other) {
      val jobs = DeltaLog.jobReplays.get()
      val viaFrame = DeltaLog.snapshot(other, dir)
      assert(DeltaLog.jobReplays.get() === jobs + 1,
        "the pinned session must take the frame plane")
      val viaDriver = DeltaLog.snapshot(spark, dir)
      assert(DeltaLog.jobReplays.get() === jobs + 1,
        "the root session must stay on the driver plane for a small table")
      assert(viaFrame.files.sortBy(_.path) === viaDriver.files.sortBy(_.path))
    }
  }

  test("an unknown plane value fails naming the conf key and the legal values") {
    val dir = tmpDir()
    DeltaWriter.write(Seq((1, "a")).toDF("id", "s"), dir, SaveMode.Append, Nil)
    val e = intercept[IllegalArgumentException] {
      withPlane("eager")(DeltaLog.snapshot(spark, dir))
    }
    Seq(DeltaLog.SnapshotPlaneKey, "eager", "auto", "driver", "frame").foreach { w =>
      assert(e.getMessage.contains(w), e.getMessage)
    }
  }
}
