package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{DeltaDml, DeltaTable, DeltaWriter}

/** `spark.readStream.format("delta")` — the streaming SOURCE driven
  * through the public API (offsets are log versions; each micro-batch is
  * a version range):
  *  - plain mode: exactly-once row delivery across appends;
  *  - `.option("readChangeFeed", "true")`: row-level CDF batches with
  *    `_change_type` / `_commit_version` / `_commit_timestamp`. */
class DeltaStreamSourceSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("readStream over a delta table delivers appended rows exactly once") {
    val dir = TestSpark.tempDir("graft-stream-src")
    DeltaWriter.write(Seq((1, "a"), (2, "b")).toDF("id", "name"),
      dir, SaveMode.Append, Nil)
    val q = spark.readStream.format("delta").load(dir)
      .writeStream.format("memory").queryName("dss_plain")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("dss_plain").count() === 2)
      DeltaWriter.write(Seq((3, "c")).toDF("id", "name"), dir, SaveMode.Append, Nil)
      q.processAllAvailable()
      val got = spark.table("dss_plain").orderBy("id").collect()
      assert(got.map(_.getInt(0)).toSeq === Seq(1, 2, 3), "each row exactly once")
    } finally q.stop()
  }

  test("fresh stream on a history WITH deletes serves the current snapshot, not a broken replay") {
    val dir = TestSpark.tempDir("graft-stream-del")
    DeltaWriter.write((1 to 6).map(i => (i, s"r$i")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                  // v0
    DeltaDml.delete(spark, dir, "id <= 2")        // v1: data-change remove
    DeltaWriter.write(Seq((7, "r7")).toDF("id", "name"), dir, SaveMode.Append, Nil) // v2
    // a per-version replay from genesis would either FAIL on the v1
    // remove or (with ignoreDataChangeRemoves) serve rows 1-2 that were
    // deleted before the stream started — the first batch must be the
    // CURRENT snapshot
    val q = spark.readStream.format("delta").load(dir)
      .writeStream.format("memory").queryName("dss_del")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-del-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("dss_del").orderBy("id").collect().map(_.getInt(0)).toSeq
        === Seq(3, 4, 5, 6, 7))
      DeltaWriter.write(Seq((8, "r8")).toDF("id", "name"), dir, SaveMode.Append, Nil)
      q.processAllAvailable()
      assert(spark.table("dss_del").count() === 6, "the tail still streams")
    } finally q.stop()
  }

  test("rate limits pace the initial snapshot into file-sized batches, then the version cursor takes over") {
    val dir = TestSpark.tempDir("graft-stream-snaplimit")
    DeltaWriter.write((1 to 6).map(i => (i, s"r$i")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v0
    DeltaDml.delete(spark, dir, "id <= 2")          // v1: history not replayable
    DeltaWriter.write(Seq((7, "r7")).toDF("id", "name").coalesce(1), dir, SaveMode.Append, Nil) // v2
    DeltaWriter.write(Seq((8, "r8")).toDF("id", "name").coalesce(1), dir, SaveMode.Append, Nil) // v3
    // snapshot at v3 = 3 files (v1 rewrite + v2 + v3); maxFilesPerTrigger=1
    // must serve it in 3 one-file micro-batches, not one table-sized batch
    val q = spark.readStream.format("delta")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("dss_snaplimit")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-snaplimit-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("dss_snaplimit").orderBy("id").collect().map(_.getInt(0)).toSeq
        === Seq(3, 4, 5, 6, 7, 8), "snapshot content exact, each row once")
      val fed = q.recentProgress.filter(_.numInputRows > 0)
      assert(fed.length >= 3, s"expected >=3 paced batches, got ${fed.length}")
      assert(fed.forall(_.numInputRows <= 4),
        "no batch may carry the whole snapshot: " + fed.map(_.numInputRows).mkString(","))
      // commits after the drain flow through the ordinary version cursor
      DeltaWriter.write(Seq((9, "r9")).toDF("id", "name"), dir, SaveMode.Append, Nil)
      q.processAllAvailable()
      assert(spark.table("dss_snaplimit").count() === 7, "tail exactly once")
    } finally q.stop()
  }

  test("initial-snapshot offsets pin the version, pace by file, and survive serialized restart") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    import graft.sources.delta.{DeltaLog, DeltaStreamingSource}
    val dir = TestSpark.tempDir("graft-stream-snapoff")
    DeltaWriter.write((1 to 4).map(i => (i, s"r$i")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v0
    DeltaDml.delete(spark, dir, "id = 1")           // v1: snapshot mode
    DeltaWriter.write(Seq((5, "r5")).toDF("id", "name").coalesce(1), dir, SaveMode.Append, Nil) // v2
    val snap = DeltaLog.snapshot(spark, dir)        // 2 files
    assert(snap.files.length === 2 && snap.version === 2)
    val src = new DeltaStreamingSource(spark.sqlContext, dir, snap.schema,
      ignoreDataChangeRemoves = false, maxFilesPerTrigger = Some(1))
    val lim = ReadLimit.maxFiles(1)
    val o1 = src.latestOffset(null, lim)
    assert(o1.json === """{"snapshotVersion":2,"index":1}""", o1.json)
    // restart decode: the checkpointed JSON round-trips through SerializedOffset
    val o2 = src.latestOffset(SerializedOffset(o1.json), lim)
    assert(o2.json === "2", s"drained snapshot collapses to the version cursor: ${o2.json}")
    import org.apache.spark.sql.graft.GraftStreamingBridge.asBatch
    val rows1 = asBatch(src.getBatch(None, SerializedOffset(o1.json))).count()
    val rows2 = asBatch(
      src.getBatch(Some(SerializedOffset(o1.json)), SerializedOffset(o2.json))).count()
    assert(rows1 + rows2 === 4, s"slices partition the snapshot: $rows1 + $rows2")
    assert(rows1 > 0 && rows2 > 0, "both slices non-empty (one file each)")
    // post-drain the cursor is version-ranged: a new commit is one batch
    DeltaWriter.write(Seq((6, "r6")).toDF("id", "name"), dir, SaveMode.Append, Nil) // v3
    val o3 = src.latestOffset(SerializedOffset(o2.json), lim)
    assert(o3.json === "3")
    assert(asBatch(src.getBatch(Some(SerializedOffset(o2.json)), SerializedOffset(o3.json)))
      .count() === 1)
  }

  test("job-plane tables pace the initial snapshot through the DEFERRED ordered index") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    import graft.sources.delta.{DeltaLog, DeltaStreamingSource, OrderedSnapshotIndex}
    import org.apache.spark.sql.graft.GraftStreamingBridge.asBatch
    val dir = TestSpark.tempDir("graft-stream-defsnap")
    DeltaWriter.write((1 to 6).map(i => (i, s"r$i")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v0
    DeltaDml.delete(spark, dir, "id <= 2")          // v1: snapshot mode
    DeltaWriter.write(Seq((7, "r7")).toDF("id", "name").coalesce(1), dir, SaveMode.Append, Nil) // v2
    DeltaWriter.write(Seq((8, "r8")).toDF("id", "name").coalesce(1), dir, SaveMode.Append, Nil) // v3
    val schema = DeltaLog.snapshot(spark, dir).schema // 3 live files at v3
    withPlane("frame") {
      val builds0 = OrderedSnapshotIndex.builds.get()
      val src = new DeltaStreamingSource(spark.sqlContext, dir, schema,
        ignoreDataChangeRemoves = false, maxFilesPerTrigger = Some(1))
      val lim = ReadLimit.maxFiles(1)
      // same offset shape as the eager plane: the index must rank files in
      // path order exactly like the driver-held sorted list
      val o1 = src.latestOffset(null, lim)
      assert(o1.json === """{"snapshotVersion":3,"index":1}""", o1.json)
      val o2 = src.latestOffset(SerializedOffset(o1.json), lim)
      assert(o2.json === """{"snapshotVersion":3,"index":2}""", o2.json)
      val o3 = src.latestOffset(SerializedOffset(o2.json), lim)
      assert(o3.json === "3", s"drained snapshot collapses to the version cursor: ${o3.json}")
      val r1 = asBatch(src.getBatch(None, SerializedOffset(o1.json))).count()
      val r2 = asBatch(src.getBatch(Some(SerializedOffset(o1.json)),
        SerializedOffset(o2.json))).count()
      val r3 = asBatch(src.getBatch(Some(SerializedOffset(o2.json)),
        SerializedOffset(o3.json))).count()
      assert(r1 + r2 + r3 === 6, s"slices partition the snapshot: $r1+$r2+$r3")
      assert(r1 > 0 && r2 > 0 && r3 > 0, "three one-file slices")
      // the pacing plane was the distributed index, built ONCE for the
      // whole drain (memoized per version) — never the driver-held list
      assert(OrderedSnapshotIndex.builds.get() - builds0 === 1L,
        "deferred pacing must build exactly one ordered index")
    }
  }

  test("a mid-drain stream survives cache eviction with ONE index rebuild") {
    // the r18 ADVICE: unpersist() cleared the ordered index's blocks but
    // left orderedRef set, so an evicted mid-drain stream kept issuing
    // admit/slice jobs against an unpersisted plan — a silent full
    // re-plan per trigger that the builds counter can see (zero rebuilds
    // = the bug; one = the fix; per-trigger = a worse regression).
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    import graft.sources.delta.{DeltaLog, DeltaStreamingSource, OrderedSnapshotIndex, SnapshotCache}
    val dir = TestSpark.tempDir("graft-stream-evict")
    DeltaWriter.write((1 to 6).map(i => (i, s"r$i")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v0
    DeltaDml.delete(spark, dir, "id <= 2")          // v1: snapshot mode
    DeltaWriter.write(Seq((7, "r7")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v2
    DeltaWriter.write(Seq((8, "r8")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v3: 3 live files
    val schema = DeltaLog.snapshot(spark, dir).schema
    try withPlane("frame") {
      val src = new DeltaStreamingSource(spark.sqlContext, dir, schema,
        ignoreDataChangeRemoves = false, maxFilesPerTrigger = Some(1))
      val lim = ReadLimit.maxFiles(1)
      val o1 = src.latestOffset(null, lim)
      assert(o1.json === """{"snapshotVersion":3,"index":1}""", o1.json)
      val builds0 = OrderedSnapshotIndex.builds.get()
      // eviction mid-drain: the source still holds the (now-unpersisted)
      // DeferredDeltaFiles through its memoized slice plane
      SnapshotCache.clear()
      val o2 = src.latestOffset(SerializedOffset(o1.json), lim)
      val o3 = src.latestOffset(SerializedOffset(o2.json), lim)
      assert(o2.json === """{"snapshotVersion":3,"index":2}""", o2.json)
      assert(o3.json === "3", s"drain completes across the eviction: ${o3.json}")
      assert(OrderedSnapshotIndex.builds.get() - builds0 === 1L,
        "an evicted mid-drain stream must rebuild its index exactly ONCE " +
          "(zero = jobs against an unpersisted plan; more = rebuild per trigger)")
    } finally {
      SnapshotCache.clear()
    }
  }

  test("ordered-index triggers read ONLY the buckets their range touches (block skipping)") {
    // r18 verdict #4: each trigger's admission/slice used to filter the
    // WHOLE persisted index — O(files) cached-block reads per micro-batch
    // for the entire drain. The exact bucket layout makes the reads
    // partition-targeted; wall time can't pin that at test scale, so the
    // targetedJobs counter does. Bucket target shrunk to force a
    // multi-bucket layout over 6 files.
    import graft.sources.delta.{DeltaLog, OrderedSnapshotIndex, SnapshotCache}
    val dir = TestSpark.tempDir("graft-stream-buckets")
    DeltaWriter.write((1 to 12).map(i => (i, s"r$i")).toDF("id", "name")
      .repartition(6), dir, SaveMode.Append, Nil) // 6 live files
    try withPlane("frame")(OrderedSnapshotIndex.withTargetRowsPerBucket(2L) { // 6 files -> 3 buckets
      val (_, dOpt) = DeltaLog.scanSnapshot(spark, dir)
      val d = dOpt.getOrElse(fail("expected the deferred plane"))
      assert(d.orderedCount === 6L) // builds the index; count is summary-side
      val jobs0 = OrderedSnapshotIndex.targetedJobs.get()
      // file-capped admission is pure driver arithmetic — ZERO jobs
      assert(d.orderedAdmit(0, Some(2L), None) === 2L)
      assert(d.orderedAdmit(4, Some(10L), None) === 6L)
      assert(OrderedSnapshotIndex.targetedJobs.get() - jobs0 === 0L,
        "file-capped admissions must not launch any job")
      // a one-bucket slice costs exactly ONE targeted job
      val s1 = d.orderedSlice(0, 2)
      assert(s1.size === 2)
      assert(OrderedSnapshotIndex.targetedJobs.get() - jobs0 === 1L,
        "a single-bucket slice must be one targeted job")
      // byte-capped admission mid-drain: base lookup + straddler scan <= 2
      val jobs1 = OrderedSnapshotIndex.targetedJobs.get()
      assert(d.orderedAdmit(1, None, Some(1L)) === 2L,
        "a tiny byte cap still admits one file (progress guarantee)")
      assert(OrderedSnapshotIndex.targetedJobs.get() - jobs1 <= 2L,
        "byte-capped admission must touch at most two buckets")
      // the full drain still partitions the live set in path order
      val all = d.orderedSlice(0, 6).map(_.path)
      assert(all.size === 6 && all === all.sorted,
        s"slices must serve the path-ordered live set, got $all")
    }) finally {
      SnapshotCache.clear()
    }
  }

  test("deferred paced initial snapshot of a DV-bearing table anti-filters masked rows") {
    import graft.sources.delta.{DeltaLog, DeltaDml}
    // merge-on-read DELETE leaves the file in place with a deletion
    // vector: the paced slices must serve the file THROUGH the DV filter
    // on the deferred plane too (the slice relation's dv map comes from
    // the deferred snapshot's DV-adds-only `files`)
    val dir = TestSpark.tempDir("graft-stream-dvsnap")
    DeltaWriter.write((1 to 8).map(i => (i, s"r$i")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v0
    DeltaDml.deleteWithDv(spark, dir, "id <= 2")    // v1: DV, not rewrite
    DeltaWriter.write(Seq((9, "r9")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v2
    withPlane("frame") {
      val q = spark.readStream.format("delta")
        .option("maxFilesPerTrigger", "1").load(dir)
        .writeStream.format("memory").queryName("dss_dvsnap")
        .option("checkpointLocation",
          TestSpark.tempDir("graft-stream-dvsnap-ckpt"))
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("dss_dvsnap").orderBy("id").collect().map(_.getInt(0)).toSeq
          === (3 to 9), "DV-masked rows 1-2 must NOT stream")
      } finally q.stop()
    }
  }

  test("byte-cap admission walks identically on the eager and deferred pacing planes") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    import graft.sources.delta.{DeltaLog, DeltaStreamingSource}
    val dir = TestSpark.tempDir("graft-stream-bytepar")
    DeltaWriter.write((1 to 6).map(i => (i, s"row$i")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                    // v0
    DeltaDml.delete(spark, dir, "id = 1")           // v1: snapshot mode
    (7 to 9).foreach { i =>
      DeltaWriter.write(Seq((i, s"row$i")).toDF("id", "name").coalesce(1),
        dir, SaveMode.Append, Nil)                  // v2..v4
    }
    val snap = DeltaLog.snapshot(spark, dir)        // 4 live files
    val schema = snap.schema
    // cap below two files: every batch admits exactly one file on both
    // planes, and the cumBytes walk must agree with the driver walk
    val cap = snap.files.map(_.size).max
    def offsetsUnder(mode: String): Seq[String] = {
      withPlane(mode) {
        val src = new DeltaStreamingSource(spark.sqlContext, dir, schema,
          ignoreDataChangeRemoves = false, maxBytesPerTrigger = Some(cap))
        val lim = ReadLimit.maxBytes(cap)
        val out = Seq.newBuilder[String]
        var o = src.latestOffset(null, lim)
        out += o.json
        var guard = 0
        while (o.json.trim.startsWith("{") && guard < 10) {
          o = src.latestOffset(new SerializedOffset(o.json), lim)
          out += o.json
          guard += 1
        }
        out.result()
      }
    }
    val eager = offsetsUnder("driver")
    val deferred = offsetsUnder("frame")
    assert(deferred === eager,
      s"admission parity broken: eager=$eager deferred=$deferred")
    assert(eager.length >= 4, s"the cap must actually pace the drain: $eager")
  }

  test("a fresh stream over a LONG append-only history jumps to the snapshot, a short one replays") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.delta.{DeltaLog, DeltaStreamingSource}
    // the replayability probe is an O(history) driver parse paid before
    // the first batch; past RangeReplayableMaxCommits the snapshot jump
    // must be taken unconditionally — and latestOffset/getBatch must
    // AGREE (a disagreement here is duplicated or dropped rows). Shrink
    // the cap (seam) instead of writing 65 commits.
    val dir = TestSpark.tempDir("graft-stream-longhist")
    (0 until 6).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "name").coalesce(1),
        dir, SaveMode.Append, Nil)                  // v0..v5, append-only
    }
    val schema = graft.sources.delta.DeltaLog.snapshot(spark, dir).schema
    val lim = ReadLimit.maxFiles(1)
    def firstOffsetJson(cap: Int): String = {
      val before = DeltaLog.RangeReplayableMaxCommits
      DeltaLog.RangeReplayableMaxCommits = cap
      try new DeltaStreamingSource(spark.sqlContext, dir, schema,
        ignoreDataChangeRemoves = false, maxFilesPerTrigger = Some(1))
        .latestOffset(null, lim).json
      finally DeltaLog.RangeReplayableMaxCommits = before
    }
    // 6 commits > cap 5: snapshot branch (file-paced slice offsets)
    assert(firstOffsetJson(5) === """{"snapshotVersion":5,"index":1}""")
    // 6 commits <= cap 6: the per-version replay keeps its version cursor
    assert(firstOffsetJson(6) === "0", "short append-only history replays")
    // content parity: the capped stream drains to the same rows via a
    // real query (getBatch must take the same branch latestOffset did)
    val before = DeltaLog.RangeReplayableMaxCommits
    DeltaLog.RangeReplayableMaxCommits = 5
    try {
      val q = spark.readStream.format("delta")
        .option("maxFilesPerTrigger", "1").load(dir)
        .writeStream.format("memory").queryName("dss_longhist")
        .option("checkpointLocation",
          TestSpark.tempDir("graft-stream-longhist-ckpt"))
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("dss_longhist").orderBy("id").collect()
          .map(_.getInt(0)).toSeq === (0 until 6), "snapshot-jump rows exact")
      } finally q.stop()
    } finally DeltaLog.RangeReplayableMaxCommits = before
  }

  test("ordered-index admission matches the reference driver walk for every start and cap") {
    import graft.sources.delta.{DeltaAddFile, DeltaLog}
    val dir = TestSpark.tempDir("graft-stream-admitpar")
    // 10 single-file appends of varying row counts → varying file sizes
    (1 to 10).foreach { i =>
      DeltaWriter.write((1 to i * 7).map(j => (i * 100 + j, s"r$i-$j"))
        .toDF("id", "name").coalesce(1), dir, SaveMode.Append, Nil)
    }
    val files: IndexedSeq[DeltaAddFile] =
      DeltaLog.snapshot(spark, dir).files.sortBy(_.path).toIndexedSeq
    // reference implementation: the eager plane's driver walk (admit at
    // least one; stop at the first file that crosses a cap)
    def walk(from: Long, mf: Option[Long], mb: Option[Long]): Long = {
      val n = files.length.toLong
      var i = from; var f = 0L; var b = 0L; var open = true
      while (open && i < n) {
        val f2 = f + 1
        val b2 = b + files(i.toInt).size
        val within = mf.forall(f2 <= _) && mb.forall(b2 <= _)
        if (within || i == from) {
          i += 1; f = f2; b = b2
          if (!within) open = false
        } else open = false
      }
      i
    }
    withPlane("frame") {
      val (_, deferred) = DeltaLog.scanSnapshot(spark, dir)
      val d = deferred.getOrElse(fail("expected the deferred plane"))
      assert(d.orderedCount === files.length.toLong)
      val sizes = files.map(_.size)
      val caps: Seq[(Option[Long], Option[Long])] = Seq(
        (Some(1L), None), (Some(3L), None), (Some(100L), None),
        (None, Some(1L)),                       // below every file: one-at-a-time
        (None, Some(sizes.min)), (None, Some(sizes.max)),
        (None, Some(sizes.sum / 3)), (None, Some(sizes.sum)),
        (Some(2L), Some(sizes.max)), (Some(5L), Some(sizes.sum / 4)))
      for (from <- 0L until files.length.toLong; (mf, mb) <- caps) {
        val expected = walk(from, mf, mb)
        val got = d.orderedAdmit(from, mf, mb)
        assert(got === expected, s"admit(from=$from, maxFiles=$mf, maxBytes=$mb)")
      }
      // slices agree with the eager list file-for-file
      assert(d.orderedSlice(3, 7).map(_.path) === files.slice(3, 7).map(_.path))
      assert(d.orderedSlice(0, files.length.toLong).map(_.path) === files.map(_.path))
    }
  }

  test("rate-limited CDF initial snapshot: paced synthetic inserts pinned to one version, then row-level changes") {
    val dir = TestSpark.tempDir("graft-stream-cdflimit")
    DeltaWriter.write(Seq((1, "a"), (2, "b")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                                     // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")                     // v1
    DeltaWriter.write(Seq((3, "c")).toDF("id", "name").coalesce(1), dir, SaveMode.Append, Nil) // v2
    DeltaWriter.write(Seq((4, "d")).toDF("id", "name").coalesce(1), dir, SaveMode.Append, Nil) // v3
    // fresh CDF stream, no startingVersion: initial-snapshot contract,
    // SPLIT by maxFilesPerTrigger (3 snapshot files -> 3 paced batches),
    // every synthetic insert row pinned to the SNAPSHOT version
    val q = spark.readStream.format("delta")
      .option("readChangeFeed", "true")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("dss_cdflimit")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-cdflimit-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      val snap = spark.table("dss_cdflimit").collect()
      assert(snap.length === 4, "snapshot rows once each")
      assert(snap.forall(_.getAs[String]("_change_type") == "insert"))
      assert(snap.map(_.getAs[Long]("_commit_version")).toSet === Set(3L),
        "synthetic inserts pin the snapshot version")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "snapshot must be paced into per-file batches")
      // post-drain: the version cursor serves true row-level changes
      DeltaDml.delete(spark, dir, "id = 1")                          // v4
      q.processAllAvailable()
      val del = spark.table("dss_cdflimit")
        .filter("_change_type = 'delete'").collect()
      assert(del.length === 1 && del.head.getAs[Long]("_commit_version") === 4L)
    } finally q.stop()
  }

  test("readChangeFeed on a CDF-disabled table fails upfront, not on a later batch") {
    val dir = TestSpark.tempDir("graft-stream-nocdf")
    DeltaWriter.write(Seq((1, "a")).toDF("id", "name"), dir, SaveMode.Append, Nil)
    val q = spark.readStream.format("delta")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("memory").queryName("dss_nocdf")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-nocdf-ckpt"))
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    try {
      val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("change data feed is not enabled"), chain)
    } finally q.stop()
  }

  test("an incremental range with retired commit JSONs fails loudly (no silent data loss)") {
    val dir = TestSpark.tempDir("graft-stream-gap")
    (1 to 4).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "name"), dir, SaveMode.Append, Nil)
    }
    // simulate log cleanup retiring a mid-range commit
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir,
      "_delta_log/00000000000000000002.json"), false)
    val e = intercept[java.io.IOException] {
      DeltaTable.readChanges(spark, dir, 0L, 3L).collect()
    }
    assert(e.getMessage.contains("no longer available"), e.getMessage)
  }

  test("an EXPLICIT startingVersion 0 is a real replay, never conflated with the snapshot start") {
    val dir = TestSpark.tempDir("graft-stream-sv0")
    DeltaWriter.write(Seq((1, "a")).toDF("id", "name"), dir, SaveMode.Append, Nil) // v0, CDF off
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")                                    // v1
    // CDF replay from v0 must attempt the true per-version read and fail
    // loudly on the pre-enablement commit — serving the current snapshot
    // tagged 'insert' here would silently ignore the explicit request
    val q = spark.readStream.format("delta")
      .option("readChangeFeed", "true").option("startingVersion", "0").load(dir)
      .writeStream.format("memory").queryName("dss_sv0")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-sv0-ckpt"))
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    try {
      val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("not recorded"), chain)
    } finally q.stop()
  }

  test("startingVersion skips the table's earlier history") {
    val dir = TestSpark.tempDir("graft-stream-sv")
    DeltaWriter.write(Seq((1, "a")).toDF("id", "name"), dir, SaveMode.Append, Nil) // v0
    DeltaWriter.write(Seq((2, "b")).toDF("id", "name"), dir, SaveMode.Append, Nil) // v1
    DeltaWriter.write(Seq((3, "c")).toDF("id", "name"), dir, SaveMode.Append, Nil) // v2
    val q = spark.readStream.format("delta")
      .option("startingVersion", "2").load(dir)
      .writeStream.format("memory").queryName("dss_sv")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-sv-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("dss_sv").collect()
      assert(got.map(_.getInt(0)).toSeq === Seq(3), "only version >= 2 rows")
    } finally q.stop()
  }

  test("startingTimestamp serves only commits at or after the timestamp") {
    val dir = TestSpark.tempDir("graft-stream-st")
    DeltaWriter.write(Seq((1, "a")).toDF("id", "name"), dir, SaveMode.Append, Nil) // v0
    // a cutoff strictly between v0's and v1's commit mtimes (ms granularity)
    Thread.sleep(1200)
    val cutoffMs = System.currentTimeMillis()
    Thread.sleep(1200)
    DeltaWriter.write(Seq((2, "b")).toDF("id", "name"), dir, SaveMode.Append, Nil) // v1
    val cutoff = java.time.Instant.ofEpochMilli(cutoffMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    val q = spark.readStream.format("delta")
      .option("startingTimestamp", cutoff).load(dir)
      .writeStream.format("memory").queryName("dss_st")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-st-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("dss_st").collect().map(_.getInt(0)).toSeq === Seq(2),
        "only the commit at/after the timestamp")
    } finally q.stop()
    // declaring both cursors is ambiguous and refused (createSource runs
    // on the stream thread, so the failure surfaces through the query)
    val q2 = spark.readStream.format("delta")
      .option("startingTimestamp", cutoff)
      .option("startingVersion", "0").load(dir)
      .writeStream.format("memory").queryName("dss_st2")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-st2-ckpt"))
      .start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert(chain(e).exists(m => m != null && m.contains("not both")))
    } finally q2.stop()
  }

  test("maxFilesPerTrigger paces a backlogged table into per-commit micro-batches") {
    val dir = TestSpark.tempDir("graft-stream-rate")
    // 4-commit backlog, one file each (single local partition per write)
    (0 until 4).foreach { i =>
      DeltaWriter.write(
        Seq((i * 2, s"a$i"), (i * 2 + 1, s"b$i")).toDF("id", "name").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Int])]
    val q = spark.readStream.format("delta")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-rate-ckpt"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized {
          batches += ((id, df.select("id").collect().map(_.getInt(0)).sorted.toSeq))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val got = batches.synchronized(batches.toList)
      // the backlog drains as FOUR bounded micro-batches, one per commit,
      // oldest first — not one giant batch
      assert(got.map(_._2) ===
        List(Seq(0, 1), Seq(2, 3), Seq(4, 5), Seq(6, 7)))
    } finally q.stop()
  }

  test("maxBytesPerTrigger admits whole versions, at least one per batch") {
    val dir = TestSpark.tempDir("graft-stream-bytes")
    (0 until 3).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "name").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    var nBatches = 0
    var total = 0L
    val q = spark.readStream.format("delta")
      // 1 byte: every version alone crosses the cap — progress rule must
      // still admit exactly one per trigger
      .option("maxBytesPerTrigger", "1").load(dir)
      .writeStream
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-bytes-ckpt"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        synchronized { nBatches += 1; total += df.count() }
      }
      .start()
    try {
      q.processAllAvailable()
      assert(nBatches === 3, "one version per micro-batch under a 1-byte cap")
      assert(total === 3L)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in rate-limited batches, then stops") {
    val dir = TestSpark.tempDir("graft-stream-avnow")
    (0 until 3).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "name").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    var nBatches = 0
    var total = 0L
    val q = spark.readStream.format("delta")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-avnow-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        synchronized { nBatches += 1; total += df.count() }
        ()
      }
      .start()
    // available-now + admission control: the query must self-terminate
    // after draining what existed at start, in capped batches
    assert(q.awaitTermination(120000), "query should self-terminate")
    assert(nBatches === 3)
    assert(total === 3L)
  }

  test("rate-limited stream restarts from its checkpoint without loss or duplication") {
    val dir = TestSpark.tempDir("graft-stream-restart")
    val ckpt = TestSpark.tempDir("graft-stream-restart-ckpt")
    (0 until 3).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "name").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    def run(): Unit = {
      val q = spark.readStream.format("delta")
        .option("maxFilesPerTrigger", "1").load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.select("id").collect().map(_.getInt(0)) }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(seen.synchronized(seen.sorted.toSeq) === (0 until 3))
    // two more commits while the stream is DOWN; the restart must resume
    // from the checkpointed version cursor, not re-admit from genesis
    (3 until 5).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "name").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    run()
    assert(seen.synchronized(seen.sorted.toSeq) === (0 until 5),
      "every row exactly once across the restart")
  }

  test("readStream with readChangeFeed=true streams row-level change batches") {
    val dir = TestSpark.tempDir("graft-stream-cdf")
    DeltaWriter.write((0 until 6).map(i => (i, i * 1.0)).toDF("id", "score"),
      dir, SaveMode.Append, Nil) // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    val q = spark.readStream.format("delta")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("memory").queryName("dss_cdf")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-stream-cdf-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      // first batch: the v0 snapshot arrives as derived inserts
      assert(spark.table("dss_cdf").where("_change_type = 'insert'").count() === 6)
      DeltaDml.update(spark, dir, "id = 2", Map("score" -> "score + 50")) // v2
      DeltaDml.delete(spark, dir, "id = 5") // v3
      q.processAllAvailable()
      val t = spark.table("dss_cdf")
      assert(t.where("_change_type = 'update_preimage' AND id = 2 AND score = 2.0").count() === 1)
      assert(t.where("_change_type = 'update_postimage' AND id = 2 AND score = 52.0").count() === 1)
      assert(t.where("_change_type = 'delete' AND id = 5").count() === 1)
      assert(t.where("_commit_version IS NULL OR _commit_timestamp IS NULL").count() === 0)
    } finally q.stop()
  }

  test("CDF mid-drain triggers replay NOTHING (memoized gate + commit timestamp)") {
    // r19 verdict #7's probe caught the readChangeFeed source paying a
    // full metadata replay per latestOffset (the CDF-enabled upfront
    // gate) — 31s/trigger at 10M adds where the plain source's admission
    // is driver arithmetic. The gate is once-per-source (DeltaCdf.read
    // still enforces enablement over every range a batch reads), and the
    // initial-snapshot commit timestamp is memoized per pinned version
    // (its fallback lists the log; a 10k-batch drain re-listing per
    // batch is a quadratic getBatch plane).
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    import graft.sources.delta.{DeltaLog, DeltaStreamingSource}
    import org.apache.spark.sql.graft.GraftStreamingBridge.asBatch
    val dir = TestSpark.tempDir("graft-stream-cdfmemo")
    (1 to 3).foreach { i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "name").coalesce(1),
        dir, SaveMode.Append, Nil)
    }
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")
    // the production source schema for a CDF stream = table schema + the
    // three CDF columns (DeltaDataSource.streamSchema)
    val schema = DeltaLog.snapshot(spark, dir).schema
      .add(graft.sources.delta.DeltaCdf.TypeCol, "string")
      .add(graft.sources.delta.DeltaCdf.VersionCol, "long")
      .add(graft.sources.delta.DeltaCdf.TimestampCol, "timestamp")
    val src = new DeltaStreamingSource(spark.sqlContext, dir, schema,
      ignoreDataChangeRemoves = false, changeFeed = true,
      maxFilesPerTrigger = Some(1))
    val lim = ReadLimit.maxFiles(1)
    val o1 = src.latestOffset(null, lim) // pays the gate + snapshot pin
    assert(o1.json.contains("snapshotVersion"), o1.json)
    val afterFirst = DeltaLog.replayReads.get()
    val o2 = src.latestOffset(SerializedOffset(o1.json), lim)
    val o3 = src.latestOffset(SerializedOffset(o2.json), lim)
    assert(DeltaLog.replayReads.get() === afterFirst,
      "mid-drain latestOffset must be pure admission arithmetic — a " +
        "growing count means the CDF gate re-replays the log per trigger")
    // the drain's slices share ONE pinned commit timestamp, computed once
    val s1 = asBatch(src.getBatch(None, SerializedOffset(o1.json)))
    val s2 = asBatch(src.getBatch(Some(SerializedOffset(o1.json)),
      SerializedOffset(o2.json)))
    val afterSlice1 = DeltaLog.replayReads.get()
    val ts = s1.union(s2).select("_commit_timestamp").distinct().collect()
    assert(ts.length === 1 && ts.head.get(0) != null,
      s"one pinned snapshot timestamp across slices: ${ts.mkString(",")}")
    assert(DeltaLog.replayReads.get() === afterSlice1,
      "the second slice must reuse the memoized slice plane + timestamp")
    assert(s1.union(s2).where("_change_type = 'insert'").count() === 2)
  }
}
