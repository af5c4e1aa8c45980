package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaTable, DeltaWriter}

/** VACUUM's two walk planes — driver (small tables) and distributed
  * (job-plane tables: candidates anti-join the live-path frame, left-join
  * the tombstone frame executor-side) — must emit IDENTICAL file sets:
  * one predicate, two evaluation sites. A divergence here is data loss
  * (the distributed walk deleting a live file) or a silent leak (never
  * collecting an aged tombstone), so parity is pinned on a table whose
  * history exercises every input: rewrites (tombstones with removal
  * clocks), deletion vectors (live AND superseded .bin files), and an
  * orphan (no tombstone — mtime fallback). */
class VacuumPlaneSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** appends → copy-on-write DELETE (tombstones) → two DV deletes (one
    * live .bin, one superseded) → one orphan stray parquet. */
  private def richTable(): String = {
    val dir = TestSpark.tempDir("graft-vacplane")
    DeltaWriter.write((1 to 40).map(i => (i.toLong, s"r$i")).toDF("id", "name")
      .coalesce(2), dir, SaveMode.Append, Nil)        // v0: 2 files
    DeltaDml.delete(spark, dir, "id <= 5")            // v1: rewrite + tombstone
    DeltaDml.deleteWithDv(spark, dir, "id >= 38")     // v2: DV .bin #1
    DeltaDml.deleteWithDv(spark, dir, "id >= 35")     // v3: DV .bin #2 supersedes #1
    Files.write(Paths.get(dir, "orphan-stray.snappy.parquet"), Array[Byte](1, 2, 3))
    dir
  }

  private def dryRunUnder(mode: String, dir: String, retentionMs: Long): Seq[String] =
    withPlane(mode)(DeltaMaintenance.vacuumDryRun(spark, dir, retentionMs))

  test("driver and distributed walks emit identical eligible sets") {
    val dir = richTable()
    // retention -60s: everything unreferenced is past the cutoff,
    // including the just-created orphan (clock skew immaterial)
    val eager = dryRunUnder("driver", dir, -60000L)
    val deferred = dryRunUnder("frame", dir, -60000L)
    assert(deferred === eager, "the two planes must agree file-for-file")
    assert(eager.exists(_.endsWith("orphan-stray.snappy.parquet")),
      "the orphan (mtime fallback) must be eligible on both planes")
    assert(eager.exists(_.contains("deletion_vector_")),
      "the superseded DV .bin must be eligible on both planes")
    assert(eager.size >= 3, s"tombstoned rewrite sources expected too: $eager")
    // an infinite retention protects everything, on both planes
    assert(dryRunUnder("driver", dir, Long.MaxValue / 4) === Nil)
    assert(dryRunUnder("frame", dir, Long.MaxValue / 4) === Nil)
  }

  test("distributed vacuum deletes exactly the eligible set; live reads survive") {
    val dir = richTable()
    val expected = dryRunUnder("frame", dir, -60000L)
    val deleted = withPlane("frame")(DeltaMaintenance.vacuum(spark, dir, -60000L))
    assert(deleted === expected.size.toLong)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    expected.foreach(p => assert(!fs.exists(new org.apache.hadoop.fs.Path(p)),
      s"eligible file survived: $p"))
    // the current snapshot (DV-masked rows excluded) reads intact
    val ids = DeltaTable.read(spark, dir).select("id").as[Long].collect().sorted
    assert(ids.toSeq === (6L to 34L), "live rows exact after distributed vacuum")
    // live DV .bin kept: the masked rows stay masked, not resurrected
    assert(!ids.contains(35L) && !ids.contains(40L))
  }

  test("fsck planes agree: missing data files and DV blobs detected identically") {
    val dir = richTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val snap = graft.sources.delta.DeltaLog.snapshot(spark, dir)
    // break the table behind the log's back: one data file, one DV blob
    val victim = snap.files.find(_.deletionVector.isEmpty).get
    fs.delete(new org.apache.hadoop.fs.Path(dir, victim.path), false)
    val dvVictim = snap.files.find(_.deletionVector.exists(_.storageType == "u")).get
    fs.delete(dvVictim.deletionVector.get.absolutePath(dir), false)
    def dryUnder(mode: String): Seq[String] =
      withPlane(mode)(DeltaMaintenance.fsck(spark, dir, dryRun = true))
    val eager = dryUnder("driver")
    val deferred = dryUnder("frame")
    assert(deferred === eager, "fsck planes must agree file-for-file")
    assert(eager.toSet === Set(victim.path, dvVictim.path),
      s"exactly the broken add entries: $eager")
    // repair on the distributed plane drops exactly those entries
    withPlane("frame")(DeltaMaintenance.fsck(spark, dir, dryRun = false))
    val after = graft.sources.delta.DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
    assert(!after.contains(victim.path) && !after.contains(dvVictim.path))
    DeltaTable.read(spark, dir).count() // table readable again
  }

  test("SHOW PARTITIONS and OPTIMIZE WHERE work on the deferred plane (map-typed groupBy, not distinct)") {
    // regression pin: the winners frame's partitionValues is a MAP column,
    // and Spark rejects set operations on maps (SET_OPERATION_ON_MAP_TYPE)
    // — the deferred distinct-partitions path must group, never distinct()
    val dir = TestSpark.tempDir("graft-vacplane-parts")
    DeltaWriter.write((1 to 24).map(i => (i.toLong, s"r$i", i % 3))
      .toDF("id", "name", "p"), dir, SaveMode.Append, Seq("p"))
    (1 to 3).foreach { _ =>
      DeltaWriter.write(Seq((100L, "x", 1)).toDF("id", "name", "p"),
        dir, SaveMode.Append, Seq("p"))
    }
    def partsUnder(mode: String): Seq[String] = withPlane(mode) {
      DeltaMaintenance.showPartitions(spark, dir)
        .collect().map(_.getString(0)).toSeq.sorted
    }
    assert(partsUnder("frame") === partsUnder("driver"))
    assert(partsUnder("frame") === Seq("0", "1", "2"))
    // OPTIMIZE … WHERE routes its partition scope through the same
    // map-typed rollup on the deferred plane
    val m = withPlane("frame")(DeltaMaintenance.optimize(spark, dir, 128L << 20, Some("p = 1")))
    assert(m.filesRemoved >= 2, s"partition 1's small files compact: $m")
    assert(DeltaTable.read(spark, dir).count() === 27)
  }

  test("relative table paths build matching join keys (no phantom missing/eligible)") {
    // a RELATIVE tablePath resolves against the fs working directory; the
    // distributed walks must QUALIFY it before building join keys, or
    // every live file looks "not live"/"missing" — one anti-join away
    // from deleting live data
    val rel = s"target/vacrel-${java.util.UUID.randomUUID()}"
    try {
      // the WRITE path wants the canonical absolute form; the hazard is a
      // maintenance op later ADDRESSING the same table relatively
      val abs = new java.io.File(rel).getAbsolutePath
      DeltaWriter.write((1 to 12).map(i => (i.toLong, s"r$i")).toDF("id", "name")
        .coalesce(2), abs, SaveMode.Append, Nil)
      DeltaDml.delete(spark, abs, "id <= 3")
      withPlane("frame") {
        assert(DeltaMaintenance.fsck(spark, rel, dryRun = true) === Nil,
          "nothing is actually missing on a healthy relative-path table")
        assert(DeltaMaintenance.vacuumDryRun(spark, rel, Long.MaxValue / 4) === Nil,
          "infinite retention protects everything")
        val eligible = DeltaMaintenance.vacuumDryRun(spark, rel, -60000L)
        val live = graft.sources.delta.DeltaLog.snapshot(spark, rel)
          .files.map(_.path).toSet
        assert(eligible.nonEmpty, "the tombstoned originals age out")
        assert(!eligible.exists(p => live.exists(lp => p.endsWith("/" + lp))),
          s"live files must NEVER be eligible: $eligible")
      }
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rel))
      catch { case _: Exception => () }
    }
  }

  test("a second dry run after vacuum is empty on both planes") {
    val dir = richTable()
    withPlane("frame")(DeltaMaintenance.vacuum(spark, dir, -60000L))
    assert(dryRunUnder("driver", dir, -60000L) === Nil)
    assert(dryRunUnder("frame", dir, -60000L) === Nil)
  }

  test("write-denied staging falls back to the driver walk (WRAPPED IOException)") {
    // the r18 ADVICE scenario: the distributed listing stages its parquet
    // through a Spark JOB, so a read-only-credentials failure surfaces as
    // SparkException(...cause IOException), which a bare-IOException
    // catch would let propagate — exactly the DRY RUN audit case the
    // fallback exists for. ListingDeniedFileSystem denies file creates
    // under the listing staging prefix ONLY (table writes proceed), so
    // the distributed walk CANNOT succeed here: a correct dry-run result
    // proves the fallback fired.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.rolist.impl", classOf[ListingDeniedFileSystem].getName)
    val local = TestSpark.tempDir("graft-vac-rolist")
    val dir = "rolist://" + local
    // PARTITIONED: root-level dirs force the distributed (executor-task)
    // listing branch, the one whose failure arrives wrapped
    DeltaWriter.write((1 to 24).map(i => (i.toLong, s"r$i", i % 3))
      .toDF("id", "name", "p"), dir, SaveMode.Append, Seq("p"))
    DeltaDml.delete(spark, dir, "id <= 4") // tombstoned rewrite sources
    Files.write(Paths.get(local, "orphan-stray.snappy.parquet"), Array[Byte](1, 2, 3))
    try withPlane("frame") {
      val eligible = DeltaMaintenance.vacuumDryRun(spark, dir, -60000L)
      assert(eligible.exists(_.endsWith("orphan-stray.snappy.parquet")),
        s"fallback walk must still find the orphan: $eligible")
      val live = DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
      assert(!eligible.exists(p => live.exists(lp => p.endsWith("/" + lp))),
        s"live files must NEVER be eligible, fallback included: $eligible")
    } finally {
      conf.unset("fs.rolist.impl")
    }
  }
}

/** Test-only local filesystem that refuses to CREATE files under the
  * staged-listing prefix (`_delta_log/.tmp/listing-…`) while allowing all
  * other IO — the deterministic stand-in for read-only staging
  * credentials. Directory creation stays allowed so the failure lands in
  * the write JOB's tasks (the wrapped-exception path under test), not at
  * driver-side job setup. */
class ListingDeniedFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "rolist"
  override def getUri: java.net.URI = java.net.URI.create("rolist:///")
  // RawLocal's DeprecatedRawLocalFileStatus lazy-loads permissions via
  // `new java.io.File(status URI)`, which rejects any scheme but "file" —
  // return plain statuses with eager permissions instead
  private def eager(st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime, org.apache.hadoop.fs.permission.FsPermission.getDefault,
      "test", "test", st.getPath)
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus =
    eager(super.getFileStatus(f))
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(eager)
  private def deny(f: org.apache.hadoop.fs.Path): Unit =
    if (f.toString.contains("/.tmp/listing-"))
      throw new java.io.IOException(s"injected: listing staging is write-denied ($f)")
  override def create(
      f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    deny(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(
      f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    deny(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
}
