package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaChecksum, DeltaDml, DeltaLog, DeltaMaintenance, DeltaTable}

/** Version checksums (`_delta_log/<v>.crc`): published best-effort beside
  * every commit, validated against replay, retired by log cleanup. */
class DeltaChecksumSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    TestSpark.tempDir("graft-crc") + "/tbl"

  test("every commit publishes a .crc whose totals match the replayed snapshot") {
    val table = tmpTable()
    DeltaTable.write((1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"), table, SaveMode.Append)
    DeltaTable.write((11 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "v"), table, SaveMode.Append)
    DeltaDml.delete(spark, table, "id <= 5")
    (0L to 2L).foreach { v =>
      val crc = DeltaChecksum.read(spark, table, v)
      assert(crc.isDefined, s"version $v must carry a checksum")
      val snap = DeltaLog.snapshot(spark, table, versionAsOf = Some(v))
      assert(crc.get.numFiles === snap.files.size.toLong, s"numFiles at v$v")
      assert(crc.get.tableSizeBytes === snap.files.map(_.size).sum, s"sizeBytes at v$v")
    }
    assert(DeltaChecksum.validate(spark, table).isEmpty, "a healthy log validates clean")
  }

  test("a tampered checksum is flagged with recorded vs actual totals") {
    val table = tmpTable()
    DeltaTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), table, SaveMode.Append)
    val p = DeltaChecksum.crcPath(table, 0L)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    out.write("""{"tableSizeBytes": 1, "numFiles": 99, "numMetadata": 1, "numProtocol": 1}"""
      .getBytes("UTF-8"))
    out.close()
    val mismatch = DeltaChecksum.validate(spark, table)
    assert(mismatch.isDefined, "tampered crc must be flagged")
    val (recorded, actual) = mismatch.get
    assert(recorded.numFiles === 99L)
    assert(actual.numFiles === 1L, "append writes one file here")
  }

  test("a missing .crc means 'not validated', never a failure") {
    val table = tmpTable()
    DeltaTable.write(Seq((1L, "a")).toDF("id", "v"), table, SaveMode.Append)
    val p = DeltaChecksum.crcPath(table, 0L)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, false)
    assert(DeltaChecksum.validate(spark, table).isEmpty)
    assert(DeltaChecksum.read(spark, table, 0L).isEmpty)
  }

  test("a CORRUPT .crc surfaces as log damage, not as 'not validated'") {
    val table = tmpTable()
    DeltaTable.write(Seq((1L, "a")).toDF("id", "v"), table, SaveMode.Append)
    val p = DeltaChecksum.crcPath(table, 0L)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    out.write("{ truncated-mid-wri".getBytes("UTF-8"))
    out.close()
    val ex = intercept[java.io.IOException] { DeltaChecksum.read(spark, table, 0L) }
    assert(ex.getMessage.contains("corrupt checksum artifact"),
      s"unexpected message: ${ex.getMessage}")
  }

  test("log cleanup retires expired checksums with their commits") {
    val table = tmpTable()
    DeltaTable.write(Seq((0L, "b0")).toDF("id", "v"), table, SaveMode.Append)
    spark.sql(s"ALTER TABLE delta.`$table` SET TBLPROPERTIES " +
      "('delta.logRetentionDuration' = 'interval 0 minutes')") // v1
    // v2..v12: the cadence checkpoint (v10) arms the cleanup
    (2 to 12).foreach { b =>
      DeltaTable.write(Seq((b.toLong, s"b$b")).toDF("id", "v"), table, SaveMode.Append)
    }
    Thread.sleep(20) // mtimes strictly behind the cleanup cutoff
    DeltaMaintenance.cleanupMetadata(spark, table)
    (0L to 5L).foreach { v =>
      assert(DeltaChecksum.read(spark, table, v).isEmpty,
        s"crc for retired commit v$v must be gone")
    }
    assert(DeltaChecksum.read(spark, table, 12L).isDefined,
      "the newest version keeps its crc")
  }

  test("FSCK repair republishes a checksum reflecting the repaired state") {
    val table = tmpTable()
    DeltaTable.write(Seq((1L, "a")).toDF("id", "v").coalesce(1), table, SaveMode.Append)
    DeltaTable.write(Seq((2L, "b")).toDF("id", "v").coalesce(1), table, SaveMode.Append)
    // vandalize one data file behind the log's back
    val snap = DeltaLog.snapshot(spark, table)
    val victim = new java.io.File(
      new org.apache.hadoop.fs.Path(table, snap.files.head.path).toUri.getPath)
    assert(victim.delete(), "fixture data file must be removable")
    assert(DeltaMaintenance.fsck(spark, table).nonEmpty, "FSCK must repair")
    val repaired = DeltaLog.snapshot(spark, table)
    assert(repaired.version === 2L)
    val crc = DeltaChecksum.read(spark, table, repaired.version)
    assert(crc.isDefined, "the repair commit must publish a checksum")
    assert(crc.get.numFiles === repaired.files.size.toLong)
    assert(DeltaChecksum.validate(spark, table).isEmpty,
      "post-repair table must validate clean")
  }
}
