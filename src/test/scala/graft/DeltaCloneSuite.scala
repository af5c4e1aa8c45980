package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaTable, DeltaWriter}

/** SHALLOW CLONE: zero-copy metadata fork — every safety property the
  * scaladoc promises, pinned over a scratch partitioned table. */
class DeltaCloneSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshSource(): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-clone-src")
    (0 until 3).foreach { i =>
      val df = Seq((i * 2, "a", s"row${i}a"), (i * 2 + 1, "b", s"row${i}b"))
        .toDF("id", "k", "payload")
      DeltaWriter.write(df, dir, SaveMode.Append, Seq("k"))
    }
    dir
  }

  private def rows(path: String): Seq[String] =
    DeltaTable.read(spark, path).orderBy("id").collect().map(_.toString).toSeq

  test("clone reads the source's content without copying any data file") {
    val src = freshSource()
    val dst = TestSpark.tempDir("graft-clone-dst") + "/t"
    val v = DeltaMaintenance.shallowClone(spark, src, dst)
    assert(v === 0L)
    assert(rows(dst) === rows(src))
    // metadata-only: the clone's root holds no parquet at all
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dst), true)
    var copied = List.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) copied ::= p.toString
    }
    assert(copied.isEmpty, s"clone copied data files: $copied")
    // fresh identity, history starts at v0
    val srcSnap = DeltaLog.snapshot(spark, src)
    val dstSnap = DeltaLog.snapshot(spark, dst)
    assert(dstSnap.metadata.id !== srcSnap.metadata.id)
    assert(dstSnap.version === 0L)
    // stats carried over verbatim: skipping works on the clone unchanged
    assert(dstSnap.files.forall(_.stats.nonEmpty))
  }

  test("writes and DML on the clone never mutate the source") {
    import spark.implicits._
    val src = freshSource()
    val dst = TestSpark.tempDir("graft-clone-dst") + "/t"
    DeltaMaintenance.shallowClone(spark, src, dst)
    val srcBefore = rows(src)
    val srcVersionBefore = DeltaLog.snapshot(spark, src).version

    DeltaWriter.write(Seq((100, "a", "new")).toDF("id", "k", "payload"),
      dst, SaveMode.Append, Seq("k"))
    val del = DeltaDml.delete(spark, dst, "id = 1")
    assert(del.rowsAffected === 1)

    assert(rows(src) === srcBefore, "source mutated by clone-side write/DML")
    val got = rows(dst)
    assert(got.exists(_.contains("100")) && !got.exists(_.contains("[1,")))
    assert(DeltaLog.snapshot(spark, src).version === srcVersionBefore,
      "clone-side commits must land in the CLONE's log, not the source's")
  }

  test("vacuum on the clone never deletes shared source files") {
    val src = freshSource()
    val dst = TestSpark.tempDir("graft-clone-dst") + "/t"
    DeltaMaintenance.shallowClone(spark, src, dst)
    // age everything out: retention 0 deletes any unreferenced local file
    val deleted = DeltaMaintenance.vacuum(spark, dst, retentionMs = 0L)
    assert(deleted === 0L, "clone vacuum deleted files")
    assert(rows(dst) === rows(src))
    assert(rows(src).nonEmpty)
  }

  test("fsck and vacuum on the DEFERRED plane treat a clone's absolute references as external") {
    // the clone's adds reference the SOURCE by absolute URI: the
    // distributed walks must probe those by their OWN form, never
    // anti-join them against the CLONE's listing (where they can never
    // appear) — a miss there would report the whole live set missing and
    // fsck(dryRun=false) would empty the clone
    val src = freshSource()
    val dst = TestSpark.tempDir("graft-clone-dstd") + "/t"
    DeltaMaintenance.shallowClone(spark, src, dst)
    withPlane("frame") {
      assert(DeltaMaintenance.fsck(spark, dst, dryRun = true) === Nil,
        "healthy clone: no add may be reported missing")
      assert(DeltaMaintenance.vacuum(spark, dst, retentionMs = 0L) === 0L,
        "clone vacuum must not delete shared source files")
      assert(rows(dst) === rows(src))
    }
  }

  test("cloning a clone resolves already-absolute paths") {
    val src = freshSource()
    val mid = TestSpark.tempDir("graft-clone-mid") + "/t"
    val dst = TestSpark.tempDir("graft-clone-dst2") + "/t"
    DeltaMaintenance.shallowClone(spark, src, mid)
    DeltaMaintenance.shallowClone(spark, mid, dst)
    assert(rows(dst) === rows(src))
  }

  test("a clone of a column-mapped source carries the source PROTOCOL (not a hardcoded 1,2)") {
    import spark.implicits._
    val src = TestSpark.tempDir("graft-clone-cm")
    DeltaWriter.write(Seq((1L, 1.5), (2L, 2.5)).toDF("id", "score").coalesce(1),
      src, SaveMode.Append, Nil)
    graft.sources.delta.DeltaSchema.renameColumn(spark, src, "score", "points")
    val srcProto = DeltaLog.snapshot(spark, src).protocol
    assert(srcProto.minReaderVersion >= 2 ||
      srcProto.readerFeatures.contains("columnMapping"))
    val tgt = TestSpark.tempDir("graft-clone-cm-t") + "/t"
    DeltaMaintenance.shallowClone(spark, src, tgt)
    // a (1,2) clone protocol with a mapping-mode configuration is
    // spec-invalid: foreign readers would resolve LOGICAL names against
    // PHYSICAL parquet columns and read all-NULLs
    assert(DeltaLog.snapshot(spark, tgt).protocol === srcProto)
    assert(DeltaTable.read(spark, tgt).select("points").as[Double]
      .collect().sorted.toSeq === Seq(1.5, 2.5))
  }

  test("clone refuses an existing delta target") {
    val src = freshSource()
    intercept[IllegalArgumentException] {
      DeltaMaintenance.shallowClone(spark, src, src)
    }
  }

  test("deep clone survives the source being deleted outright") {
    val src = freshSource()
    val dst = TestSpark.tempDir("graft-dclone-dst") + "/t"
    val expected = rows(src)
    assert(spark.sql(s"CREATE TABLE delta.`$dst` DEEP CLONE delta.`$src`")
      .collect()(0).getLong(0) === 0L)
    // every add in the clone's log is RELATIVE (no reference to the source)
    val snap = DeltaLog.snapshot(spark, dst)
    assert(snap.files.nonEmpty)
    snap.files.foreach { f =>
      val u = try new java.net.URI(f.path) catch { case _: Exception => null }
      assert(u == null || !u.isAbsolute, s"absolute add in deep clone: ${f.path}")
    }
    // the storage incident shallow clones cannot survive
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(src), true))
    assert(rows(dst) === expected)
    // and the clone is a live, independent table
    DeltaDml.update(spark, dst, "id = 0", Map("payload" -> "'rewritten'"))
    assert(DeltaTable.read(spark, dst)
      .filter("id = 0").collect()(0).getAs[String]("payload") === "rewritten")
  }

  test("deep clone of a DV-carrying source keeps deleted rows hidden after source loss") {
    import spark.implicits._
    val src = TestSpark.tempDir("graft-dclone-dv-src")
    DeltaWriter.write((1 to 10).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      src, SaveMode.Append, Nil)
    DeltaDml.deleteWithDv(spark, src, "id % 2 = 0")
    val dst = TestSpark.tempDir("graft-dclone-dv-dst") + "/t"
    DeltaMaintenance.deepClone(spark, src, dst)
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(src), true))
    assert(DeltaTable.read(spark, dst).orderBy("id")
      .select("id").as[Int].collect().toSeq === Seq(1, 3, 5, 7, 9))
  }

  test("deep clone of a shallow clone materializes the absolute references") {
    val src = freshSource()
    val mid = TestSpark.tempDir("graft-dclone-mid") + "/t"
    val dst = TestSpark.tempDir("graft-dclone-dst2") + "/t"
    DeltaMaintenance.shallowClone(spark, src, mid)
    val expected = rows(src)
    DeltaMaintenance.deepClone(spark, mid, dst)
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(src), true))
    assert(rows(dst) === expected)
  }
}
