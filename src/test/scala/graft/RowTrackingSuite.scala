package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaMerge,
  DeltaSchema, DeltaTable, DeltaWriter, RowTracking}

/** Row tracking (`rowTracking` + `domainMetadata` writer features):
  * stable `_row_id` / `_row_commit_version` per physical row, surviving
  * every rewrite path this engine has — OPTIMIZE, ZORDER, copy-on-write
  * DML, MERGE, DV deletes, replaceWhere, RESTORE, CLONE — with the id
  * high water mark kept in the `delta.rowTracking` domain.
  *
  * Spec provenance: the published Delta protocol's Row Tracking section
  * (baseRowId / defaultRowCommitVersion / materialized column names /
  * rowIdHighWaterMark domain). The reference reads Delta via delta-rs
  * 0.29.4 (`/root/reference/Cargo.toml:16`), which predates row tracking —
  * this is an exceed-the-reference capability, implemented first-party. */
class RowTrackingSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dir(tag: String): String =
    TestSpark.tempDir(s"graft-rt-$tag")

  /** One deterministic single-file frame: k = physical position. */
  private def seeded(n: Int): DataFrame =
    (0 until n).map(i => (i, s"name-$i", i % 3)).toDF("k", "name", "grp")
      .repartition(1).sortWithinPartitions("k")

  private def idsByK(path: String): Map[Int, (Long, Long)] =
    RowTracking.readWithRowIds(spark, path)
      .select("k", RowTracking.RowIdCol, RowTracking.RowVersionCol)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("enable backfills every live file; fresh ids are physical positions") {
    val d = dir("enable")
    DeltaWriter.write(seeded(10), d, SaveMode.Append, Nil)           // v0
    DeltaWriter.write(
      (10 until 15).map(i => (i, s"name-$i", i % 3)).toDF("k", "name", "grp")
        .repartition(1).sortWithinPartitions("k"),
      d, SaveMode.Append, Nil)                                       // v1
    RowTracking.enable(spark, d)                                     // v2
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.protocol.minWriterVersion === 7)
    assert(snap.protocol.writerFeatures.contains(RowTracking.Feature))
    assert(snap.protocol.writerFeatures.contains(RowTracking.DomainFeature))
    assert(snap.protocol.minReaderVersion === 1, "writer-only features")
    assert(RowTracking.enabled(snap))
    assert(RowTracking.highWaterMark(snap) === 14L)
    assert(snap.files.forall(_.baseRowId.isDefined))
    val ids = idsByK(d)
    assert(ids.keySet === (0 until 15).toSet)
    assert(ids.values.map(_._1).toSeq.sorted === (0L until 15L))
    // both files backfilled at the enable commit
    assert(ids.values.map(_._2).toSet === Set(2L))
    // within each file, id = base + position (sorted single-partition
    // writes make position = k's rank); ranges are contiguous per file
    val firstFile = (0 until 10).map(k => ids(k)._1).sorted
    assert(firstFile.last - firstFile.head === 9L)
    // enable is idempotent
    RowTracking.enable(spark, d)
    assert(DeltaLog.snapshot(spark, d).version === 2L)
  }

  test("appends allocate disjoint fresh ranges and advance the hwm") {
    val d = dir("append")
    DeltaWriter.write(seeded(8), d, SaveMode.Append, Nil)            // v0
    RowTracking.enable(spark, d)                                     // v1
    DeltaWriter.write(
      (8 until 12).map(i => (i, s"name-$i", i % 3)).toDF("k", "name", "grp"),
      d, SaveMode.Append, Nil)                                       // v2
    val snap = DeltaLog.snapshot(spark, d)
    assert(RowTracking.highWaterMark(snap) === 11L)
    val ids = idsByK(d)
    assert(ids.values.map(_._1).toSeq.sorted === (0L until 12L), "no overlap")
    assert((8 until 12).map(k => ids(k)._2).toSet === Set(2L),
      "new rows dated by their append commit")
    assert((0 until 8).map(k => ids(k)._2).toSet === Set(1L))
  }

  test("OPTIMIZE compaction preserves ids and versions through the rewrite") {
    val d = dir("optimize")
    (0 until 4).foreach { i =>
      DeltaWriter.write(
        (i * 5 until (i + 1) * 5).map(j => (j, s"name-$j", j % 3))
          .toDF("k", "name", "grp"),
        d, SaveMode.Append, Nil)
    }                                                                // v0..v3
    RowTracking.enable(spark, d)                                     // v4
    val before = idsByK(d)
    val m = DeltaMaintenance.optimize(spark, d)
    assert(m.filesRemoved >= 4, "all four appends' files compacted")
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.files.forall(_.baseRowId.isDefined),
      "rewritten adds still carry fresh base ranges (overridden by the " +
        "materialized columns)")
    assert(idsByK(d) === before, "ids AND commit versions stable")
    assert(RowTracking.highWaterMark(snap) >= 19L)
  }

  test("ZORDER moves rows physically; materialized ids follow the rows") {
    val d = dir("zorder")
    DeltaWriter.write(seeded(30), d, SaveMode.Append, Nil)
    DeltaWriter.write(
      (30 until 60).map(i => (i, s"name-${59 - i}", i % 7)).toDF("k", "name", "grp"),
      d, SaveMode.Append, Nil)
    RowTracking.enable(spark, d)
    val before = idsByK(d)
    DeltaMaintenance.zorder(spark, d, Seq("grp", "name"))
    assert(idsByK(d) === before)
  }

  test("copy-on-write UPDATE keeps ids, redates ONLY the modified rows") {
    val d = dir("update")
    DeltaWriter.write(seeded(12), d, SaveMode.Append, Nil)           // v0
    RowTracking.enable(spark, d)                                     // v1
    val before = idsByK(d)
    DeltaDml.update(spark, d, "k % 4 = 1", Map("name" -> "'upd'"))   // v2
    val after = idsByK(d)
    assert(after.view.mapValues(_._1).toMap ===
      before.view.mapValues(_._1).toMap, "ids preserved")
    (0 until 12).foreach { k =>
      if (k % 4 == 1) assert(after(k)._2 === 2L, s"k=$k redated")
      else assert(after(k)._2 === 1L, s"k=$k untouched")
    }
    // and DELETE: survivors keep id+version through the same rewrite
    DeltaDml.delete(spark, d, "k % 4 = 2")                           // v3
    val kept = idsByK(d)
    assert(kept.keySet === (0 until 12).filter(_ % 4 != 2).toSet)
    kept.foreach { case (k, iv) => assert(iv === after(k)) }
  }

  test("DV delete: physical positions survive, so unmaterialized ids hold") {
    val d = dir("dv")
    DeltaWriter.write(seeded(20), d, SaveMode.Append, Nil)           // v0
    RowTracking.enable(spark, d)                                     // v1
    // merge-on-read delete — the file is NEVER rewritten, ids stay
    // implied by baseRowId + physical row_index, which the DV filter
    // must not renumber
    DeltaDml.deleteWithDv(spark, d, "k % 3 = 0")                     // v2
    val ids = idsByK(d)
    assert(ids.keySet === (0 until 20).filter(_ % 3 != 0).toSet)
    ids.foreach { case (k, (id, ver)) =>
      assert(id === k.toLong, s"k=$k keeps its physical-position id")
      assert(ver === 1L)
    }
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.files.forall(_.baseRowId.isDefined),
      "DV re-add preserved the original baseRowId")
  }

  test("MERGE: carried/updated rows preserve ids, inserts get fresh ones") {
    val d = dir("merge")
    DeltaWriter.write(seeded(10), d, SaveMode.Append, Nil)           // v0
    RowTracking.enable(spark, d)                                     // v1
    val before = idsByK(d)
    val src = (5 until 15).map(i => (i, s"src-$i", 9)).toDF("k", "name", "grp")
    DeltaMerge.merge(spark, d, src,
      condition = "t.k = s.k",
      matchedUpdate = Some(Map("name" -> "s.name")),
      matchedDelete = false,
      notMatchedInsert = Some(Map("k" -> "s.k", "name" -> "s.name", "grp" -> "s.grp")))
    val after = idsByK(d)                                            // v2
    assert(after.keySet === (0 until 15).toSet)
    (0 until 10).foreach { k =>
      assert(after(k)._1 === before(k)._1, s"k=$k id preserved")
      if (k >= 5) assert(after(k)._2 === 2L, s"k=$k updated -> redated")
      else assert(after(k)._2 === 1L, s"k=$k carried")
    }
    val freshIds = (10 until 15).map(k => after(k)._1)
    assert(freshIds.forall(_ >= 10L), "inserts allocated past the hwm")
    assert(after.values.map(_._1).toSeq.distinct.size === 15, "all unique")
    assert((10 until 15).map(k => after(k)._2).toSet === Set(2L))
  }

  test("replaceWhere: survivors keep ids, replacement rows get fresh ones") {
    val d = dir("rw")
    DeltaWriter.write(seeded(10), d, SaveMode.Append, Nil)           // v0
    RowTracking.enable(spark, d)                                     // v1
    val before = idsByK(d)
    DeltaMaintenance.replaceWhere(spark, d,
      (100 until 103).map(i => (i, s"new-$i", 1)).toDF("k", "name", "grp"),
      "grp = 1")                                                     // v2
    val after = idsByK(d)
    val survivors = (0 until 10).filter(_ % 3 != 1)
    assert(after.keySet === survivors.toSet ++ Set(100, 101, 102))
    survivors.foreach(k => assert(after(k) === before(k)))
    assert(Seq(100, 101, 102).map(k => after(k)._1).forall(_ >= 10L))
  }

  test("RESTORE resurrects old ids; the hwm never rolls back") {
    val d = dir("restore")
    DeltaWriter.write(seeded(6), d, SaveMode.Append, Nil)            // v0
    RowTracking.enable(spark, d)                                     // v1
    val orig = idsByK(d)
    DeltaWriter.write(Seq((6, "x", 0)).toDF("k", "name", "grp"),
      d, SaveMode.Append, Nil)                                       // v2 (ids 6)
    DeltaMaintenance.restore(spark, d, 1L)                           // v3
    assert(idsByK(d) === orig, "restored rows under their old ids")
    val hwmAfter = RowTracking.highWaterMark(DeltaLog.snapshot(spark, d))
    assert(hwmAfter === 6L, "retired range must never be re-issued")
    DeltaWriter.write(Seq((7, "y", 0)).toDF("k", "name", "grp"),
      d, SaveMode.Append, Nil)                                       // v4
    assert(idsByK(d)(7)._1 === 7L)
  }

  test("checkpoint carries baseRowIds and the hwm domain — both replay paths") {
    val d = dir("cp")
    DeltaWriter.write(seeded(9), d, SaveMode.Append, Nil)            // v0
    RowTracking.enable(spark, d)                                     // v1
    DeltaWriter.write(Seq((9, "z", 0)).toDF("k", "name", "grp"),
      d, SaveMode.Append, Nil)                                       // v2
    DeltaWriter.writeCheckpoint(spark, d, 2L)
    DeltaWriter.write(Seq((10, "w", 1)).toDF("k", "name", "grp"),
      d, SaveMode.Append, Nil)                                       // v3 (tail)
    def check(): Unit = {
      val snap = DeltaLog.snapshot(spark, d)
      assert(RowTracking.highWaterMark(snap) === 10L)
      assert(snap.files.forall(_.baseRowId.isDefined))
      assert(idsByK(d).view.mapValues(_._1).toMap ===
        (0 to 10).map(k => k -> k.toLong).toMap)
    }
    check() // driver-map replay over checkpoint parquet + JSON tail
    withPlane("frame")(check())
  }

  test("foreign domain change aborts a concurrent rewrite; rowTracking domain is exempt") {
    val d = dir("conflict")
    DeltaWriter.write(seeded(8), d, SaveMode.Append, Nil)            // v0
    RowTracking.enable(spark, d)                                     // v1
    // inject a FOREIGN domain commit between a DELETE's staging and its
    // commit loop — the conservative domain-conflict rule must abort
    val inject: () => Unit = () => {
      val v = DeltaLog.snapshot(spark, d).version + 1
      val lines = Seq(
        """{"commitInfo":{"timestamp":0,"operation":"FOREIGN","engineInfo":"other"}}""",
        RowTracking.domainLineOf("com.example.clustering", """{"state":1}"""))
      require(DeltaLog.tryCommit(spark, d, v, lines.mkString("\n")))
    }
    intercept[java.util.ConcurrentModificationException] {
      DeltaDml.delete(spark, d, "k = 1", inject)
    }
    // the rowTracking domain itself is exempt: an interleaved hwm advance
    // (any append) must NOT abort a disjoint-file rewrite for domain
    // reasons — OPTIMIZE (reads no predicate scope) retries and re-bases
    DeltaWriter.write(Seq((100, "c", 0)).toDF("k", "name", "grp"),
      d, SaveMode.Append, Nil)
    val before = idsByK(d)
    val m = DeltaMaintenance.optimize(spark, d)
    assert(m.committedVersion > 0)
    assert(idsByK(d) === before)
    // the foreign domain REPLAYS and survives the rewrite commit
    assert(DeltaLog.snapshot(spark, d)
      .domainMetadata.get("com.example.clustering").contains("""{"state":1}"""))
  }

  test("CLONE carries ids and the hwm; clone-side writes never collide") {
    val d = dir("clone-src")
    DeltaWriter.write(seeded(7), d, SaveMode.Append, Nil)
    RowTracking.enable(spark, d)
    val srcIds = idsByK(d)
    val tgt = dir("clone-tgt")
    // shallowClone refuses an existing dir? create fresh path under it
    val clonePath = tgt + "/t"
    DeltaMaintenance.shallowClone(spark, d, clonePath)
    assert(idsByK(clonePath) === srcIds)
    assert(RowTracking.highWaterMark(DeltaLog.snapshot(spark, clonePath)) === 6L)
    DeltaWriter.write(Seq((7, "n", 0)).toDF("k", "name", "grp"),
      clonePath, SaveMode.Append, Nil)
    assert(idsByK(clonePath)(7)._1 === 7L, "allocation continues past the cloned hwm")
  }

  test("SET TBLPROPERTIES routes enablement through the full upgrade") {
    val d = dir("props")
    DeltaWriter.write(seeded(5), d, SaveMode.Append, Nil)
    DeltaSchema.setTblProperties(spark, d,
      Map(RowTracking.EnableKey -> "true", "custom.tag" -> "x"))
    val snap = DeltaLog.snapshot(spark, d)
    assert(RowTracking.enabled(snap))
    assert(snap.files.forall(_.baseRowId.isDefined))
    assert(snap.metadata.configuration.get("custom.tag").contains("x"))
    assert(idsByK(d).view.mapValues(_._1).toMap ===
      (0 until 5).map(k => k -> k.toLong).toMap)
  }

  test("readWithRowIds refuses an un-tracked table; allocate() unit semantics") {
    val d = dir("refuse")
    DeltaWriter.write(seeded(3), d, SaveMode.Append, Nil)
    val e = intercept[IllegalArgumentException] {
      RowTracking.readWithRowIds(spark, d)
    }
    assert(e.getMessage.contains("row tracking"))
    assert(RowTracking.allocate(-1L, Seq(3L, 0L, 2L)) === (Seq(0L, 3L, 3L), 4L))
    assert(RowTracking.allocate(9L, Seq(5L)) === (Seq(10L), 14L))
  }
}
