package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaMerge, DeltaTable, DeltaWriter, MergeClause}

/** ACID under contention: concurrent appenders race on the commit version;
  * the atomic-rename commit protocol (tryCommit + retry) must serialize
  * them so every append lands in its own version with no lost updates. */
class DeltaConcurrencySuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("concurrent appends serialize into distinct versions with no lost rows") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-concurrent")
    DeltaWriter.write(Seq((0L, "seed")).toDF("id", "payload"), dir, SaveMode.Append, Nil)

    val writers = (1 to 4).map { i =>
      Future {
        DeltaWriter.write(
          Seq((i.toLong, s"writer$i")).toDF("id", "payload"),
          dir, SaveMode.Append, Nil)
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)

    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version === 4L) // 5 commits total: versions 0..4
    val ids = DeltaTable.read(spark, dir).select("id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(0L, 1L, 2L, 3L, 4L)) // no lost updates
    // every version is readable — the log is a clean linear history
    (0L to 4L).foreach { v =>
      assert(DeltaTable.readVersion(spark, dir, v).count() === v + 1)
    }
  }

  // --- logical conflict resolution (ConflictChecker, WriteSerializable):
  // disjoint concurrent commits both succeed; overlapping or
  // metadata-changing ones abort. The beforeCommit seams inject the
  // concurrent commit deterministically between staging and commit.

  import spark.implicits._

  private def partitionedTable(): String = {
    val dir = TestSpark.tempDir("graft-conflict")
    DeltaWriter.write(
      (1 to 40).map(i => (i.toLong, s"r$i", i % 4)).toDF("id", "payload", "p"),
      dir, SaveMode.Append, Seq("p"))
    dir
  }

  test("concurrent DELETE on partition A and append to partition B both commit") {
    val dir = partitionedTable()
    val m = DeltaDml.delete(spark, dir, "p = 1", beforeCommit = () => {
      DeltaWriter.write(Seq((100L, "late", 2)).toDF("id", "payload", "p"),
        dir, SaveMode.Append, Nil)
    })
    assert(m.committedVersion === 2L) // v0 create, v1 append, v2 delete
    val ids = DeltaTable.read(spark, dir).select("id").as[Long].collect().toSet
    assert(!ids.exists(_ % 4 == 1), "partition 1 deleted")
    assert(ids.contains(100L), "concurrent append to partition 2 survived")
  }

  test("concurrent DELETEs on disjoint partitions both commit") {
    val dir = partitionedTable()
    val m = DeltaDml.delete(spark, dir, "p = 1", beforeCommit = () => {
      DeltaDml.delete(spark, dir, "p = 3")
    })
    assert(m.committedVersion === 2L)
    val ps = DeltaTable.read(spark, dir).select("p").distinct()
      .as[Int].collect().sorted.toSeq
    assert(ps === Seq(0, 2))
  }

  test("concurrent MERGEs upserting the same ABSENT key: the loser aborts, no duplicate insert") {
    val dir = TestSpark.tempDir("graft-merge-race")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    def upsert(beforeCommit: () => Unit): Unit =
      DeltaMerge.merge(spark, dir,
        Seq((100L, "new")).toDF("id", "v"), "t.id = s.id",
        matched = Seq(MergeClause.Matched(Some(Map("v" -> "s.v")))),
        notMatched = Seq(MergeClause.NotMatched(Map("id" -> "s.id", "v" -> "s.v"))),
        bySource = Nil, schemaEvolution = false, txn = None,
        beforeCommit = beforeCommit)
    // both merges read "id=100 absent" from the same state; the winner's
    // insert is a NON-blind add in the loser's read set — without the
    // read-set rule BOTH would insert (duplicate key, no serial order)
    val e = intercept[java.util.ConcurrentModificationException] {
      upsert(beforeCommit = () => upsert(beforeCommit = () => ()))
    }
    assert(e.getMessage.contains("read set"), s"unexpected abort reason: ${e.getMessage}")
    assert(DeltaTable.read(spark, dir).filter($"id" === 100L).count() === 1L,
      "exactly one merge's insert must land")
  }

  test("MERGE proceeds past a concurrent BLIND append (WriteSerializable exemption)") {
    val dir = TestSpark.tempDir("graft-merge-append")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    val m = DeltaMerge.merge(spark, dir,
      Seq((100L, "new")).toDF("id", "v"), "t.id = s.id",
      matched = Seq(MergeClause.Matched(Some(Map("v" -> "s.v")))),
      notMatched = Seq(MergeClause.NotMatched(Map("id" -> "s.id", "v" -> "s.v"))),
      bySource = Nil, schemaEvolution = false, txn = None,
      beforeCommit = () =>
        // a blind append reads nothing: it serializes BEFORE the merge
        DeltaWriter.write(Seq((50L, "late")).toDF("id", "v"), dir, SaveMode.Append, Nil))
    assert(m.rowsInserted === 1L)
    assert(DeltaTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 50L, 100L))
  }

  test("read-set surface classification: appends are blind; RESTORE re-adds are not") {
    val dir = TestSpark.tempDir("graft-readset-cls")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)                       // v0: blind append
    DeltaDml.delete(spark, dir, "id >= 1")             // v1: delete-all (removes only)
    DeltaMaintenance.restore(spark, dir, 0L)           // v2: re-adds v0's file, NO removes
    DeltaWriter.write(Seq((9L, "z")).toDF("id", "v"), dir, SaveMode.Append, Nil) // v3: blind
    // the RESTORE's re-add must surface (its adds come from a history a
    // concurrent reader never saw — structural no-removes must NOT make
    // it blind); the appends must stay exempt
    val v2Adds = DeltaLog.nonBlindDataAdds(spark, dir, 1L, 2L)
    assert(v2Adds.nonEmpty, "RESTORE re-adds must be read-set relevant")
    assert(DeltaLog.nonBlindDataAdds(spark, dir, 2L, 3L).isEmpty,
      "a blind append must stay exempt from read-set conflicts")
  }

  test("row-level DML aborts when a concurrent MERGE added data in its read scope") {
    val dir = TestSpark.tempDir("graft-dml-readset")
    DeltaWriter.write((1 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "payload")
      .coalesce(1), dir, SaveMode.Append, Nil)
    // the MERGE inserts a row the DELETE's unpartitioned predicate cannot
    // be proven disjoint from — the DELETE's decisions are stale
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaDml.delete(spark, dir, "id <= 5", beforeCommit = () => {
        DeltaMerge.merge(spark, dir, Seq((100L, "merged")).toDF("id", "payload"),
          "t.id = s.id",
          matched = Nil,
          notMatched = Seq(MergeClause.NotMatched(Map("id" -> "s.id", "payload" -> "s.payload"))),
          bySource = Nil, schemaEvolution = false)
      })
    }
    assert(e.getMessage.contains("read set"), s"unexpected abort reason: ${e.getMessage}")
  }

  test("overlapping-file DML still aborts, and the loser's changes do not land") {
    val dir = TestSpark.tempDir("graft-conflict")
    DeltaWriter.write((1 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "payload")
      .coalesce(1), dir, SaveMode.Append, Nil)
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaDml.delete(spark, dir, "id <= 5", beforeCommit = () => {
        DeltaDml.delete(spark, dir, "id >= 15") // same single file
      })
    }
    assert(e.getMessage.contains("DELETE aborted"))
    val ids = DeltaTable.read(spark, dir).select("id").as[Long].collect().toSet
    assert(ids === (1L to 14L).toSet, "winner applied, loser fully rolled back")
  }

  test("a concurrent metadata change aborts in-flight DML") {
    val dir = partitionedTable()
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaDml.delete(spark, dir, "p = 1", beforeCommit = () => {
        spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
          "('graft.test.marker' = 'on')")
      })
    }
    assert(e.getMessage.contains("metadata changed concurrently"))
    // nothing from the aborted DELETE landed
    assert(DeltaTable.read(spark, dir).count() === 40)
  }

  test("a concurrent DV attach aborts a copy-on-write rewrite of the same file") {
    val dir = TestSpark.tempDir("graft-conflict")
    DeltaWriter.write((1 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "payload")
      .coalesce(1), dir, SaveMode.Append, Nil)
    // the copy-on-write rewrite is staged from the PRE-DV state; letting it
    // commit would resurrect the DV-deleted row — the entry-changed rule
    // (not just live/gone) must catch it
    intercept[java.util.ConcurrentModificationException] {
      DeltaDml.delete(spark, dir, "id <= 5", beforeCommit = () => {
        DeltaDml.deleteWithDv(spark, dir, "id = 7")
      })
    }
    val ids = DeltaTable.read(spark, dir).select("id").as[Long].collect().toSet
    assert(!ids.contains(7L), "DV delete holds — no resurrection")
    assert(ids.contains(5L), "aborted copy-on-write delete did not apply")
  }

  test("mixed concurrent append/DELETE/OPTIMIZE stress serializes to the serial result") {
    // N genuinely-racing writers (real Futures, no injection seams):
    //  - 4 appends (always disjoint — must commit, possibly after version
    //    retries inside the writer)
    //  - 2 DELETEs on DISJOINT partitions (commit after internal retries)
    //  - 1 DELETE OVERLAPPING another's partition (file-level conflict →
    //    clean ConcurrentModificationException abort; the spec retries it
    //    like a production client until it commits on fresh state)
    //  - 1 OPTIMIZE WHERE on its own partition
    // Success = every op commits exactly once, the log is linear, and the
    // final snapshot equals the SERIAL result of the 8 operations.
    val dir = TestSpark.tempDir("graft-stress")
    // 3 seed commits so every partition holds 3 files (gives OPTIMIZE real
    // work and DELETEs multiple touched files)
    (0 until 3).foreach { b =>
      DeltaWriter.write(
        (1 to 40).map(i => ((b * 40 + i).toLong, s"r${b * 40 + i}", i % 4))
          .toDF("id", "payload", "p"),
        dir, SaveMode.Append, Seq("p"))
    }

    // client-style retry: a logical-conflict abort re-runs the op on the
    // fresh snapshot; anything else propagates
    val aborts = new java.util.concurrent.atomic.AtomicInteger(0)
    def untilCommitted(op: () => Unit): Unit = {
      var done = false
      var attempts = 0
      while (!done && attempts < 20) {
        try { op(); done = true }
        catch {
          case _: java.util.ConcurrentModificationException =>
            aborts.incrementAndGet(); attempts += 1
        }
      }
      assert(done, "op failed to commit within 20 conflict retries")
    }

    val ops: Seq[() => Unit] = Seq(
      () => DeltaWriter.write(Seq((201L, "a1", 0)).toDF("id", "payload", "p"),
        dir, SaveMode.Append, Seq("p")),
      () => DeltaWriter.write(Seq((202L, "a2", 1)).toDF("id", "payload", "p"),
        dir, SaveMode.Append, Seq("p")),
      () => DeltaWriter.write(Seq((203L, "a3", 2)).toDF("id", "payload", "p"),
        dir, SaveMode.Append, Seq("p")),
      () => DeltaWriter.write(Seq((204L, "a4", 3)).toDF("id", "payload", "p"),
        dir, SaveMode.Append, Seq("p")),
      () => DeltaDml.delete(spark, dir, "p = 1 AND id <= 40"),
      () => DeltaDml.delete(spark, dir, "p = 3 AND id <= 40"),
      () => DeltaDml.delete(spark, dir, "p = 1 AND id > 40 AND id <= 80"), // overlaps p=1
      () => DeltaMaintenance.optimize(spark, dir, 128L << 20, Some("p = 0")))

    Await.result(
      Future.sequence(ops.map(op => Future(untilCommitted(op)))), 300.seconds)

    // linear history: 3 seeds + 8 ops, each committed exactly once
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version === 10L,
      s"expected versions 0..10 (3 seeds + 8 ops), got ${snap.version}")
    // serial-equivalent final state
    val deleted = (1 to 120).filter(i =>
      (i % 4 == 1 && i <= 40) || (i % 4 == 3 && i <= 40) ||
        (i % 4 == 1 && i > 40 && i <= 80)).map(_.toLong).toSet
    val expected = (1L to 120L).toSet -- deleted ++ Set(201L, 202L, 203L, 204L)
    val got = DeltaTable.read(spark, dir).select("id").as[Long].collect().toSet
    assert(got === expected, "final snapshot must equal the serial result")
    // every intermediate version replays cleanly
    (0L to 10L).foreach { v =>
      DeltaTable.readVersion(spark, dir, v).count()
    }
  }

  test("OPTIMIZE proceeds past a disjoint concurrent append, aborts when its sources change") {
    val dir = TestSpark.tempDir("graft-conflict")
    (1 to 3).foreach { i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i", 1), (i + 10L, s"s$i", 2))
        .toDF("id", "payload", "p"), dir, SaveMode.Append, Seq("p"))
    }
    // disjoint append interleaves: OPTIMIZE still commits
    val m = DeltaMaintenance.optimize(spark, dir, 128L << 20, Some("p = 1"), () => {
      DeltaWriter.write(Seq((99L, "late", 2)).toDF("id", "payload", "p"),
        dir, SaveMode.Append, Nil)
    })
    assert(m.filesRemoved === 3)
    assert(DeltaTable.read(spark, dir).count() === 7)
    // overlapping rewrite aborts: a DELETE rewrites the files OPTIMIZE is
    // about to replace
    intercept[java.util.ConcurrentModificationException] {
      DeltaMaintenance.optimize(spark, dir, 128L << 20, Some("p = 2"), () => {
        DeltaDml.delete(spark, dir, "p = 2 AND id = 11")
      })
    }
    assert(DeltaTable.read(spark, dir).filter("p = 2").count() === 3)
  }

  test("a deferred commit attempt's two incremental rules share ONE range parse") {
    // checkRewrite and checkReadSet both read the intervening
    // commit JSONs; the r17-documented residual was parsing that
    // (immutable) range twice per attempt — they must now share one
    // memoized parse (DeltaLog.conflictRange). Result equality cannot see
    // the difference, so pin the parse counter.
    val dir = partitionedTable()
    withPlane("frame") {
      val before = DeltaLog.conflictRangeParses.get()
      val m = DeltaDml.delete(spark, dir, "p = 1", beforeCommit = () => {
        DeltaWriter.write(Seq((100L, "late", 2)).toDF("id", "payload", "p"),
          dir, SaveMode.Append, Nil)
      })
      assert(m.committedVersion === 2L, "disjoint concurrent append: DML commits")
      val parses = DeltaLog.conflictRangeParses.get() - before
      assert(parses === 1L,
        s"rewrite + read-set rules over one intervening range must cost ONE parse, got $parses")
    }
    // the driver plane runs the same touched-file rule: an OPTIMIZE
    // attempt reads the intervening commits too, instead of comparing
    // against a re-read live set
    val opt = TestSpark.tempDir("graft-conflict-driver")
    (1 to 3).foreach { i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i", 1), (i + 10L, s"s$i", 2))
        .toDF("id", "payload", "p"), opt, SaveMode.Append, Seq("p"))
    }
    withPlane("driver") {
      val before = DeltaLog.conflictRangeParses.get()
      val m = DeltaMaintenance.optimize(spark, opt, 128L << 20, Some("p = 1"), () => {
        DeltaWriter.write(Seq((99L, "late", 2)).toDF("id", "payload", "p"),
          opt, SaveMode.Append, Nil)
      })
      assert(m.filesRemoved === 3 && m.committedVersion === 4L,
        "disjoint concurrent append: OPTIMIZE commits")
      val parses = DeltaLog.conflictRangeParses.get() - before
      assert(parses === 1L,
        s"the touched-file rule must parse the intervening range once, got $parses")
    }
  }
}
