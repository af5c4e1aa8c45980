package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaDml, DeltaLog, DeltaTable, DeltaWriter}

/** Copy-on-write DELETE / UPDATE specs: only touched files are rewritten,
  * SET is simultaneous, history survives, concurrent removals abort. */
class DeltaDmlSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Partitioned table: partitions a/b, two files each (two appends). */
  private def freshTable(): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-dml")
    (0 until 2).foreach { i =>
      val df = Seq(
        (i * 10 + 1, "a", 100 + i), (i * 10 + 2, "a", 200 + i),
        (i * 10 + 3, "b", 300 + i), (i * 10 + 4, "b", 400 + i))
        .toDF("id", "k", "v").coalesce(1) // one file per hive partition per append
      DeltaWriter.write(df, dir, SaveMode.Append, Seq("k"))
    }
    dir
  }

  test("delete rewrites only files containing matching rows") {
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir)
    assert(before.files.size === 4)

    // predicate matches rows in partition a, second append only (v >= 201)
    val m = DeltaDml.delete(spark, dir, "k = 'a' AND v >= 201")
    assert(m.rowsAffected === 1)   // (12, a, 201)
    assert(m.filesRewritten === 1) // only the one a-file from append #2
    assert(m.committedVersion === before.version + 1)

    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("k"), r.getAs[Int]("v"))).toSeq
    assert(rows === Seq(
      (1, "a", 100), (2, "a", 200), (3, "b", 300), (4, "b", 400),
      (11, "a", 101), (13, "b", 301), (14, "b", 401)))

    // untouched files carried over byte-identically (same add paths)
    val after = DeltaLog.snapshot(spark, dir)
    val beforePaths = before.files.map(_.path).toSet
    assert(after.files.count(f => beforePaths.contains(f.path)) === 3)

    // time travel still sees the deleted row
    assert(DeltaTable.readVersion(spark, dir, before.version).count() === 8)
  }

  test("DELETE keeps rows whose predicate evaluates to NULL (SQL three-valued logic)") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-dml-null")
    DeltaWriter.write(
      Seq((1L, Some(1)), (2L, Some(10)), (3L, None))
        .toDF("id", "x").coalesce(1),
      dir, SaveMode.Append, Nil)
    // x > 5 is TRUE for id=2, FALSE for id=1, NULL for id=3: SQL DELETE
    // removes only TRUE rows — a bare NOT(condition) keep-filter would
    // silently destroy the NULL row (NOT NULL = NULL = dropped)
    val m = DeltaDml.delete(spark, dir, "x > 5")
    assert(m.rowsAffected === 1)
    val left = DeltaTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
    assert(left === Seq(1L, 3L), "the NULL-predicate row must survive the delete")
  }

  test("UPDATE SET evaluating NULL into a non-nullable column fails loudly") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-dml-nn")
    // Long/Int primitives make toDF schema non-nullable — id and v are
    // NOT NULL columns in the table schema
    DeltaWriter.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    val e = intercept[Exception] {
      DeltaDml.update(spark, dir, "id = 2",
        Map("v" -> "IF(id = 2, CAST(NULL AS BIGINT), v)"))
    }
    // the raise_error fires inside the staging write; the NOT NULL text
    // may sit anywhere down the wrapped-cause chain
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("NOT NULL"),
      s"expected a NOT NULL violation, got: $chain")
    // nothing committed: the table still reads the original values
    assert(DeltaTable.read(spark, dir).select("v").as[Long].collect().sorted.toSeq
      === Seq(10L, 20L))
    // and nothing LEAKED: the failed staging write must roll back its
    // _staging-<uuid> dir, and the table dir must hold exactly the
    // snapshot's live files (no orphan part files awaiting a
    // retention-delayed VACUUM)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSet
    assert(!entries.exists(_.startsWith("_staging-")),
      s"staging dir leaked: $entries")
    val live = DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
    val orphans = entries.filter(_.endsWith(".parquet")) -- live
    assert(orphans.isEmpty, s"orphan data files leaked: $orphans")
  }

  test("delete matching nothing is a no-op (no commit)") {
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir)
    val m = DeltaDml.delete(spark, dir, "v > 100000")
    assert(m.rowsAffected === 0 && m.committedVersion === before.version)
    assert(DeltaLog.snapshot(spark, dir).version === before.version)
  }

  test("update applies SET simultaneously against the pre-update row") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-dml-swap")
    DeltaWriter.write(
      Seq((1, 10, 20), (2, 30, 40)).toDF("id", "x", "y"),
      dir, SaveMode.Append, Nil)
    // swap: both expressions must see the ORIGINAL x and y
    val m = DeltaDml.update(spark, dir, "id = 1", Map("x" -> "y", "y" -> "x"))
    assert(m.rowsAffected === 1)
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("x"), r.getAs[Int]("y"))).toSeq
    assert(rows === Seq((1, 20, 10), (2, 30, 40)))
  }

  test("update rejects SET on a partition column or unknown column") {
    val dir = freshTable()
    intercept[IllegalArgumentException] {
      DeltaDml.update(spark, dir, "id = 1", Map("k" -> "'z'"))
    }
    intercept[IllegalArgumentException] {
      DeltaDml.update(spark, dir, "id = 1", Map("nope" -> "1"))
    }
  }

  test("delete aborts when a concurrent commit removed a touched file") {
    val dir = freshTable()
    // race injected at the seam: overwrite the whole table (removing every
    // live file) after DELETE staged its rewrite but before it commits
    val ex = intercept[java.util.ConcurrentModificationException] {
      DeltaDml.delete(spark, dir, "k = 'a'", { () =>
        import spark.implicits._
        DeltaWriter.write(
          Seq((99, "a", 999)).toDF("id", "k", "v"),
          dir, SaveMode.Overwrite, Seq("k"))
      })
    }
    assert(ex.getMessage.contains("DELETE aborted"))
    // the concurrent overwrite's data is intact; no stale rewrite leaked
    val rows = DeltaTable.read(spark, dir)
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("k"), r.getAs[Int]("v"))).toSeq
    assert(rows === Seq((99, "a", 999)))
  }

  test("history records DELETE and UPDATE operations") {
    val dir = freshTable()
    DeltaDml.delete(spark, dir, "v = 400")
    DeltaDml.update(spark, dir, "v = 300", Map("v" -> "v + 1"))
    val ops = graft.sources.delta.DeltaMaintenance.history(spark, dir)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.take(2) === Seq("UPDATE", "DELETE"))
  }

  test("replaceWhere overwrites exactly the matching slice; other partitions' files untouched") {
    import spark.implicits._
    val dir = freshTable() // partitions a/b, 2 files each, 8 rows
    val bFilesBefore = DeltaLog.snapshot(spark, dir).files
      .filter(_.partitionValues.get("k").contains("b")).map(_.path).toSet

    // backfill partition a with two fresh rows
    Seq((91, "a", 910), (92, "a", 920)).toDF("id", "k", "v")
      .write.format("delta").mode(SaveMode.Overwrite)
      .option("replaceWhere", "k = 'a'").save(dir)

    val after = DeltaTable.read(spark, dir)
    assert(after.filter("k = 'a'").orderBy("id")
      .collect().map(_.getInt(0)).toSeq === Seq(91, 92))
    assert(after.filter("k = 'b'").count() === 4) // untouched
    val bFilesAfter = DeltaLog.snapshot(spark, dir).files
      .filter(_.partitionValues.get("k").contains("b")).map(_.path).toSet
    assert(bFilesAfter === bFilesBefore, "partition b files must not be rewritten")

    // new rows violating the predicate are rejected before any commit
    val vBefore = DeltaLog.snapshot(spark, dir).version
    intercept[Exception] {
      Seq((93, "b", 930)).toDF("id", "k", "v")
        .write.format("delta").mode(SaveMode.Overwrite)
        .option("replaceWhere", "k = 'a'").save(dir)
    }
    assert(DeltaLog.snapshot(spark, dir).version === vBefore)
  }

  test("replaceWhere with a row-level (non-partition) predicate keeps non-matching rows of touched files") {
    import spark.implicits._
    val dir = freshTable()
    // replace only v >= 300 (partition b holds 300/301/400/401)
    Seq((77, "b", 777)).toDF("id", "k", "v")
      .write.format("delta").mode(SaveMode.Overwrite)
      .option("replaceWhere", "v >= 300").save(dir)
    val got = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("k"), r.getAs[Int]("v"))).toSeq
    assert(got.count(_._2 == "a") === 4)      // partition a fully intact
    assert(got.filter(_._2 == "b").map(_._1) === Seq(77)) // b rows replaced
  }

  test("delta.appendOnly=true refuses every data-removing operation, allows appends") {
    import spark.implicits._
    import graft.sources.delta.{DeltaMaintenance, DeltaMerge, DeltaSchema}
    val dir = freshTable()
    DeltaSchema.setTblProperties(spark, dir, Map("delta.appendOnly" -> "true"))
    def refused(op: => Any): String =
      intercept[UnsupportedOperationException](op).getMessage
    assert(refused(DeltaDml.delete(spark, dir, "v >= 300")).contains("append-only"))
    assert(refused(DeltaDml.update(spark, dir, "v >= 300", Map("v" -> "v + 1")))
      .contains("append-only"))
    assert(refused(DeltaDml.deleteWithDv(spark, dir, "v >= 300")).contains("append-only"))
    assert(refused(DeltaMerge.merge(spark, dir,
      Seq((1, "a", 999)).toDF("id", "k", "v"), "t.id = s.id",
      matchedUpdate = Some(Map("v" -> "s.v")), matchedDelete = false,
      notMatchedInsert = None)).contains("append-only"))
    assert(refused(DeltaMaintenance.replaceWhere(spark, dir,
      Seq((77, "b", 700)).toDF("id", "k", "v"), "k = 'b'")).contains("append-only"))
    assert(refused(DeltaMaintenance.restore(spark, dir, 0L)).contains("append-only"))
    assert(refused(DeltaWriter.write(Seq((99, "a", 900)).toDF("id", "k", "v"),
      dir, SaveMode.Overwrite, Seq("k"))).contains("append-only"))
    // appends and insert-only MERGE commit no removes: still legal
    DeltaWriter.write(Seq((50, "a", 500)).toDF("id", "k", "v").coalesce(1),
      dir, SaveMode.Append, Seq("k"))
    DeltaMerge.merge(spark, dir,
      Seq((60, "b", 600)).toDF("id", "k", "v"), "t.id = s.id",
      matchedUpdate = None, matchedDelete = false,
      notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v")))
    // OPTIMIZE's removes are dataChange=false — compaction stays legal
    DeltaMaintenance.optimize(spark, dir)
    assert(DeltaTable.read(spark, dir).count() === 10)
  }
}
