package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaMerge, DeltaTable, DeltaWriter}

/** MERGE (upsert) specs: update+insert, delete clause, insert-only,
  * cardinality violation, untouched-file carry-over. */
class DeltaMergeSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  /** Target table: ids 1..4 in partition a/b (two files). */
  private def freshTable(): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-merge")
    DeltaWriter.write(
      Seq((1, "a", 100), (2, "a", 200), (3, "b", 300), (4, "b", 400))
        .toDF("id", "k", "v").coalesce(1),
      dir, SaveMode.Append, Seq("k"))
    dir
  }

  test("merge: matched update + not-matched insert") {
    import spark.implicits._
    val dir = freshTable()
    val source = Seq((2, "a", 999), (5, "b", 500)).toDF("id", "k", "v")
    val m = DeltaMerge.merge(
      spark, dir, source,
      condition = "t.id = s.id",
      matchedUpdate = Some(Map("v" -> "s.v")),
      notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v")))
    assert(m.rowsUpdated === 1)
    assert(m.rowsInserted === 1)
    assert(m.rowsDeleted === 0)
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("k"), r.getAs[Int]("v"))).toSeq
    assert(rows === Seq(
      (1, "a", 100), (2, "a", 999), (3, "b", 300), (4, "b", 400), (5, "b", 500)))
  }

  test("merge: untouched partition's file is carried over, not rewritten") {
    import spark.implicits._
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir)
    val source = Seq((1, 111)).toDF("id", "nv")
    val m = DeltaMerge.merge(
      spark, dir, source,
      condition = "t.id = s.id AND t.k = 'a'",
      matchedUpdate = Some(Map("v" -> "s.nv")))
    assert(m.filesRewritten === 1)
    val after = DeltaLog.snapshot(spark, dir)
    val beforePaths = before.files.map(_.path).toSet
    assert(after.files.count(f => beforePaths.contains(f.path)) === 1) // the b file
  }

  test("merge: matched delete") {
    import spark.implicits._
    val dir = freshTable()
    val source = Seq((2, 0), (3, 0)).toDF("id", "x")
    val m = DeltaMerge.merge(
      spark, dir, source,
      condition = "t.id = s.id",
      matchedDelete = true)
    assert(m.rowsDeleted === 2)
    assert(DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(_.getAs[Int]("id")).toSeq === Seq(1, 4))
  }

  test("merge: insert-only (no matched clause) rewrites nothing") {
    import spark.implicits._
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir)
    // ids 2 and 4 exist in the two partition files, which an insert-only
    // merge never touches: its anti join must still read them
    val source = Seq((2, "a", 9), (4, "b", 44), (7, "a", 700)).toDF("id", "k", "v")
    val m = DeltaMerge.merge(
      spark, dir, source,
      condition = "t.id = s.id",
      notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v")))
    assert(m.rowsInserted === 1) // ids 2 and 4 match → not inserted
    assert(m.filesRewritten === 0)
    val after = DeltaLog.snapshot(spark, dir)
    assert(before.files.map(_.path).toSet.subsetOf(after.files.map(_.path).toSet))
    assert(DeltaTable.read(spark, dir).count() === 5)
  }

  test("merge: a target row matched by two source rows is a cardinality violation") {
    import spark.implicits._
    val dir = freshTable()
    val source = Seq((2, 1), (2, 2)).toDF("id", "x")
    val ex = intercept[UnsupportedOperationException] {
      DeltaMerge.merge(
        spark, dir, source,
        condition = "t.id = s.id",
        matchedUpdate = Some(Map("v" -> "s.x")))
    }
    assert(ex.getMessage.contains("cardinality"))
    // table unchanged — no commit happened
    assert(DeltaLog.snapshot(spark, dir).version === 0)
    assert(DeltaTable.read(spark, dir).count() === 4)
  }

  test("merge: unassigned NULLABLE insert columns become NULL; non-nullable ones are rejected") {
    import spark.implicits._
    // Seq.toDF makes primitive columns non-nullable: an unassigned insert
    // into such a column must be REJECTED (production NOT NULL constraint)
    val strictDir = freshTable()
    val ex = intercept[IllegalArgumentException] {
      DeltaMerge.merge(
        spark, strictDir, Seq((8, "a")).toDF("id", "k"),
        condition = "t.id = s.id",
        notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k")))
    }
    assert(ex.getMessage.contains("non-nullable"))

    // with a nullable target column the NULL-fill works end to end
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("k", StringType, nullable = true),
      StructField("v", IntegerType, nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1, "a", Integer.valueOf(100)))
    val dir = TestSpark.tempDir("graft-merge-null")
    DeltaWriter.write(spark.createDataFrame(rows, schema), dir, SaveMode.Append, Seq("k"))
    DeltaMerge.merge(
      spark, dir, Seq((8, "a")).toDF("id", "k"),
      condition = "t.id = s.id",
      notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k")))
    val row = DeltaTable.read(spark, dir).filter(col("id") === 8).collect()(0)
    assert(row.isNullAt(row.fieldIndex("v")))
  }

  import graft.sources.delta.MergeClause.{Matched, NotMatched, NotMatchedBySource}

  test("merge: multiple conditional MATCHED clauses apply first-match-wins") {
    import spark.implicits._
    val dir = freshTable() // ids 1..4, v = 100..400
    val source = Seq((1, 10), (2, 20), (3, 30)).toDF("id", "x")
    val m = DeltaMerge.merge(
      spark, dir, source, "t.id = s.id",
      matched = Seq(
        // id=1 satisfies BOTH conditions: the first clause must win
        Matched(None, condition = Some("t.v <= 200 AND s.x = 10")),
        Matched(Some(Map("v" -> "t.v + s.x")), condition = Some("t.v <= 300"))),
      notMatched = Nil, bySource = Nil, schemaEvolution = false)
    assert(m.rowsDeleted === 1) // id=1 via clause 1
    assert(m.rowsUpdated === 2) // ids 2,3 via clause 2
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
    assert(rows === Seq((2, 220), (3, 330), (4, 400)))
  }

  test("merge: WHEN NOT MATCHED BY SOURCE deletes/updates unmatched target rows") {
    import spark.implicits._
    val dir = freshTable() // ids 1..4
    val source = Seq((1, 0), (2, 0)).toDF("id", "x")
    // the retention shape: refresh matched rows, expire unmatched ones
    val m = DeltaMerge.merge(
      spark, dir, source, "t.id = s.id",
      matched = Seq(Matched(Some(Map("v" -> "t.v + 1")))),
      notMatched = Nil,
      bySource = Seq(
        NotMatchedBySource(None, condition = Some("t.v >= 400")),
        NotMatchedBySource(Some(Map("v" -> "-1")))),
      schemaEvolution = false)
    assert(m.rowsUpdated === 3) // 1,2 matched-update; 3 by-source-update
    assert(m.rowsDeleted === 1) // 4 by-source-delete
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
    assert(rows === Seq((1, 101), (2, 201), (3, -1)))
  }

  test("merge: by-source-only merge carries multi-match rows exactly once") {
    import spark.implicits._
    val dir = freshTable()
    // id=2 matches TWO source rows; with no MATCHED clause that is legal
    // (production only errors when a matched row would be modified) and the
    // row must come through exactly once
    val source = Seq((2, 1), (2, 2)).toDF("id", "x")
    val m = DeltaMerge.merge(
      spark, dir, source, "t.id = s.id",
      matched = Nil, notMatched = Nil,
      bySource = Seq(NotMatchedBySource(Some(Map("v" -> "0")))),
      schemaEvolution = false)
    assert(m.rowsUpdated === 3) // 1, 3, 4 zeroed; 2 carried
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
    assert(rows === Seq((1, 0), (2, 200), (3, 0), (4, 0)))
  }

  test("merge: conditional NOT MATCHED clauses route inserts; leftovers dropped") {
    import spark.implicits._
    val dir = freshTable()
    val source = Seq((10, "a", 1), (11, "b", -1), (12, "a", -99)).toDF("id", "k", "v")
    val m = DeltaMerge.merge(
      spark, dir, source, "t.id = s.id",
      matched = Nil,
      notMatched = Seq(
        NotMatched(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v"), Some("s.v > 0")),
        NotMatched(Map("id" -> "s.id", "k" -> "s.k", "v" -> "0"), Some("s.v = -1"))),
      bySource = Nil, schemaEvolution = false)
    assert(m.rowsInserted === 2) // id=12 satisfies no clause -> dropped
    val rows = DeltaTable.read(spark, dir).filter(col("id") >= 10).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
    assert(rows === Seq((10, 1), (11, 0)))
  }

  test("merge: full multi-clause SQL surface incl. BY SOURCE") {
    import spark.implicits._
    val dir = freshTable()
    Seq((2, "a", 999), (9, "b", 900), (8, "b", -8)).toDF("id", "k", "v")
      .createOrReplaceTempView("merge_multi_src")
    val res = spark.sql(
      s"""MERGE INTO delta.`$dir` t USING merge_multi_src s ON t.id = s.id
         |WHEN MATCHED AND t.v < 150 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED AND s.v > 0 THEN INSERT (id, k, v) VALUES (s.id, s.k, s.v)
         |WHEN NOT MATCHED BY SOURCE AND t.v >= 400 THEN UPDATE SET v = t.v * 10
         |""".stripMargin).collect()(0)
    assert((res.getLong(0), res.getLong(1), res.getLong(2)) === ((2L, 0L, 1L)))
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
    // 1 untouched (v=100 matched nothing: not in source, v<400), 2 updated,
    // 3 untouched, 4 by-source-updated, 8 dropped (v<0), 9 inserted
    assert(rows === Seq((1, 100), (2, 999), (3, 300), (4, 4000), (9, 900)))
  }

  test("merge: CDF records per-clause change rows for a multi-clause merge") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-merge-cdf")
    DeltaWriter.write(
      Seq((1, 100), (2, 200), (3, 300)).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    val source = Seq((1, 0), (7, 700)).toDF("id", "v")
    DeltaMerge.merge(
      spark, dir, source, "t.id = s.id",
      matched = Seq(Matched(Some(Map("v" -> "s.v")))),
      notMatched = Seq(NotMatched(Map("id" -> "s.id", "v" -> "s.v"))),
      bySource = Seq(NotMatchedBySource(None, condition = Some("t.v = 300"))),
      schemaEvolution = false)
    // the merge commit is v2 (v0 write, v1 enable-CDF tblproperties)
    val changes = graft.sources.delta.DeltaCdf.read(spark, dir, 1, 2)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"), r.getAs[String]("_change_type")))
      .toSet
    assert(changes === Set(
      (1, 100, "update_preimage"), (1, 0, "update_postimage"),
      (3, 300, "delete"), (7, 700, "insert")))
  }

  test("merge: appendOnly refuses BY SOURCE clauses, allows insert-only") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-merge-ao")
    DeltaWriter.write(Seq((1, 100)).toDF("id", "v"), dir, SaveMode.Append, Nil)
    graft.sources.delta.DeltaSchema.setTblProperties(
      spark, dir, Map("delta.appendOnly" -> "true"))
    val source = Seq((2, 200)).toDF("id", "v")
    val ex = intercept[UnsupportedOperationException] {
      DeltaMerge.merge(spark, dir, source, "t.id = s.id",
        matched = Nil, notMatched = Nil,
        bySource = Seq(NotMatchedBySource(None)), schemaEvolution = false)
    }
    assert(ex.getMessage.contains("append-only"))
    val m = DeltaMerge.merge(spark, dir, source, "t.id = s.id",
      matched = Nil,
      notMatched = Seq(NotMatched(Map("id" -> "s.id", "v" -> "s.v"))),
      bySource = Nil, schemaEvolution = false)
    assert(m.rowsInserted === 1)
  }

  test("merge: schema evolution appends assigned new columns, NULL elsewhere") {
    import spark.implicits._
    val dir = freshTable() // schema (id, k, v)
    val source = Seq((2, "a", 999, "beta"), (5, "b", 500, "eps"))
      .toDF("id", "k", "v", "tag")
    // without the flag: loud refusal naming the column
    val ex = intercept[IllegalArgumentException] {
      DeltaMerge.merge(spark, dir, source, "t.id = s.id",
        matched = Seq(Matched(Some(Map("v" -> "s.v", "tag" -> "s.tag")))),
        notMatched = Nil, bySource = Nil, schemaEvolution = false)
    }
    assert(ex.getMessage.contains("tag") && ex.getMessage.contains("schemaEvolution"))
    val m = DeltaMerge.merge(spark, dir, source, "t.id = s.id",
      matched = Seq(Matched(Some(Map("v" -> "s.v", "tag" -> "s.tag")))),
      notMatched = Seq(NotMatched(
        Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v", "tag" -> "s.tag"))),
      bySource = Nil, schemaEvolution = true)
    assert(m.rowsUpdated === 1 && m.rowsInserted === 1)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.schema.fieldNames.toSeq === Seq("id", "k", "v", "tag"))
    assert(snap.schema("tag").nullable)
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"), r.getAs[String]("tag"))).toSeq
    // untouched rows (1,3,4 — incl. rows in files the merge never rewrote)
    // read the new column as NULL
    assert(rows === Seq(
      (1, 100, null), (2, 999, "beta"), (3, 300, null), (4, 400, null), (5, 500, "eps")))
  }

  test("merge: schema evolution on a CDF-enabled table carries the new column in change rows") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-merge-evo-cdf")
    DeltaWriter.write(Seq((1, 100), (2, 200)).toDF("id", "v").coalesce(1),
      dir, SaveMode.Append, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    val source = Seq((1, 0, "x"), (9, 900, "y")).toDF("id", "v", "tag")
    DeltaMerge.merge(spark, dir, source, "t.id = s.id",
      matched = Seq(Matched(Some(Map("v" -> "s.v", "tag" -> "s.tag")))),
      notMatched = Seq(NotMatched(
        Map("id" -> "s.id", "v" -> "s.v", "tag" -> "s.tag"))),
      bySource = Nil, schemaEvolution = true) // v2: metaData + cdc in ONE commit
    val changes = graft.sources.delta.DeltaCdf.read(spark, dir, 1, 2)
      .select("id", "v", "tag", "_change_type").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"),
        if (r.isNullAt(2)) null else r.getString(2), r.getString(3))).toSet
    assert(changes === Set(
      (1, 100, null, "update_preimage"),
      (1, 0, "x", "update_postimage"),
      (9, 900, "y", "insert")))
    // the table itself evolved; untouched row reads NULL for the new col
    assert(DeltaTable.read(spark, dir).filter(col("id") === 2)
      .select("tag").collect()(0).isNullAt(0))
  }

  test("merge: SQL INSERT * with autoMerge evolves from the source schema") {
    import spark.implicits._
    val dir = freshTable()
    Seq((6, "b", 600, 3.5)).toDF("id", "k", "v", "w")
      .createOrReplaceTempView("merge_evolve_src")
    // without the conf, INSERT * expands to the target schema: unknown
    // source extras are simply not referenced
    spark.sql(
      s"""MERGE INTO delta.`$dir` t USING merge_evolve_src s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(!DeltaLog.snapshot(spark, dir).schema.fieldNames.contains("w"))
    spark.conf.set("spark.graft.delta.schema.autoMerge.enabled", "true")
    try {
      Seq((7, "a", 700, 7.5)).toDF("id", "k", "v", "w")
        .createOrReplaceTempView("merge_evolve_src")
      spark.sql(
        s"""MERGE INTO delta.`$dir` t USING merge_evolve_src s ON t.id = s.id
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      val snap = DeltaLog.snapshot(spark, dir)
      assert(snap.schema.fieldNames.contains("w"))
      val got = DeltaTable.read(spark, dir).filter(col("id") === 7)
        .select("w").collect()(0).getDouble(0)
      assert(got === 7.5)
    } finally spark.conf.unset("spark.graft.delta.schema.autoMerge.enabled")
  }

  // --- insert anti-join: touched-file rows stand in for the full target

  test("merge: a source row whose only match fails the MATCHED condition is not inserted") {
    import spark.implicits._
    val dir = freshTable()
    // id 2 (v=200) matches but fails `t.v > 250`: carried, not updated, and
    // — matched under the ON condition — never inserted; id 3 updates, 6 inserts
    val source = Seq((2, "a", 222), (3, "b", 333), (6, "b", 666)).toDF("id", "k", "v")
    val m = DeltaMerge.merge(
      spark, dir, source, "t.id = s.id",
      matched = Seq(Matched(Some(Map("v" -> "s.v")), condition = Some("t.v > 250"))),
      notMatched = Seq(NotMatched(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v"))),
      bySource = Nil, schemaEvolution = false)
    assert((m.rowsUpdated, m.rowsInserted) === (1L, 1L))
    val rows = DeltaTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
    assert(rows === Seq((1, 100), (2, 200), (3, 333), (4, 400), (6, 666)))
  }

  test("merge: with no target row matched, every source row is inserted") {
    import spark.implicits._
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
    val source = Seq((7, "a", 700), (8, "b", 800), (9, "c", 900)).toDF("id", "k", "v")
    val m = DeltaMerge.merge(
      spark, dir, source, "t.id = s.id",
      matchedUpdate = Some(Map("v" -> "s.v")),
      notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v")))
    assert((m.rowsUpdated, m.rowsInserted, m.filesRewritten) === (0L, 3L, 0L))
    assert(before.subsetOf(DeltaLog.snapshot(spark, dir).files.map(_.path).toSet))
    assert(DeltaTable.read(spark, dir).orderBy("id").collect().map(_.getAs[Int]("id")).toSeq
      === Seq(1, 2, 3, 4, 7, 8, 9))
  }

  test("merge: CDF insert change rows are exactly the unmatched source rows") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-merge-cdf-ins")
    DeltaWriter.write(
      Seq((1, "a", 100), (2, "a", 200), (3, "b", 300)).toDF("id", "k", "v").coalesce(1),
      dir, SaveMode.Append, Seq("k"))
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    // id 2 matches a row in partition a's file; id 3 matches but fails the
    // clause condition; 5 and 6 match nothing
    val source = Seq((2, "a", 222), (3, "b", 333), (5, "a", 500), (6, "b", 600))
      .toDF("id", "k", "v")
    DeltaMerge.merge(
      spark, dir, source, "t.id = s.id",
      matched = Seq(Matched(Some(Map("v" -> "s.v")), condition = Some("s.v < 300"))),
      notMatched = Seq(NotMatched(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v"))),
      bySource = Nil, schemaEvolution = false)
    // the merge commit is v2: (1, 2] reads exactly its change rows
    val changes = graft.sources.delta.DeltaCdf.read(spark, dir, 1, 2)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"), r.getAs[String]("_change_type")))
      .toSet
    assert(changes === Set(
      (2, 200, "update_preimage"), (2, 222, "update_postimage"),
      (5, 500, "insert"), (6, 600, "insert")))
  }

  // ---- the two-execution shape: one find, one staging write ----

  /** Upsert `source` (id, k, v) into a [[freshTable]] by id. */
  private def upsert(dir: String, source: org.apache.spark.sql.DataFrame) =
    DeltaMerge.merge(spark, dir, source, condition = "t.id = s.id",
      matchedUpdate = Some(Map("v" -> "s.v")),
      notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v")))

  test("merge: a matched update plus inserts runs two executions, its jobs labeled by phase") {
    import spark.implicits._
    val dir = freshTable()
    val source = Seq((2, "a", 999), (5, "b", 500)).toDF("id", "k", "v")
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      var descs = Seq.empty[String]
      val execs = TestSpark.executionsDuring {
        descs = TestSpark.jobsDuring(upsert(dir, source))
      }
      // the find's collect and the staging write; nothing re-reads the
      // touched rows for a gate, a metrics pass or a second insert write
      assert(execs.size === 2, execs.mkString(","))
      assert(descs.toSet === Set("MERGE find", "MERGE write"), descs.mkString(","))
      assert(sc.getLocalProperty("spark.job.description") === "caller",
        "the caller's job description must be restored")
    } finally sc.setLocalProperty("spark.job.description", null)
    assert(DeltaTable.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq ===
      Seq((1, 100), (2, 999), (3, 300), (4, 400), (5, 500)))
  }

  test("merge: an empty source commits nothing") {
    import spark.implicits._
    val dir = freshTable()
    val m = upsert(dir, Seq.empty[(Int, String, Int)].toDF("id", "k", "v"))
    assert(m === graft.sources.delta.MergeMetrics(0, 0, 0, 0, 0))
    assert(DeltaLog.snapshot(spark, dir).version === 0)
  }

  test("merge: updated rows and inserted rows land in the same new files") {
    import spark.implicits._
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
    // partition a: id 2 updated, id 6 inserted; partition b: id 7 inserted
    // (partition b has no matched row, so its file is not rewritten)
    val m = upsert(dir, Seq((2, "a", 999), (6, "a", 600), (7, "b", 700)).toDF("id", "k", "v"))
    assert((m.rowsUpdated, m.rowsInserted, m.filesRewritten) === ((1L, 2L, 1L)))
    val added = DeltaLog.snapshot(spark, dir).files.filterNot(f => before.contains(f.path))
    // one file per partition the write touched: a (rewrite + insert), b
    assert(added.map(_.partitionValues("k")).sorted === Seq("a", "b"))
  }

  test("merge: a cardinality violation stages nothing") {
    import spark.implicits._
    val dir = freshTable()
    def listing(): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
        .map(_.toString).filterNot(_.contains("_delta_log")).toSet
      finally walk.close()
    }
    val before = listing()
    intercept[UnsupportedOperationException] {
      upsert(dir, Seq((2, "a", 1), (2, "a", 2), (9, "b", 9)).toDF("id", "k", "v"))
    }
    val after = listing()
    assert(after === before, s"new paths: ${(after -- before).mkString(", ")}")
    assert(!after.exists(_.contains("_staging-")))
  }

  test("merge: on a row-tracked table rewritten rows keep their ids, inserts take fresh ones") {
    import spark.implicits._
    import graft.sources.delta.RowTracking
    val dir = TestSpark.tempDir("graft-merge-rt")
    DeltaWriter.write((0 until 10).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      dir, SaveMode.Append, Nil)                                       // v0
    RowTracking.enable(spark, dir)                                     // v1
    def ids(): Map[Int, (Long, Long, String)] = RowTracking.readWithRowIds(spark, dir)
      .select(col("id"), col(RowTracking.RowIdCol), col(RowTracking.RowVersionCol),
        input_file_name())
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val before = ids()
    val hwm = before.values.map(_._1).max
    DeltaMerge.merge(spark, dir, (5 until 15).map(i => (i, s"s$i")).toDF("id", "name"),
      condition = "t.id = s.id",
      matchedUpdate = Some(Map("name" -> "s.name")),
      notMatchedInsert = Some(Map("id" -> "s.id", "name" -> "s.name")))   // v2
    val after = ids()
    (0 until 10).foreach(i => assert(after(i)._1 === before(i)._1, s"id $i keeps its row id"))
    (5 until 15).foreach(i => assert(after(i)._2 === 2L, s"id $i dated by the merge"))
    (0 until 5).foreach(i => assert(after(i)._2 === before(i)._2, s"id $i carried"))
    val fresh = (10 until 15).map(i => after(i)._1)
    assert(fresh.forall(_ > hwm) && fresh.distinct.size === 5, fresh.mkString(","))
    // the inserts share the rewrite's file: their ids come from THAT
    // file's baseRowId, past every id the rewrite preserves
    val insertFiles = (10 until 15).map(i => after(i)._3).toSet
    assert(insertFiles.subsetOf((0 until 10).map(i => after(i)._3).toSet))
    assert(after.values.map(_._1).toSeq.distinct.size === 15)
  }

  test("merge: identity inserts beside a matched update on a CDF table") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-merge-ident")
    DeltaWriter.write(Seq(("a", "x", 1.0), ("b", "x", 2.0), ("c", "y", 3.0))
      .toDF("name", "grp", "score"), dir, SaveMode.Append, Seq("grp"),
      identityColumns = Map("rid" -> (1L, 1L)))                        // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")                        // v1
    val rid = DeltaTable.read(spark, dir).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("rid")).toMap
    val m = DeltaMerge.merge(spark, dir,
      Seq(("b", "x", 20.0), ("d", "x", 4.0), ("e", "y", 5.0)).toDF("name", "grp", "score"),
      "t.name = s.name",
      matchedUpdate = Some(Map("score" -> "s.score")),
      notMatchedInsert = Some(Map("name" -> "s.name", "grp" -> "s.grp", "score" -> "s.score")))
    assert((m.rowsUpdated, m.rowsInserted) === ((1L, 2L)))
    val rows = DeltaTable.read(spark, dir).collect()
      .map(r => r.getAs[String]("name") -> ((r.getAs[Long]("rid"), r.getAs[Double]("score"))))
      .toMap
    assert(rows("b") === ((rid("b"), 20.0)), "the updated row keeps its identity value")
    assert(Set(rows("d")._1, rows("e")._1) === Set(4L, 5L), "inserts continue the hwm")
    val changes = graft.sources.delta.DeltaCdf.read(spark, dir, 1, 2)
      .select("name", "rid", "_change_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(changes === Set(("b", rid("b"), "update_preimage"), ("b", rid("b"), "update_postimage"),
      ("d", rows("d")._1, "insert"), ("e", rows("e")._1, "insert")))
  }
}
