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
}
