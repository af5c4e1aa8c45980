package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaTable, DeltaWriter}

/** The SQL statement surface GraftSqlParser adds on top of Spark's grammar
  * — each maintenance/DML statement drives the same Delta layer the API
  * specs pin, so these tests check ROUTING (SQL → command → effect), not
  * re-test the semantics. */
class GraftSqlSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshTable(rows: Int = 8): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-sql")
    (0 until rows by 2).foreach { i =>
      DeltaWriter.write(
        Seq((i, s"p$i", i * 10.0), (i + 1, s"p${i + 1}", (i + 1) * 10.0))
          .toDF("id", "name", "score"),
        dir, SaveMode.Append, Seq.empty)
    }
    dir
  }

  test("DELETE FROM delta.`path` WHERE routes to copy-on-write delete") {
    val dir = freshTable()
    val out = spark.sql(s"DELETE FROM delta.`$dir` WHERE id >= 6").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L))
    assert(DeltaTable.read(spark, dir).count() === 6)
  }

  test("UPDATE … SET (multi-assignment with commas in exprs) routes to copy-on-write update") {
    val dir = freshTable()
    spark.sql(
      s"UPDATE delta.`$dir` SET score = score + 1, name = concat(name, '!') WHERE id = 0")
    val r = DeltaTable.read(spark, dir).filter("id = 0").collect().head
    assert(r.getAs[String]("name") === "p0!" && r.getAs[Double]("score") === 1.0)
  }

  test("OPTIMIZE compacts; OPTIMIZE ZORDER BY clusters") {
    val dir = freshTable()
    val before = DeltaLog.snapshot(spark, dir).files.size
    assert(before === 8) // 2 files per 2-row append at local[4]
    val m = spark.sql(s"OPTIMIZE delta.`$dir`").collect().head
    assert(m.getLong(0) === 8 && m.getLong(1) === 1)
    val z = spark.sql(s"OPTIMIZE delta.`$dir` ZORDER BY (id, score)").collect().head
    assert(z.getLong(2) === DeltaLog.snapshot(spark, dir).version)
  }

  test("RESTORE TO VERSION AS OF and VACUUM RETAIN 0 HOURS") {
    val dir = freshTable()
    spark.sql(s"DELETE FROM delta.`$dir` WHERE id < 4")
    assert(DeltaTable.read(spark, dir).count() === 4)
    // the DELETE itself emits NO rewrite files (every touched 1-row file
    // is fully emptied, and zero-row staged files are dropped, never
    // published) — compact the survivors so the restore strands a real
    // rewrite output for VACUUM to reclaim
    spark.sql(s"OPTIMIZE delta.`$dir`")
    val v = spark.sql(s"RESTORE TABLE delta.`$dir` TO VERSION AS OF 3").collect().head
    assert(v.getLong(0) > 3)
    assert(DeltaTable.read(spark, dir).count() === 8)
    val deleted = spark.sql(s"VACUUM delta.`$dir` RETAIN 0 HOURS").collect().head.getLong(0)
    assert(deleted >= 1) // the compaction output is now unreferenced
    assert(DeltaTable.read(spark, dir).count() === 8)
  }

  test("RESTORE TO TIMESTAMP AS OF resolves the timestamp like read-side travel") {
    val dir = freshTable()
    spark.sql(s"DELETE FROM delta.`$dir` WHERE id < 4")
    // future cutoff = latest version (which includes the delete)
    val v = spark.sql(
      s"RESTORE TABLE delta.`$dir` TO TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .collect().head.getLong(0)
    assert(v > 0 && DeltaTable.read(spark, dir).count() === 4)
    // a cutoff before the first commit fails loudly
    intercept[IllegalArgumentException] {
      spark.sql(s"RESTORE TABLE delta.`$dir` TO TIMESTAMP AS OF '2000-01-01 00:00:00'")
    }
  }

  test("CREATE TABLE SHALLOW CLONE routes to the zero-copy fork") {
    val dir = freshTable()
    val dst = TestSpark.tempDir("graft-sql-clone") + "/t"
    spark.sql(s"CREATE TABLE delta.`$dst` SHALLOW CLONE delta.`$dir`")
    assert(DeltaTable.read(spark, dst).count() === 8)
  }

  test("quoted-path target form and ordinary SQL passthrough") {
    val dir = freshTable()
    spark.sql(s"DELETE FROM '$dir' WHERE id = 7")
    assert(DeltaTable.read(spark, dir).count() === 7)
    // the stock grammar is untouched (also exercised by every other spec)
    assert(spark.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) === 2)
    intercept[Exception] { spark.sql("DELETE FROM WHERE") } // garbage still errors
  }

  test("DESCRIBE DETAIL and DESCRIBE HISTORY route to the maintenance layer") {
    val dir = freshTable()
    val det = spark.sql(s"DESCRIBE DETAIL delta.`$dir`").collect().head
    assert(det.getAs[String]("format") === "delta" && det.getAs[Long]("numFiles") === 8)
    val hist = spark.sql(s"DESCRIBE HISTORY delta.`$dir`").collect()
    assert(hist.length === 4 && hist.forall(_.getAs[String]("operation") === "WRITE"))
  }

  test("MERGE INTO … USING view … upserts: UPDATE SET + INSERT star and explicit forms") {
    import spark.implicits._
    val dir = freshTable() // ids 0..7
    Seq((6, "six", 600.0), (7, "seven", 700.0), (100, "hundred", 1.0))
      .toDF("id", "name", "score").createOrReplaceTempView("merge_src")
    val m = spark.sql(
      s"""MERGE INTO delta.`$dir` t USING merge_src s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET name = s.name
         WHEN NOT MATCHED THEN INSERT *""").collect().head
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) === ((2L, 0L, 1L)))
    val got = DeltaTable.read(spark, dir).filter("id in (6, 7, 100)")
      .orderBy("id").collect().map(_.getAs[String]("name")).toSeq
    assert(got === Seq("six", "seven", "hundred"))

    // explicit column INSERT with expressions; MATCHED DELETE form
    Seq((100, "x", 0.0), (200, "two-hundred", 2.0))
      .toDF("id", "name", "score").createOrReplaceTempView("merge_src2")
    val m2 = spark.sql(
      s"""MERGE INTO delta.`$dir` t USING merge_src2 s ON t.id = s.id
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (s.id, upper(s.name), s.score * 10)""")
      .collect().head
    assert((m2.getLong(0), m2.getLong(1), m2.getLong(2)) === ((0L, 1L, 1L)))
    val r200 = DeltaTable.read(spark, dir).filter("id = 200").collect().head
    assert(r200.getAs[String]("name") === "TWO-HUNDRED" && r200.getAs[Double]("score") === 20.0)
    assert(DeltaTable.read(spark, dir).filter("id = 100").count() === 0)
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only: old rows NULL-fill, new rows carry values") {
    import spark.implicits._
    val dir = freshTable()
    val filesBefore = DeltaLog.snapshot(spark, dir).files.map(_.path).toSet
    spark.sql(s"ALTER TABLE delta.`$dir` ADD COLUMNS (lang STRING, weight DOUBLE)")
    assert(DeltaLog.snapshot(spark, dir).files.map(_.path).toSet === filesBefore,
      "ADD COLUMNS must not touch data files")
    val r = DeltaTable.read(spark, dir).filter("id = 0").collect().head
    assert(r.getAs[String]("lang") == null && r.isNullAt(r.fieldIndex("weight")))
    DeltaWriter.write(
      Seq((50, "p50", 5.0, "en", 1.5)).toDF("id", "name", "score", "lang", "weight"),
      dir, SaveMode.Append, Seq.empty)
    val n = DeltaTable.read(spark, dir).filter("lang = 'en'").collect().head
    assert(n.getAs[Double]("weight") === 1.5)
  }

  test("ALTER TABLE SET TBLPROPERTIES merges configuration; visible in DESCRIBE DETAIL") {
    val dir = freshTable()
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.appendOnly' = 'false', 'team' = 'graft')")
    val props = spark.sql(s"DESCRIBE DETAIL delta.`$dir`").collect().head.getAs[String]("properties")
    assert(props.contains("team=graft") && props.contains("delta.appendOnly=false"))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT routes to CHECK enforcement") {
    import spark.implicits._
    val dir = freshTable()
    spark.sql(s"ALTER TABLE delta.`$dir` ADD CONSTRAINT nonneg CHECK (score >= 0)")
    intercept[Exception] {
      DeltaWriter.write(Seq((99, "bad", -5.0)).toDF("id", "name", "score"),
        dir, SaveMode.Append, Seq.empty)
    }
    spark.sql(s"ALTER TABLE delta.`$dir` DROP CONSTRAINT nonneg")
    DeltaWriter.write(Seq((99, "ok-now", -5.0)).toDF("id", "name", "score"),
      dir, SaveMode.Append, Seq.empty)
    assert(DeltaTable.read(spark, dir).filter("score < 0").count() === 1)
  }

  test("SET assignment splitter respects parens, string literals, and escaped quotes") {
    val dir = freshTable()
    spark.sql(s"UPDATE delta.`$dir` SET name = concat(name, ',') , score = length(concat(name, 'x,y')) WHERE id = 0")
    val r0 = DeltaTable.read(spark, dir).filter("id = 0").collect().head
    assert((r0.getAs[String]("name"), r0.getAs[Double]("score")) === (("p0,", 5.0)))
    // backslash-escaped quote must not close the literal
    spark.sql(s"UPDATE delta.`$dir` SET name = 'it\\'s, fine', score = 2 WHERE id = 1")
    val r1 = DeltaTable.read(spark, dir).filter("id = 1").collect().head
    assert((r1.getAs[String]("name"), r1.getAs[Double]("score")) === (("it's, fine", 2.0)))
    // and the commit's predicate is the statement's own text
    val hist = spark.sql(s"DESCRIBE HISTORY delta.`$dir` LIMIT 1").collect().head
    assert(hist.getAs[String]("operationParameters").contains("id = 1"))
  }

  test("MERGE with a CASE WHEN expression inside UPDATE SET parses (WHEN is not a clause split)") {
    import spark.implicits._
    val dir = freshTable() // ids 0..7
    Seq((3, "three", -1.0), (4, "four", 5.0))
      .toDF("id", "name", "score").createOrReplaceTempView("merge_case_src")
    spark.sql(
      s"""MERGE INTO delta.`$dir` t USING merge_case_src s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET score = CASE WHEN s.score > 0 THEN s.score ELSE 0 END""")
    val got = DeltaTable.read(spark, dir).filter("id in (3, 4)")
      .orderBy("id").collect().map(_.getAs[Double]("score")).toSeq
    assert(got === Seq(0.0, 5.0))
  }

  test("identifiers with CASE/END prefixes (case_id, end_date) are not keywords to the WHEN splitter") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-sql-underscore")
    DeltaWriter.write(Seq((1, "2024-01-01"), (2, "2024-02-02")).toDF("case_id", "end_date"),
      dir, SaveMode.Append, Nil)
    Seq((2, "2025-09-09"), (3, "2025-10-10")).toDF("case_id", "end_date")
      .createOrReplaceTempView("merge_underscore_src")
    spark.sql(
      s"""MERGE INTO delta.`$dir` t USING merge_underscore_src s ON t.case_id = s.case_id
         WHEN MATCHED THEN UPDATE SET end_date = s.end_date
         WHEN NOT MATCHED THEN INSERT *""")
    val got = DeltaTable.read(spark, dir).orderBy("case_id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got === Seq((1, "2024-01-01"), (2, "2025-09-09"), (3, "2025-10-10")))
  }

  test("where_-prefixed identifiers are not WHERE to the UPDATE splitter; backticked keywords are opaque") {
    import spark.implicits._
    // a backticked column named `case` or `where` is data, not syntax
    val kw = TestSpark.tempDir("graft-sql-backtick")
    DeltaWriter.write(Seq((1, "a", 0), (2, "b", 0)).toDF("id", "case", "where"),
      kw, SaveMode.Append, Nil)
    Seq((2, "B", 5), (3, "C", 6)).toDF("id", "case", "where")
      .createOrReplaceTempView("merge_backtick_src")
    spark.sql(
      s"""MERGE INTO delta.`$kw` t USING merge_backtick_src s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET `case` = s.`case` WHEN NOT MATCHED THEN INSERT *""")
    spark.sql(s"UPDATE delta.`$kw` SET `where` = 2 WHERE id = 1")
    assert(DeltaTable.read(spark, kw).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ===
      Seq((1, "a", 2), (2, "B", 0), (3, "C", 6)))

    // end-to-end: UPDATE on a table whose column is where_-prefixed
    val dir = TestSpark.tempDir("graft-sql-whereflag")
    DeltaWriter.write(Seq((1, 0), (2, 0)).toDF("id", "where_flag"),
      dir, SaveMode.Append, Nil)
    spark.sql(s"UPDATE delta.`$dir` SET where_flag = 7 WHERE id = 2")
    val got = DeltaTable.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got === Seq((1, 0), (2, 7)))
    // no WHERE at all: the whole blob is the SET list
    spark.sql(s"UPDATE delta.`$dir` SET where_flag = 9")
    assert(DeltaTable.read(spark, dir).collect()
      .map(_.getAs[Int]("where_flag")).toSeq === Seq(9, 9))
  }

  test("duplicate SET targets are rejected, not silently last-wins") {
    val dir = freshTable()
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE delta.`$dir` SET score = 1, score = 2")
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("ADD COLUMN with a parenthesized DEFAULT expression keeps its parens intact") {
    import spark.implicits._
    val dir = freshTable()
    spark.sql(s"ALTER TABLE delta.`$dir` ADD COLUMN bonus INT DEFAULT (1+2)")
    DeltaWriter.write(Seq((50, "new", 1.0)).toDF("id", "name", "score"),
      dir, SaveMode.Append, Seq.empty)
    assert(DeltaTable.read(spark, dir).filter("id = 50")
      .collect().head.getAs[Int]("bonus") === 3)
  }

  test("SELECT … VERSION AS OF / FOR TIMESTAMP AS OF time-travels through SQL") {
    val dir = freshTable() // 4 appends: versions 0..3, 2 rows each
    // v0 snapshot: ids 0,1 only
    val v0 = spark.sql(s"SELECT count(*) AS n, sum(id) AS s FROM delta.`$dir` VERSION AS OF 0")
      .collect().head
    assert((v0.getLong(0), v0.getLong(1)) === ((2L, 1L)))
    // FOR VERSION AS OF form; joins of two travels of the SAME table work
    val joined = spark.sql(
      s"""SELECT latest.id FROM delta.`$dir` FOR VERSION AS OF 3 latest
          LEFT ANTI JOIN delta.`$dir` VERSION AS OF 1 old ON latest.id = old.id
          ORDER BY latest.id""").collect().map(_.getInt(0)).toSeq
    assert(joined === Seq(4, 5, 6, 7)) // rows appended after v1
    // timestamp form: a cutoff after every commit = latest snapshot
    val ts = spark.sql(
      s"SELECT count(*) AS n FROM delta.`$dir` FOR TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .collect().head.getLong(0)
    assert(ts === 8L)
    // RESTORE's `TO VERSION AS OF` grammar is untouched by the rewrite
    spark.sql(s"RESTORE TABLE delta.`$dir` TO VERSION AS OF 0")
    assert(DeltaTable.read(spark, dir).count() === 2)
  }

  test("a time-travel pattern inside a string literal is left untouched") {
    val dir = freshTable()
    spark.sql(
      s"UPDATE delta.`$dir` SET name = 'see delta.`/x` VERSION AS OF 3' WHERE id = 1")
    val got = DeltaTable.read(spark, dir).filter("id = 1").collect().head
    assert(got.getAs[String]("name") === "see delta.`/x` VERSION AS OF 3",
      "a travel pattern inside a literal must not be rewritten")
  }

  test("travel / table_changes patterns inside comments and double-quoted literals are untouched") {
    val dir = freshTable() // 8 rows across versions 0..3 (2 rows at v0)
    // commented-out time travel: rewriting it would eagerly snapshot a
    // nonexistent version at parse time and fail the whole query
    val viaLineComment = spark.sql(
      s"""SELECT count(*) AS n FROM delta.`$dir` VERSION AS OF 0
         |-- plus delta.`$dir` VERSION AS OF 99
         |""".stripMargin).collect().head.getLong(0)
    assert(viaLineComment === 2L)
    val viaBlockComment = spark.sql(
      s"""SELECT /* delta.`$dir` VERSION AS OF 99 */ count(*) AS n
         |FROM delta.`$dir` VERSION AS OF 3""".stripMargin).collect().head.getLong(0)
    assert(viaBlockComment === 8L)
    // table_changes inside a comment: CDF is not even enabled on this
    // table, so a rewrite would fail loudly instead of parsing
    val viaTvfComment = spark.sql(
      s"""SELECT count(*) AS n FROM delta.`$dir` VERSION AS OF 3
         |/* table_changes('$dir', 0) */""".stripMargin).collect().head.getLong(0)
    assert(viaTvfComment === 8L)
    // double-quoted literal (Spark reads " as a string by default)
    val viaDq = spark.sql(
      s"""SELECT "delta.`/x` VERSION AS OF 9" AS s
         |FROM delta.`$dir` VERSION AS OF 0 LIMIT 1""".stripMargin)
      .collect().head.getString(0)
    assert(viaDq === "delta.`/x` VERSION AS OF 9")
  }

  test("UPDATE with ' WHERE ' inside a string literal does not split at the literal") {
    val dir = freshTable()
    spark.sql(s"UPDATE delta.`$dir` SET name = 'fix WHERE needed' WHERE id = 2")
    val got = DeltaTable.read(spark, dir).filter("id = 2").collect().head
    assert(got.getAs[String]("name") === "fix WHERE needed")
    // and with no WHERE clause at all, every row updates
    spark.sql(s"UPDATE delta.`$dir` SET score = 0.0")
    assert(DeltaTable.read(spark, dir).filter("score <> 0.0").count() === 0)
  }

  test("plain delta.`path` reads bind in FROM, CTEs and IN subqueries") {
    val dir = freshTable() // ids 0..7
    assert(spark.sql(s"SELECT count(*) FROM delta.`$dir`").collect().head.getLong(0) === 8L)
    val viaCte = spark.sql(
      s"WITH hi AS (SELECT id FROM delta.`$dir` WHERE id >= 6) SELECT count(*) FROM hi")
      .collect().head.getLong(0)
    assert(viaCte === 2L)
    val viaIn = spark.sql(
      s"""SELECT count(*) FROM range(10) r
          WHERE r.id IN (SELECT id FROM delta.`$dir` VERSION AS OF 0)""")
      .collect().head.getLong(0)
    assert(viaIn === 2L)
  }

  test("time travel and table_changes register no temp views") {
    val dir = freshTable()
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    spark.sql(s"UPDATE delta.`$dir` SET score = 0 WHERE id = 1")
    val before = spark.sessionState.catalog.listLocalTempViews("*").toSet
    (0 to 3).foreach { v =>
      spark.sql(s"SELECT count(*) FROM delta.`$dir` VERSION AS OF $v").collect()
    }
    spark.sql(s"SELECT count(*) FROM delta.`$dir` TIMESTAMP AS OF '2099-01-01 00:00:00'").collect()
    val changes = spark.sql(s"SELECT _change_type FROM table_changes('$dir', 5)")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(changes === Seq("update_postimage", "update_preimage"))
    assert(spark.sessionState.catalog.listLocalTempViews("*").toSet === before)
  }

  test("MERGE takes any aliases and a subquery source: tgt/src gives its t/s twin's rows") {
    import spark.implicits._
    Seq((3, "three", -1.0), (4, "four", 5.0), (40, "forty", 4.0))
      .toDF("id", "name", "score").createOrReplaceTempView("merge_alias_src")
    def rows(dir: String) = DeltaTable.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    val twin = freshTable()
    spark.sql(
      s"""MERGE INTO delta.`$twin` t USING merge_alias_src s ON t.id = s.id
         WHEN MATCHED AND s.score > 0 THEN UPDATE SET name = upper(s.name), score = t.score + s.score
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (s.id, s.name, s.score)
         WHEN NOT MATCHED BY SOURCE AND t.id > 6 THEN UPDATE SET score = -t.score""")
    val aliased = freshTable()
    spark.sql(
      s"""MERGE INTO delta.`$aliased` AS tgt
         USING (SELECT id, name, score FROM merge_alias_src WHERE id > 0) AS src ON tgt.id = src.id
         WHEN MATCHED AND src.score > 0 THEN UPDATE SET name = upper(src.name), score = tgt.score + `src`.score
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (src.id, src.name, src.score)
         WHEN NOT MATCHED BY SOURCE AND tgt.id > 6 THEN UPDATE SET score = -tgt.score""")
    assert(rows(aliased) === rows(twin))
    assert(rows(twin).map(_._1) === Seq(0, 1, 2, 4, 5, 6, 7, 40))
    // a Delta path as the source
    val src = freshTable(2) // ids 0, 1
    spark.sql(s"UPDATE delta.`$src` SET name = 'from-delta'")
    spark.sql(
      s"""MERGE INTO delta.`$aliased` a USING delta.`$src` b ON a.id = b.id
         WHEN MATCHED THEN UPDATE SET name = b.name""")
    assert(rows(aliased).filter(_._1 <= 1).map(_._2) === Seq("from-delta", "from-delta"))
  }

  test("DML predicates reach the commit as the statement's own text") {
    val dir = freshTable()
    def params() = spark.sql(s"DESCRIBE HISTORY delta.`$dir` LIMIT 1")
      .collect().head.getAs[String]("operationParameters")
    // a predicate's parse origin starts at its keyword (IN, IS, BETWEEN):
    // the text must still carry the left operand
    spark.sql(s"DELETE FROM delta.`$dir` WHERE id IN (1, 2)")
    assert(params() === """{"predicate":"id IN (1, 2)"}""")
    spark.sql(s"UPDATE delta.`$dir` SET score = -score WHERE name IS NULL OR id BETWEEN 3 AND 4")
    assert(params().contains(""""predicate":"name IS NULL OR id BETWEEN 3 AND 4""""), params())
    assert(DeltaTable.read(spark, dir).filter("score < 0").count() === 2)
  }

  test("the parser rewrites Spark's tree: no temp views, no hand-written SQL lexers") {
    // split literals: this file must not match its own patterns
    val walk = Files.walk(Paths.get("src/main/scala/graft/sources/delta"))
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val views = files.filter(p => Files.readString(p).contains("createOrReplace" + "TempView"))
    assert(views.isEmpty, views.mkString("\n"))
    val parser = Files.readString(
      Paths.get("src/main/scala/graft/sources/delta/GraftSqlParser.scala"))
    val lexers = Seq("inString" + "Literal", "splitOn" + "When", "topLevel" + "Keyword")
      .filter(parser.contains)
    assert(lexers.isEmpty, lexers.mkString(", "))
  }
}
