package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaTable, DeltaWriter}

/** Identity columns (GENERATED ALWAYS AS IDENTITY — legacy writer v6):
  * declared at creation, values assigned by the writer (per-partition
  * range allocation in the DataFrame path), high water mark maintained in
  * field metadata across commits. */
class DeltaIdentitySuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("creation assigns contiguous ids, protocol is writer v6, appends continue") {
    val dir = TestSpark.tempDir("graft-ident")
    DeltaWriter.write(
      (0 until 10).map(i => (s"r$i", i * 1.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil,
      identityColumns = Map("rid" -> (1L, 1L)))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.protocol.minWriterVersion === 6)
    assert(snap.schema("rid").metadata.getLong(DeltaWriter.IdentityHwmKey) === 10L)
    val ids0 = DeltaTable.read(spark, dir).select("rid").collect().map(_.getLong(0)).sorted
    assert(ids0.toSeq === (1L to 10L))
    // append WITHOUT the column: ids continue past the high water mark
    DeltaWriter.write(
      (0 until 5).map(i => (s"n$i", 0.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil)
    val ids1 = DeltaTable.read(spark, dir).select("rid").collect().map(_.getLong(0)).sorted
    assert(ids1.toSeq === (1L to 15L), "ids must stay unique and contiguous")
    assert(DeltaLog.snapshot(spark, dir).schema("rid")
      .metadata.getLong(DeltaWriter.IdentityHwmKey) === 15L)
  }

  test("custom start/step; providing the column explicitly refuses") {
    val dir = TestSpark.tempDir("graft-ident2")
    DeltaWriter.write(
      Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil,
      identityColumns = Map("seq" -> (100L, 10L)))
    val ids = DeltaTable.read(spark, dir).select("seq").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(100L, 110L, 120L))
    val e = intercept[IllegalArgumentException] {
      DeltaWriter.write(Seq((999L, "x", 0.0)).toDF("seq", "name", "score"),
        dir, SaveMode.Append, Nil)
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
    // declaring on an existing table refuses too
    intercept[IllegalArgumentException] {
      DeltaWriter.write(Seq(("y", 0.0)).toDF("name", "score"),
        dir, SaveMode.Append, Nil, identityColumns = Map("other" -> (1L, 1L)))
    }
  }

  test("identity appends re-emit metaData WITHOUT wiping the configuration") {
    val dir = TestSpark.tempDir("graft-ident4")
    DeltaWriter.write(Seq(("a", 1.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('team' = 'graft')")
    spark.sql(s"ALTER TABLE delta.`$dir` ADD CONSTRAINT pos CHECK (score >= 0)")
    // the append advances the hwm → metaData re-emission; the properties
    // and constraint MUST survive (last-metaData-wins replay)
    DeltaWriter.write(Seq(("b", 2.0)).toDF("name", "score"), dir, SaveMode.Append, Nil)
    val cfg = DeltaLog.snapshot(spark, dir).metadata.configuration
    assert(cfg.get("team").contains("graft"), s"properties wiped: $cfg")
    assert(cfg.contains("delta.constraints.pos"), s"constraint wiped: $cfg")
    intercept[Exception] {
      DeltaWriter.write(Seq(("bad", -1.0)).toDF("name", "score"),
        dir, SaveMode.Append, Nil)
    }
  }

  test("identity assignment stays in the DataFrame path (no RDD scan in any executed plan)") {
    val dir = TestSpark.tempDir("graft-ident-plans")
    // the old zipWithIndex path round-tripped through an RDD, so its
    // staged write scanned an ExistingRDD (codegen boundary + an extra
    // count job inside zipWithIndex). Capture every plan the identity
    // write executes and assert none left the DataFrame/codegen path.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      DeltaWriter.write(
        (0 until 1000).map(i => (s"r$i", i * 1.0)).toDF("name", "score").repartition(7),
        dir, SaveMode.Append, Nil,
        identityColumns = Map("rid" -> (1L, 1L)))
      var last = -1; var spins = 0
      while (plans.size != last && spins < 20) { last = plans.size; Thread.sleep(200); spins += 1 }
      assert(!plans.isEmpty, "listener saw no executed plans")
      val rddScans = scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala
        .filter(_.contains("ExistingRDD"))
      assert(rddScans.isEmpty,
        s"identity write left the DataFrame path:\n${rddScans.headOption.getOrElse("")}")
    } finally spark.listenerManager.unregister(ql)
    // ids are still exactly the contiguous series across the 7 partitions
    val ids = DeltaTable.read(spark, dir).select("rid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (1L to 1000L))
  }

  test("MERGE INSERT assigns identity values and advances the high water mark") {
    import graft.sources.delta.{DeltaMerge, MergeClause}
    val dir = TestSpark.tempDir("graft-ident-merge")
    DeltaWriter.write(
      Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    // upsert: 'b' updated, 'd'/'e' inserted WITHOUT the identity column
    val m = DeltaMerge.merge(spark, dir,
      Seq(("b", 20.0), ("d", 4.0), ("e", 5.0)).toDF("name", "score"),
      "t.name = s.name",
      matchedUpdate = Some(Map("score" -> "s.score")),
      notMatchedInsert = Some(Map("name" -> "s.name", "score" -> "s.score")))
    assert(m.rowsUpdated === 1 && m.rowsInserted === 2)
    val rows = DeltaTable.read(spark, dir).orderBy("rid")
      .collect().map(r => (r.getAs[Long]("rid"), r.getAs[String]("name")))
    // inserted rows continue past the hwm: ids 4 and 5, unique across the table
    assert(rows.map(_._1).toSeq === (1L to 5L), rows.mkString(","))
    assert(rows.filter(_._1 >= 4L).map(_._2).toSet === Set("d", "e"))
    assert(DeltaLog.snapshot(spark, dir).schema("rid")
      .metadata.getLong(DeltaWriter.IdentityHwmKey) === 5L,
      "merge must advance the hwm for the next writer")
    // the NEXT plain append continues past the merge-assigned ids
    DeltaWriter.write(Seq(("f", 6.0)).toDF("name", "score"), dir, SaveMode.Append, Nil)
    val ids = DeltaTable.read(spark, dir).select("rid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (1L to 6L), "no duplicate ids after merge + append")
  }

  test("MERGE refuses explicit assignment to identity columns; update-only merges skip the hwm") {
    import graft.sources.delta.{DeltaMerge, MergeClause}
    val dir = TestSpark.tempDir("graft-ident-merge2")
    DeltaWriter.write(Seq(("a", 1.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    val e1 = intercept[IllegalArgumentException] {
      DeltaMerge.merge(spark, dir, Seq(("z", 9.0)).toDF("name", "score"),
        "t.name = s.name",
        notMatchedInsert = Some(Map("rid" -> "99", "name" -> "s.name", "score" -> "s.score")))
    }
    assert(e1.getMessage.contains("GENERATED ALWAYS"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DeltaMerge.merge(spark, dir, Seq(("a", 9.0)).toDF("name", "score"),
        "t.name = s.name", matchedUpdate = Some(Map("rid" -> "t.rid + 1")))
    }
    assert(e2.getMessage.contains("GENERATED ALWAYS"), e2.getMessage)
    // a merge whose insert clause matches NO source row leaves the hwm alone
    val before = DeltaLog.snapshot(spark, dir)
    val m = DeltaMerge.merge(spark, dir, Seq(("a", 9.0)).toDF("name", "score"),
      "t.name = s.name",
      matchedUpdate = Some(Map("score" -> "s.score")),
      notMatchedInsert = Some(Map("name" -> "s.name", "score" -> "s.score")))
    assert(m.rowsUpdated === 1 && m.rowsInserted === 0)
    assert(DeltaLog.snapshot(spark, dir).schema("rid")
      .metadata.getLong(DeltaWriter.IdentityHwmKey) ===
      before.schema("rid").metadata.getLong(DeltaWriter.IdentityHwmKey),
      "update-only merge must not advance (or wipe) the hwm")
  }

  test("SQL MERGE INSERT * on an identity table omits the identity column and assigns it") {
    val dir = TestSpark.tempDir("graft-ident-mergesql")
    DeltaWriter.write(Seq(("a", 1.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    Seq(("a", 10.0), ("b", 2.0)).toDF("name", "score")
      .createOrReplaceTempView("ident_merge_src")
    spark.sql(
      s"""MERGE INTO delta.`$dir` t USING ident_merge_src s
          ON t.name = s.name
          WHEN MATCHED THEN UPDATE SET score = s.score
          WHEN NOT MATCHED THEN INSERT *""")
    val rows = DeltaTable.read(spark, dir).orderBy("rid")
      .collect().map(r => (r.getAs[Long]("rid"), r.getAs[String]("name"), r.getAs[Double]("score")))
    assert(rows.toSeq === Seq((1L, "a", 10.0), (2L, "b", 2.0)), rows.mkString(","))
  }

  test("UPDATE refuses SET on an identity column") {
    import graft.sources.delta.DeltaDml
    val dir = TestSpark.tempDir("graft-ident-upd")
    DeltaWriter.write(Seq(("a", 1.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    val e = intercept[IllegalArgumentException] {
      DeltaDml.update(spark, dir, "name = 'a'", Map("rid" -> "7"))
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
  }

  test("RESTORE preserves the identity high water mark (ids are never re-issued)") {
    import graft.sources.delta.DeltaMaintenance
    val dir = TestSpark.tempDir("graft-ident-restore")
    DeltaWriter.write(Seq(("a", 1.0), ("b", 2.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))   // v0: hwm 2
    DeltaWriter.write(Seq(("c", 3.0), ("d", 4.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil)                                             // v1: hwm 4
    DeltaMaintenance.restore(spark, dir, 0L)                                 // rows a,b back
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.schema("rid").metadata.getLong(DeltaWriter.IdentityHwmKey) === 4L,
      "restore must NOT roll the hwm back to 2: ids 3-4 were already issued")
    // the next append continues PAST the retired ids, never re-issuing 3/4
    DeltaWriter.write(Seq(("e", 5.0)).toDF("name", "score"), dir, SaveMode.Append, Nil)
    val ids = DeltaTable.read(spark, dir).select("rid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 5L), ids.mkString(","))
  }

  test("CHECK constraints see the assigned identity values") {
    val dir = TestSpark.tempDir("graft-ident3")
    DeltaWriter.write(Seq(("a", 1.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    spark.sql(s"ALTER TABLE delta.`$dir` ADD CONSTRAINT pos CHECK (rid > 0)")
    DeltaWriter.write(Seq(("b", 2.0)).toDF("name", "score"), dir, SaveMode.Append, Nil)
    assert(DeltaTable.read(spark, dir).count() === 2)
  }

  test("failed CHECK validation does not leak the pinned identity frame (write + merge)") {
    import graft.sources.delta.DeltaMerge
    val dir = TestSpark.tempDir("graft-ident-leak")
    DeltaWriter.write(Seq(("a", 1.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    spark.sql(s"ALTER TABLE delta.`$dir` ADD CONSTRAINT posscore CHECK (score > 0)")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      DeltaWriter.write(Seq(("bad", -1.0)).toDF("name", "score"), dir, SaveMode.Append, Nil)
    }
    intercept[Exception] {
      DeltaMerge.merge(spark, dir, Seq(("bad", -1.0)).toDF("name", "score"),
        "t.name = s.name",
        notMatchedInsert = Some(Map("name" -> "s.name", "score" -> "s.score")))
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"validation failure leaked cached frames: ${after -- before}")
    // the table itself is untouched and still writable
    DeltaWriter.write(Seq(("c", 2.0)).toDF("name", "score"), dir, SaveMode.Append, Nil)
    assert(DeltaTable.read(spark, dir).count() === 2)
  }

  test("SQL MERGE INSERT * errors when the SOURCE carries the identity column, either autoMerge setting") {
    val dir = TestSpark.tempDir("graft-ident-srccarry")
    DeltaWriter.write(Seq(("a", 1.0)).toDF("name", "score"),
      dir, SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    Seq((99L, "b", 2.0)).toDF("rid", "name", "score")
      .createOrReplaceTempView("ident_srccarry")
    def run(): Unit = spark.sql(
      s"""MERGE INTO delta.`$dir` t USING ident_srccarry s
          ON t.name = s.name
          WHEN NOT MATCHED THEN INSERT *""")
    Seq("false", "true").foreach { am =>
      spark.conf.set("spark.graft.delta.schema.autoMerge.enabled", am)
      try {
        val e = intercept[Exception] { run() }
        assert(e.getMessage.contains("GENERATED ALWAYS"),
          s"autoMerge=$am: ${e.getMessage}")
      } finally spark.conf.unset("spark.graft.delta.schema.autoMerge.enabled")
    }
  }
}
