package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaTable, DeltaWriter}

/** VARIANT columns (`variantType` reader-writer table feature): the
  * protocol plane dl29's oracle gate can't see. A variant column demands
  * the feature in BOTH lists at reader version 3 — a reader without it
  * cannot decode the binary encoding, so under-declaring silently strands
  * foreign engines mid-table. Spec: Delta protocol variantType section;
  * delta-rs 0.29.4 (`/root/reference/Cargo.toml:16`) predates the feature
  * — exceed-the-reference. */
class DeltaVariantSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dir(tag: String): String =
    TestSpark.tempDir(s"graft-variant-$tag")

  private def metaDf(n: Int) =
    (0 until n).map(i => (i, s"d$i")).toDF("id", "name")
      .withColumn("meta", expr(
        """parse_json(concat('{"k":', id, ',"odd":', CAST(id % 2 = 1 AS STRING), '}'))"""))

  test("creating a variant table declares reader3/writer7 + variantType") {
    val d = dir("create")
    DeltaWriter.write(metaDf(8), d, SaveMode.Append, Nil)
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.protocol.minReaderVersion === 3)
    assert(snap.protocol.readerFeatures.contains("variantType"))
    assert(snap.protocol.writerFeatures.contains("variantType"))
    val got = DeltaTable.read(spark, d)
      .select(col("id"), expr("variant_get(meta, '$.k', 'int')").as("k"),
        expr("variant_get(meta, '$.odd', 'boolean')").as("odd"))
      .orderBy("id").collect()
    assert(got.map(_.getInt(1)).toSeq === (0 until 8))
    assert(got.map(_.getBoolean(2)).toSeq === (0 until 8).map(_ % 2 == 1))
  }

  test("mergeSchema evolution introducing VARIANT upgrades the protocol in the same commit") {
    val d = dir("evolve")
    (0 until 4).map(i => (i, s"d$i")).toDF("id", "name")
      .write.format("delta").save(d)
    val before = DeltaLog.snapshot(spark, d)
    assert(before.protocol.minReaderVersion === 1, "starts legacy")
    DeltaWriter.write(metaDf(8).filter(col("id") >= 4), d, SaveMode.Append, Nil,
      mergeSchema = true)
    val after = DeltaLog.snapshot(spark, d)
    assert(after.protocol.readerFeatures.contains("variantType") &&
      after.protocol.writerFeatures.contains("variantType"),
      "the evolution commit itself must carry the protocol upgrade")
    // legacy rows read NULL meta; new rows decode
    val n = DeltaTable.read(spark, d)
      .filter(expr("variant_get(meta, '$.k', 'int')").isNotNull).count()
    assert(n === 4)
  }

  test("streaming source serves variant columns decoded, exactly once") {
    val d = dir("stream")
    DeltaWriter.write(metaDf(4), d, SaveMode.Append, Nil)
    val q = spark.readStream.format("delta").load(d)
      .selectExpr("id", "variant_get(meta, '$.k', 'int') AS k")
      .writeStream.format("memory").queryName("variant_stream")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-variant-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("variant_stream").count() === 4)
      DeltaWriter.write(metaDf(8).filter(col("id") >= 4), d, SaveMode.Append, Nil)
      q.processAllAvailable()
      val got = spark.table("variant_stream").orderBy("id")
        .collect().map(_.getInt(1)).toSeq
      assert(got === (0 until 8), "binary-encoded values decode through the stream")
    } finally q.stop()
  }

  test("MERGE assigns variant values through UPDATE and INSERT clauses") {
    // the r16 verdict's named re-encode risk: a MERGE rewrite evaluates
    // assignment expressions into a NEW file — the variant binary must
    // round-trip through the source join, the clause projection and the
    // parquet re-encode without value drift, and inserts must carry
    // source-side variant bytes verbatim
    val d = dir("merge")
    DeltaWriter.write(metaDf(6), d, SaveMode.Append, Nil)
    val source = (4 until 10).map(i => (i, s"m$i")).toDF("id", "name")
      .withColumn("meta", expr(
        """parse_json(concat('{"k":', id * 100, ',"src":true}'))"""))
    val m = graft.sources.delta.DeltaMerge.merge(
      spark, d, source, "t.id = s.id",
      matchedUpdate = Some(Map("meta" -> "s.meta", "name" -> "s.name")),
      notMatchedInsert = Some(Map(
        "id" -> "s.id", "name" -> "s.name", "meta" -> "s.meta")))
    assert(m.rowsUpdated === 2 && m.rowsInserted === 4)
    val got = DeltaTable.read(spark, d)
      .select(col("id"),
        expr("variant_get(meta, '$.k', 'int')").as("k"),
        expr("variant_get(meta, '$.src', 'boolean')").as("src"))
      .orderBy("id").collect()
    // ids 0..3 keep the original encoding; 4..9 carry the source's
    assert(got.map(r => r.getInt(1)).toSeq ===
      Seq(0, 1, 2, 3) ++ (4 until 10).map(_ * 100))
    assert(got.map(r => !r.isNullAt(2) && r.getBoolean(2)).toSeq ===
      Seq.fill(4)(false) ++ Seq.fill(6)(true))
    // protocol still declares the feature after the rewrite commit
    val proto = DeltaLog.snapshot(spark, d).protocol
    assert(proto.readerFeatures.contains("variantType"))
  }

  test("CDF serves variant pre/postimages decoded (update + delete)") {
    // the other named re-encode risk: CDF change rows are REBUILT from the
    // pre/post files — a variant column must decode identically in both
    // images, not just in the final table state
    val d = dir("cdf")
    DeltaWriter.write(metaDf(6), d, SaveMode.Append, Nil) // v0
    spark.sql(s"ALTER TABLE delta.`$d` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')") // v1
    graft.sources.delta.DeltaDml.update(spark, d, "id = 2",
      Map("meta" -> """parse_json('{"k":222,"upd":true}')""")) // v2
    graft.sources.delta.DeltaDml.delete(spark, d, "id = 5") // v3
    val cdf = DeltaTable.readCdf(spark, d, 1L, 3L)
      .select(col("id"), col("_change_type"),
        expr("variant_get(meta, '$.k', 'int')").as("k"))
      .orderBy("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(cdf === Seq(
      (2, "update_postimage", 222),
      (2, "update_preimage", 2),
      (5, "delete", 5)))
  }

  test("copy-on-write rewrite re-encodes variant values losslessly; stats skip the column") {
    val d = dir("rewrite")
    DeltaWriter.write(metaDf(16), d, SaveMode.Append, Nil)
    graft.sources.delta.DeltaDml.delete(spark, d, "id % 4 = 0")
    val snap = DeltaLog.snapshot(spark, d)
    // stats exist (numRecords + id bounds) but never index the variant col
    assert(snap.files.forall(_.stats.exists(s =>
      s.contains("\"id\"") && !s.contains("\"meta\""))))
    val got = DeltaTable.read(spark, d)
      .select(expr("variant_get(meta, '$.k', 'int')").as("k"))
      .orderBy("k").collect().map(_.getInt(0)).toSeq
    assert(got === (0 until 16).filter(_ % 4 != 0))
  }
}
