package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaTable, DeltaWriter}

/** Parity specs for the footer-served add-action stats (r21): for every
  * supported type — and every deliberate fallback — the stats JSON must
  * be BYTE-IDENTICAL to what the distributed scan pass computes, because
  * stats land verbatim in committed add actions and drive data skipping.
  * Also pins which path served (the seam counters): a silent wholesale
  * fallback would quietly reintroduce the full second read of every
  * committed byte that the footer path exists to remove. */
class FooterStatsSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Both paths over the same files; returns (footerJson, scanJson,
    * footerServed, scanServed) keyed by file, rendered to strings so key
    * order differences would fail too (the JSON is committed verbatim). */
  private def bothPaths(df: DataFrame, partitions: Int = 2)
      : (Map[String, String], Map[String, String], Long, Long) = {
    val dir = TestSpark.tempDir("graft-footerstats")
    df.repartition(partitions).write.mode("overwrite").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq.sorted
    assert(files.nonEmpty)
    val f0 = DeltaWriter.footerStatsServed.get()
    val s0 = DeltaWriter.scanStatsServed.get()
    val viaFooter = DeltaWriter.collectFileStats(spark, files, df.schema)
    val fServed = DeltaWriter.footerStatsServed.get() - f0
    val sServed = DeltaWriter.scanStatsServed.get() - s0
    val viaScan = scanOnly(files, df)
    (viaFooter.map { case (k, v) => k -> v.toString },
      viaScan.map { case (k, v) => k -> v.toString }, fServed, sServed)
  }

  /** The distributed-scan stats of `files`, the path footers fall back to. */
  private def scanOnly(files: Seq[String], df: DataFrame) =
    DeltaWriter.scanFileStats(spark, files, df.schema,
      DeltaWriter.statsColumns(df.schema, Map.empty))

  test("numeric/string/bool/date columns with nulls: footer-served, byte-identical") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(7), Some("alpha"), Some(3.25d), Some(true), Some("2021-03-04")),
      (2L, None, Some("Ωmega"), Some(-1.5d), Some(false), Some("1999-12-31")),
      (3L, Some(-4), None, None, None, None),
      (4L, Some(0), Some(""), Some(8.125d), Some(true), Some("2024-02-29")))
      .toDF("id", "i", "s", "d", "b", "ds")
      .withColumn("dt", col("ds").cast("date")).drop("ds")
    val (f, s, fServed, sServed) = bothPaths(df)
    assert(f === s)
    assert(fServed === f.size && sServed === 0, "every file must be footer-served")
  }

  test("all-null column and empty file: footer-served, byte-identical") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "s")
    // 4 partitions over 2 rows forces empty part files
    val (f, s, fServed, _) = bothPaths(df, partitions = 4)
    assert(f === s)
    assert(fServed === f.size)
    assert(f.values.exists(_.contains("\"numRecords\":0")), "expected an empty part file")
  }

  test("±0.0 bounds are footer-served as 0.0; NaN falls back, byte-identical") {
    import spark.implicits._
    val nan = Seq((1L, Double.NaN), (2L, 1.0d)).toDF("id", "d")
    val (f1, s1, _, sServed1) = bothPaths(nan, partitions = 1)
    assert(f1 === s1)
    assert(sServed1 === 1, "NaN bounds must take the scan path")
    val nanF = Seq((1L, Float.NaN), (2L, 1.0f)).toDF("id", "f")
    val (f2, s2, _, sServed2) = bothPaths(nanF, partitions = 1)
    assert(f2 === s2)
    assert(sServed2 === 1, "NaN float bounds must take the scan path")
    // zeros of both signs as min, max and interior values, next to
    // non-zero ones; the single-row files make a lone zero both bounds
    val zeros = Seq(
      (1L, 0.0d, 0.0f), (2L, -0.0d, -0.0f), (3L, 5.0d, 2.5f), (4L, -0.0d, 0.0f),
      (5L, -3.0d, -0.0f), (6L, 0.0d, -1.5f))
    for ((rows, parts) <- Seq(zeros -> 1, zeros.take(2) -> 1, zeros.drop(2) -> 1,
        zeros -> 3, zeros.take(1) -> 1, zeros.slice(1, 2) -> 1)) {
      val (f, s, fServed, sServed) = bothPaths(rows.toDF("id", "d", "f"), partitions = parts)
      assert(f === s)
      assert(fServed === f.size && sServed === 0, s"±0.0 bounds must be footer-served: $rows")
      assert(f.values.forall(j => !j.contains("-0.0")), s"zero bounds must render as 0.0: $f")
    }
  }

  test("long strings (≥64 bytes) fall back to the scan, byte-identical") {
    import spark.implicits._
    val df = Seq((1L, "z" * 200), (2L, "a")).toDF("id", "s")
    val (f, s, _, sServed) = bothPaths(df, partitions = 1)
    assert(f === s)
    assert(sServed === 1)
  }

  test("INT96 timestamps fall back; TIMESTAMP_NTZ is footer-served — both byte-identical") {
    import spark.implicits._
    // default outputTimestampType=INT96: no trustworthy footer stats
    val tz = Seq(
      (1L, Timestamp.valueOf("2023-05-06 07:08:09.123456")),
      (2L, Timestamp.valueOf("2023-05-06 00:00:00")))
      .toDF("id", "ts")
    val (f1, s1, _, sServed1) = bothPaths(tz, partitions = 1)
    assert(f1 === s1)
    assert(sServed1 === 1, "INT96 timestamp stats must take the scan path")
    val ntz = Seq(
      (1L, LocalDateTime.parse("2023-05-06T07:08:09.123456")),
      (2L, LocalDateTime.parse("2023-05-06T00:00")))
      .toDF("id", "ts")
    val (f2, s2, fServed2, _) = bothPaths(ntz, partitions = 1)
    assert(f2 === s2)
    assert(fServed2 === f2.size, "NTZ (INT64 micros) must be footer-served")
  }

  test("fixture parquet (foreign writer) parity — whichever path serves") {
    val dir = "/root/testdata/sf0.001"
    for (t <- Seq("supplier", "nation", "documents")) {
      val df = spark.read.parquet(s"$dir/$t.parquet")
      val files = Seq(s"$dir/$t.parquet")
      val viaFooter = DeltaWriter.collectFileStats(spark, files, df.schema)
      val viaScan = scanOnly(files, df)
      assert(viaFooter.map { case (k, v) => k -> v.toString }
        === viaScan.map { case (k, v) => k -> v.toString }, s"fixture $t diverged")
    }
  }

  test("distributed footer mode (footerDriverMax=0) matches the driver pool") {
    import spark.implicits._
    val df = Seq((1L, "x", 2.5d), (2L, "y", -3.5d)).toDF("id", "s", "d")
    val dir = TestSpark.tempDir("graft-footerstats-dist")
    df.repartition(2).write.mode("overwrite").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq.sorted
    val viaDriver = DeltaWriter.collectFileStats(spark, files, df.schema)
    val viaJob = DeltaWriter.collectFileStats(spark, files, df.schema, driverMax = 0)
    assert(viaDriver.map { case (k, v) => k -> v.toString }
      === viaJob.map { case (k, v) => k -> v.toString })
  }

  test("write path: DML over zero doubles never re-scans staged files") {
    import spark.implicits._
    import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMerge}
    val dir = TestSpark.tempDir("graft-footerstats-dml")
    def rows(ids: Range) = ids.map { i =>
      (i.toLong, i % 3, if (i % 4 == 0) 0.0d else if (i % 4 == 1) -0.0d else i * 0.5d)
    }.toDF("id", "p", "d")
    def scansDuring(what: String)(op: => Unit): Unit = {
      val s0 = DeltaWriter.scanStatsServed.get()
      val f0 = DeltaWriter.footerStatsServed.get()
      op
      assert(DeltaWriter.scanStatsServed.get() === s0, s"$what re-scanned a staged file")
      assert(DeltaWriter.footerStatsServed.get() > f0, s"$what staged no footer-served file")
    }
    scansDuring("create")(DeltaWriter.write(rows(0 until 40), dir, SaveMode.Append, Seq("p")))
    scansDuring("append")(DeltaWriter.write(rows(40 until 60), dir, SaveMode.Append, Seq("p")))
    scansDuring("UPDATE")(DeltaDml.update(spark, dir, "p = 1", Map("d" -> "d * 0.0")))
    scansDuring("DELETE")(DeltaDml.delete(spark, dir, "p = 2 AND id % 5 = 0"))
    scansDuring("MERGE")(DeltaMerge.merge(spark, dir,
      Seq((3L, 0, -0.0d), (100L, 1, 0.0d)).toDF("id", "p", "d"), "t.id = s.id",
      matchedUpdate = Some(Map("d" -> "s.d")),
      notMatchedInsert = Some(Map("id" -> "s.id", "p" -> "s.p", "d" -> "s.d"))))
    val stats = DeltaLog.snapshot(spark, dir).files.flatMap(_.stats)
    assert(stats.nonEmpty && stats.forall(!_.contains("-0.0")), s"zero bounds must render as 0.0: $stats")
    // the canonical bounds skip soundly: a pushed `d = 0` finds every zero
    val all = DeltaTable.read(spark, dir)
    assert(all.filter(col("d") === 0.0d).count() ===
      all.collect().count(_.getAs[Double]("d") == 0.0d))
  }
}
