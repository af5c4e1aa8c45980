package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaMaintenance, DeltaTable, DeltaWriter}

/** OPTIMIZE ZORDER BY: Morton clustering tightens per-file min/max stats
  * on EVERY clustered column (the multi-column stats-skipping predicate
  * for 100 TB scans). */
class ZOrderSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  /** Full 32×32 (x, y) grid, hash-shuffled into 4 files: before Z-order,
    * each file's x and y ranges cover ~the whole domain. */
  private def gridTable(): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-zorder")
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x, y))
      .toDF("x", "y")
      .orderBy(hash(col("x"), col("y")))
      .repartition(4)
    DeltaWriter.write(grid, dir, SaveMode.Append, Nil)
    dir
  }

  /** Mean over files of (x-span × y-span) / domain area — 1.0 ≈ random
    * placement, 0.25 ≈ perfect 4-quadrant clustering. */
  private def meanAreaFraction(dir: String): Double = {
    val snap = DeltaLog.snapshot(spark, dir)
    val fracs = snap.files.map { f =>
      val stats = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(f.stats.get)
      def span(c: String): Double =
        (stats.get("maxValues").get(c).asDouble() -
          stats.get("minValues").get(c).asDouble() + 1) / 32.0
      span("x") * span("y")
    }
    fracs.sum / fracs.size
  }

  test("zorder clusters both columns; data, stats and history survive") {
    val dir = gridTable()
    val before = meanAreaFraction(dir)
    assert(before > 0.8, s"hash-shuffled files should be unclustered, got $before")
    val expected = DeltaTable.read(spark, dir)
      .orderBy("x", "y").collect().map(_.toString).toSeq

    val m = DeltaMaintenance.zorder(spark, dir, Seq("x", "y"), outputFiles = Some(4))
    assert(m.filesRemoved === 4)
    assert(m.filesAdded >= 3) // range partitioner may emit an empty slice

    val after = meanAreaFraction(dir)
    assert(after < 0.5, s"Z-ordered files should cluster both columns, got $after")

    // data intact, stats re-collected, dataChange=false time travel intact
    val got = DeltaTable.read(spark, dir)
      .orderBy("x", "y").collect().map(_.toString).toSeq
    assert(got === expected)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.forall(_.stats.nonEmpty))
    assert(DeltaTable.readVersion(spark, dir, 0L).count() === 1024)
    val ops = DeltaMaintenance.history(spark, dir)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head === "OPTIMIZE")
  }

  test("zorder rejects partition columns, unsupported types, bad arity") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-zorder-bad")
    DeltaWriter.write(
      Seq((1, "a", 2.0, true)).toDF("x", "k", "y", "b").coalesce(1),
      dir, SaveMode.Append, Seq("k"))
    intercept[IllegalArgumentException] {
      DeltaMaintenance.zorder(spark, dir, Seq("x", "k"))
    }
    intercept[IllegalArgumentException] {
      DeltaMaintenance.zorder(spark, dir, Seq("x", "b")) // boolean
    }
    // arity contract: 1..4 columns. A SINGLE column is valid — it skips
    // bit interleaving and range-sorts on the monotone numericization
    // (strictly tighter stats than the 256-bucket z-curve), which is the
    // single-key CLUSTER BY path. Five or more is refused: the z-curve's
    // per-column selectivity collapses past 4 interleaved dimensions.
    intercept[IllegalArgumentException] {
      DeltaMaintenance.zorder(spark, dir, Seq("x", "y", "x", "y", "x"))
    }
    intercept[IllegalArgumentException] {
      DeltaMaintenance.zorder(spark, dir, Nil)
    }
    val m = DeltaMaintenance.zorder(spark, dir, Seq("x"))
    assert(m.filesRemoved >= 1 && m.filesAdded >= 1)
  }

  test("zorder clusters string columns by order-preserving byte prefix") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-zorder-str")
    // 16 distinct key prefixes x 16 numeric values, shuffled across files
    val df = (0 until 256).map { i =>
      (f"key${i % 16}%02d-${i}%03d", (i * 7) % 16, i)
    }.toDF("s", "g", "id").orderBy(hash(col("id"))).repartition(4)
    DeltaWriter.write(df, dir, SaveMode.Append, Nil)
    val m = DeltaMaintenance.zorder(spark, dir, Seq("s", "g"), outputFiles = Some(4))
    assert(m.filesRemoved === 4 && m.filesAdded >= 2)
    assert(DeltaTable.read(spark, dir).count() === 256)
    // clustering effect: every output file's string span covers a strict
    // subset of the 16 prefixes (pre-zorder each file held nearly all)
    val snap = DeltaLog.snapshot(spark, dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val spans = snap.files.flatMap(_.stats.map { st =>
      val n = mapper.readTree(st)
      (n.path("minValues").path("s").asText(),
        n.path("maxValues").path("s").asText())
    })
    assert(spans.nonEmpty)
    def prefix(v: String): Int = v.substring(3, 5).toInt // keyNN-...
    val widths = spans.map { case (mn, mx) => prefix(mx) - prefix(mn) }
    // every file strictly tighter than the full 0..15 range, and the
    // total span clearly below the unclustered ~15-per-file baseline
    // (range-partition boundaries are sampled, so exact quartile splits
    // are not guaranteed — clustering, not perfection, is the contract)
    assert(widths.forall(_ < 15), s"string spans not clustered: $spans")
    assert(widths.sum <= widths.size * 12, s"string spans too wide: $spans")
  }

  test("zorder clusters temporal columns via their epoch representation") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-zorder-ts")
    val df = (0 until 256).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 8}%02d:${(i / 8) % 32}%02d:00"),
        i % 16, i)
    }.toDF("ts", "g", "id").orderBy(hash(col("id"))).repartition(4)
    DeltaWriter.write(df, dir, SaveMode.Append, Nil)
    val m = DeltaMaintenance.zorder(spark, dir, Seq("ts", "g"), outputFiles = Some(4))
    assert(m.filesRemoved === 4)
    assert(DeltaTable.read(spark, dir).count() === 256)
    // every output file's timestamp span is a fraction of the full 8 hours
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.forall(_.stats.nonEmpty))
  }

  test("interleave_bits: Morton encoding, null-as-zero, codegen = kernel") {
    import spark.implicits._
    // bit i of arg j lands at i*n + j
    val r = spark.sql(
      "SELECT interleave_bits(1, 0) a, interleave_bits(0, 1) b, " +
        "interleave_bits(255, 255) c, interleave_bits(CAST(NULL AS INT), 3) d")
      .collect()(0)
    assert(r.getLong(0) === 1L)     // x bit0 -> bit0
    assert(r.getLong(1) === 2L)     // y bit0 -> bit1
    assert(r.getLong(2) === 65535L) // all 16 bits set
    assert(r.getLong(3) === 10L)    // null -> 0; 3 -> bits 1,3 of y lane
    // monotone-in-quadrant property over a small grid
    val z = (for { x <- 0 until 4; y <- 0 until 4 } yield (x, y))
      .toDF("x", "y")
      .selectExpr("x", "y", "interleave_bits(x * 64, y * 64) AS z")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    // quadrant of (x, y) is determined by the top interleaved bits
    assert(z((0, 0)) < z((2, 2)))
    assert(z((1, 1)) < z((2, 0)) || z((1, 1)) < z((0, 2))) // low quadrant before highs
  }
}
