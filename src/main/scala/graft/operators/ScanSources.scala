package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.TempDirs

/** CSV and NDJSON file-source scans (SURVEY.md §2.1).
  *
  * The reference compiles DataFusion's CSV and NDJSON readers into its
  * `register_csv` / `register_json` surface (Cargo.lock:1820-1821); Spark's
  * built-in `spark.read.csv` / `spark.read.json` are the idiomatic mapping.
  * Gate shape mirrors DeltaQueries: each query writes a scratch copy of a
  * fixture table in the text format under test, reads it back through the
  * source with an EXPLICIT schema (schema inference is a scale anti-pattern:
  * it is an extra full pass over 100 TB of text), and aggregates; the DuckDB
  * oracle computes the same aggregate over the raw parquet fixture, so any
  * corruption in write → serialize → parse → scan shows up as a hash
  * mismatch.
  *
  * Scale posture: text sources are splittable line formats — Spark assigns
  * `maxPartitionBytes` splits per executor, so the scan parallelizes like
  * parquet (minus column pruning / pushdown, which text formats cannot do;
  * that trade is inherent to the format, and the reason the pipeline's
  * canonical storage is parquet/delta — text is an ingest edge).
  */
object ScanSources {

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** orders → CSV (header) → read back with explicit schema → aggregate.
    * Doubles survive the text round-trip bit-exactly (Spark writes the
    * shortest repr and parses it back to the same IEEE bits). */
  private def cn01CsvScan(s: SparkSession, dir: String): DataFrame = {
    val path = TempDirs.create("graft-csv-q")
    Tables.read(s, dir, "orders").write.mode("overwrite")
      .option("header", "true").csv(path)
    s.read.schema(ordersSchema).option("header", "true").csv(path)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2)
          .cast("double").as("tp"),
        min(col("o_orderdate")).cast("date").as("dmin"),
        max(col("o_orderdate")).cast("date").as("dmax"))
      .orderBy(col("o_orderstatus"))
  }

  /** customer → NDJSON (one object per line) → read back with explicit
    * schema → aggregate. fn12 covers JSON *functions*; this covers the JSON
    * *file source*. */
  private def js01NdjsonScan(s: SparkSession, dir: String): DataFrame = {
    val path = TempDirs.create("graft-json-q")
    Tables.read(s, dir, "customer").write.mode("overwrite").json(path)
    s.read.schema(customerSchema).json(path)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c_custkey")).as("key_sum"),
        round(sum(col("c_acctbal").cast("decimal(18,6)")), 2)
          .cast("double").as("bal"),
        max(col("c_name")).as("name_max"))
      .orderBy(col("c_mktsegment"))
  }

  val oracleSql: Map[String, String] = Map(
    "cn01_csv_scan" -> """
      SELECT o_orderstatus,
             count(*) AS n,
             CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS tp,
             CAST(min(o_orderdate) AS DATE) AS dmin,
             CAST(max(o_orderdate) AS DATE) AS dmax
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "js01_ndjson_scan" -> """
      SELECT c_mktsegment,
             count(*) AS n,
             CAST(sum(c_custkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal,
             max(c_name) AS name_max
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cn01_csv_scan" -> cn01CsvScan,
    "js01_ndjson_scan" -> js01NdjsonScan)
}
