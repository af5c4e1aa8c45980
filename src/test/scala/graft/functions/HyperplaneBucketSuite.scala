package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the native hp_bucket8 expression to the independent HOF fold it
  * replaced (identical md5-parity plane signs, identical left-assoc
  * double accumulation) over the whole embeddings fixture. */
class HyperplaneBucketSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("native bucket == legacy HOF fold for every fixture vector") {
    val rows = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("native", expr("hp_bucket8(e)"))
      .withColumn("legacy", graft.operators.Similarity.legacyBucketCol)
      .filter(col("native") =!= col("legacy"))
      .count()
    assert(rows === 0L, "native and legacy buckets must agree on every vector")
  }

  test("buckets stay in the 8-bit range and are non-degenerate") {
    val stats = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(expr("hp_bucket8(embedding)").as("b"))
      .agg(min(col("b")), max(col("b")), countDistinct(col("b")))
      .head()
    assert(stats.getLong(0) >= 0L && stats.getLong(1) <= 255L)
    assert(stats.getLong(2) > 16L, "a healthy LSH spreads over many buckets")
  }
}
