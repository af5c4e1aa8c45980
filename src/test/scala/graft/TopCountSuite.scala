package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** top_count == the declarative HOF composition it replaces, on every
  * shape that matters (uniform, all-same, ties, singletons, empties in
  * tokens filtered out upstream). */
class TopCountSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("top_count equals array_max(transform(array_distinct(...))) on fixture tokens") {
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("toks")) > 0)
      .select(
        expr("top_count(toks)").as("native"),
        expr("array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))")
          .as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(rows.count() === 0)
  }

  test("edge shapes") {
    import spark.implicits._
    val df = Seq(
      (1, Seq("a")),
      (2, Seq("a", "b", "a", "a")),
      (3, Seq("x", "y")),            // tie -> 1
      (4, Seq.empty[String])
    ).toDF("id", "arr")
    val got = df.select(col("id"), expr("top_count(arr)").as("c"))
      .orderBy("id").as[(Int, Int)].collect().toSeq
    assert(got === Seq((1, 1), (2, 3), (3, 1), (4, 0)))
  }
}
