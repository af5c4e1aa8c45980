package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** File-based Structured Streaming: `readStream` over a parquet directory
  * (the batch fixtures replayed as a stream) must agree with the batch
  * aggregation over the same files — the core "batch query = streaming
  * query" contract the repo's §2.5 mapping relies on. */
class FileStreamSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("parquet readStream aggregation matches the batch result") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-stream")
    // two "arriving" files
    Seq((1L, "a", 10.0), (2L, "b", 5.0)).toDF("id", "k", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "a", 2.5)).toDF("id", "k", "v")
      .coalesce(1).write.mode("append").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val q = stream.writeStream.format("memory").queryName("filestream")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filestream")
        .orderBy("k").collect().map(_.toString).toSeq
      val batch = spark.read.parquet(dir)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .orderBy("k").collect().map(_.toString).toSeq
      assert(streamed === batch)
      assert(streamed === Seq("[a,2,12.5]", "[b,1,5.0]"))
    } finally q.stop()
  }
}
