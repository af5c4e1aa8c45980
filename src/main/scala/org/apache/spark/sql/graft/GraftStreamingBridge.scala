package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The one Spark-internal bridge a DSv1 streaming Source needs:
  * `SparkSession.internalCreateDataFrame(..., isStreaming = true)` is
  * `private[sql]`, so the call must live under `org.apache.spark.sql` —
  * the same packaging escape hatch every production v1 connector uses
  * (delta-spark ships all of `org.apache.spark.sql.delta` this way).
  * Kept to a single one-line object so the engine's own code stays
  * entirely in the `graft` namespace. */
object GraftStreamingBridge {
  def streamingDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The sink-side inverse: a v1 `Sink.addBatch` receives a STREAMING
    * frame that batch writers refuse; re-wrapping its physical rows as a
    * batch frame is how production v1 sinks (delta-spark's DeltaSink)
    * hand micro-batches to their batch write path. */
  def batchDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A frame over a parsed plan (`Dataset.ofRows` is `private[sql]`):
    * the SQL MERGE command analyzes its source plan when it runs. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Spec-side inverse of [[streamingDataFrame]]: re-wrap a v1 Source
    * micro-batch (a streaming-marked LogicalRDD) as a batch frame so
    * tests can collect/count it OUTSIDE an active streaming query —
    * batch execution refuses streaming plans otherwise. */
  def asBatch(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        batchDataFrame(df.sparkSession, l.rdd, df.schema)
      case other => throw new IllegalArgumentException(
        s"not a Source micro-batch frame: ${other.getClass.getName}")
    }
}
