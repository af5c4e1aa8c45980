package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming coverage (SURVEY.md §2.5): the reference has no
  * streaming surface; these specs pin the Spark-native mapping the repo
  * claims for stream-shaped workloads — watermarked tumbling windows,
  * streaming dedup, and arbitrary stateful aggregation — using
  * MemoryStream sources and memory sinks (no external infra).
  */
class StreamingSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minutes / 60}%02d:${minutes % 60}%02d:00")

  test("watermarked tumbling-window aggregation finalizes closed windows (append mode)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = in.toDF().toDF("ts", "typ", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    val q = agg.writeStream.format("memory").queryName("tumble")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(5), "a", 1.0), (ts(20), "a", 2.0), (ts(30), "b", 4.0))
      q.processAllAvailable()
      // watermark still inside hour 0 → nothing finalized yet
      assert(spark.table("tumble").count() === 0)
      // an event at 02:30 pushes the watermark past hour 0 + 10 min
      in.addData((ts(150), "a", 8.0))
      q.processAllAvailable()
      val rows = spark.table("tumble")
        .select(col("typ"), col("n"), col("sv")).orderBy("typ")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq(("a", 2L, 3.0), ("b", 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicates removes re-delivered event ids across batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val dedup = in.toDF().toDF("event_id", "payload").dropDuplicates("event_id")
    val q = dedup.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, "x"), (2L, "y"), (1L, "x-dup"))
      q.processAllAvailable()
      in.addData((2L, "y-redelivered"), (3L, "z"))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming incremental dedup: new docs band-join a STATIC corpus MinHash index") {
    // the streaming-native dd08 shape: at ingestion time each arriving
    // document's MinHash band keys probe a precomputed corpus band index
    // (stream-static inner join — stateless, no watermark, the index is
    // the broadcast/shuffled side), flagging probable near-dups before
    // they enter the corpus. Mechanics verified against the batch
    // computation on identical data.
    implicit val ctx = spark.sqlContext
    val bandExpr =
      """posexplode(transform(sequence(0, 7), b ->
           concat(CAST(element_at(sig, 2 * b + 1) AS STRING), '_',
                  CAST(element_at(sig, 2 * b + 2) AS STRING))))"""
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def bands(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumn("shingles",
          expr("word_ngrams_arr(filter(split(text, ' '), x -> x != ''), 3)"))
        .filter(size(col("shingles")) > 0)
        .withColumn("sig", expr(
          "minhash16(transform(shingles, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)))"))
        .select(col("doc_id"), expr(bandExpr).as(Seq("band", "key")))
    val corpusIndex = bands(docs.filter(col("doc_id") % 4 =!= 0))
      .withColumnRenamed("doc_id", "corpus_doc")
    val newDocs = docs.filter(col("doc_id") % 4 === 0)
      .as[(Long, String)].collect().toSeq
    val expected = bands(docs.filter(col("doc_id") % 4 === 0))
      .join(corpusIndex, Seq("band", "key"))
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(expected.nonEmpty, "fixture must contain at least one near-dup collision")

    val in = MemoryStream[(Long, String)]
    val flagged = bands(in.toDF().toDF("doc_id", "text"))
      .join(corpusIndex, Seq("band", "key")) // stream-static inner join
      .select(col("doc_id"), col("corpus_doc"))
    val q = flagged.writeStream.format("memory").queryName("inc_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      val (first, rest) = newDocs.splitAt(newDocs.size / 2)
      in.addData(first); q.processAllAvailable()
      in.addData(rest); q.processAllAvailable()
      val got = spark.table("inc_dedup").select("doc_id").distinct()
        .as[Long].collect().toSet
      assert(got === expected,
        "stream-static band probe must flag exactly the batch candidate set")
    } finally q.stop()
  }

  test("streaming CURATION capstone: doc stream -> quality+dedup filters -> exactly-once delta sink") {
    // the end-to-end streaming shape of the batch pp01 pipeline: arriving
    // documents are quality-scored (tx02's formula), streaming-deduped on
    // content hash, and land in a Delta table through the native sink —
    // restart-redelivery collapses via the sink's SetTransaction tags.
    implicit val ctx = spark.sqlContext
    val table = TestSpark.tempDir("graft-stream-cur") + "/tbl"
    val ckpt = TestSpark.tempDir("graft-stream-cur-ck")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    def curated(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
        .withColumn("n_tok", size(col("toks")).cast("double"))
        .withColumn("sr", expr(
          "size(filter(toks, x -> array_contains(array('the','a','of','and','to','in','is'), x)))")
          .cast("double") / nullif(col("n_tok"), lit(0.0)))
        .withColumn("ls", least(lit(1.0), col("n_tok") / lit(100.0)))
        .withColumn("pr", expr("regexp_count(text, '[^a-z0-9 ]')").cast("double")
          / nullif(length(col("text")).cast("double"), lit(0.0)))
        .withColumn("score",
          floor((lit(0.5) * col("sr") + lit(0.3) * col("ls") + lit(0.2) * (lit(1.0) - col("pr")))
            * lit(10000.0)) / lit(10000.0))
        .filter(col("score") >= 0.25) // drop 'poor'
        .withColumn("h", md5(col("text")))
        .select(col("doc_id"), col("h"), col("score"))
    val q = curated(in.toDF().toDF("doc_id", "text"))
      .dropDuplicates("h") // streaming exact dedup on content hash
      .writeStream
      .format("delta")
      .option("checkpointLocation", ckpt)
      .option("path", table)
      .outputMode(OutputMode.Append)
      .start()
    try {
      val (first, rest) = docs.splitAt(docs.size / 2)
      in.addData(first); q.processAllAvailable()
      in.addData(rest); q.processAllAvailable()
      in.addData(first.take(5)) // redelivered content -> dedup drops it
      q.processAllAvailable()
    } finally q.stop()
    // equivalence: the batch composition over the same fixture. Compared
    // on the content HASH set — dropDuplicates keeps an arbitrary row per
    // group, so doc_id choice may differ between arrival and scan order.
    val expected = curated(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .select("h").distinct().as[String].collect().toSet
    val got = graft.sources.delta.DeltaTable.read(spark, table)
      .select("h").as[String].collect().toSeq
    assert(got.size === got.toSet.size, "no content lands twice")
    assert(got.toSet === expected, "streaming curation equals the batch composition")
  }

  test("arbitrary stateful aggregation: flatMapGroupsWithState running totals") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val totals = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Double, (Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Double]) =>
          val total = state.getOption.getOrElse(0.0) + rows.map(_._2).sum
          state.update(total)
          Iterator((user, total))
      }
    val q = totals.toDF("user", "total").writeStream.format("memory")
      .queryName("totals").outputMode(OutputMode.Update).start()
    try {
      in.addData((1L, 10.0), (2L, 5.0))
      q.processAllAvailable()
      in.addData((1L, 7.0))
      q.processAllAvailable()
      // update-mode memory sink appends each update; latest per user wins
      val latest = spark.table("totals")
        .groupBy("user").agg(max("total").as("total"))
        .as[(Long, Double)].collect().toMap
      assert(latest === Map(1L -> 17.0, 2L -> 5.0))
    } finally q.stop()
  }

  test("streaming session_window parity with the batch operator") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val sessions = in.toDF().toDF("ts", "user")
      .groupBy(session_window(col("ts"), "5 minutes").as("sw"), col("user"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete).start()
    try {
      // user 1: two sessions (gap 30 min); user 2: one session
      in.addData((ts(0), 1L), (ts(3), 1L), (ts(40), 1L), (ts(0), 2L))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select(col("user"), col("n")).orderBy(col("user"), col("n"))
        .as[(Long, Long)].collect().toSeq
      assert(got === Seq((1L, 1L), (1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join: watermarked impressions x clicks (exceeds reference)") {
    // SURVEY §2.2 row 18: DataFusion's SymmetricHashJoinExec is unreachable
    // from the reference's API; Spark's watermarked stream-stream join is
    // the native equivalent — pinned here so the engine's streaming story
    // covers two-sided state cleanly. Clicks join impressions on ad id
    // within [0, +30 min) of the impression; both sides watermarked so
    // Spark can evict joined state (unbounded state = the streaming
    // scale-killer).
    implicit val ctx = spark.sqlContext
    val imp = MemoryStream[(Timestamp, Long)]
    val clk = MemoryStream[(Timestamp, Long)]
    val impDf = imp.toDF().toDF("its", "ad").withWatermark("its", "10 minutes")
    val clkDf = clk.toDF().toDF("cts", "cad").withWatermark("cts", "10 minutes")
    val joined = impDf.join(
      clkDf,
      col("ad") === col("cad") &&
        col("cts") >= col("its") && col("cts") < col("its") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append).start()
    try {
      imp.addData((ts(0), 1L), (ts(5), 2L))
      clk.addData((ts(10), 1L), (ts(45), 1L)) // 2nd click outside the window
      q.processAllAvailable()
      val got = spark.table("ssjoin").select(col("ad"), col("cts"))
        .as[(Long, Timestamp)].collect().toSeq.sorted
      assert(got === Seq((1L, ts(10))))
      // late-but-in-window click still joins while state is retained
      clk.addData((ts(20), 2L))
      q.processAllAvailable()
      assert(spark.table("ssjoin").count() === 2)
    } finally q.stop()
  }
}
