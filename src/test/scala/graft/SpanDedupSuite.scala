package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-13 operators on CONSTRUCTED fixtures —
  * the oracle gate proves engine parity on the real fixture; these prove
  * the operator computes the thing the scaladoc promises on inputs where
  * the right answer is known by hand. */
class SpanDedupSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** A documents.parquet dir with hand-authored rows (schema matches the
    * driver fixture: doc_id, text, lang, source, n_chars). */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-span")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dd11: a shared 6-word phrase yields one maximal 6-token span per doc") {
    // docs 1 and 2 share exactly "p q r s t u" (6 words); all other words
    // are unique corpus-wide, so no other 4-gram can repeat
    val dir = docsDir(Seq(
      1L -> "p q r s t u a1 a2 a3 a4",
      2L -> "b1 b2 p q r s t u b3 b4",
      3L -> "c1 c2 c3 c4 c5 c6 c7 c8"))
    try {
      val out = SparkEntry.queries("dd11_substring_dedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
      // (doc_id, n_toks, dup_tokens, n_spans, max_span)
      assert(out === Seq(
        (1L, 10L, 6L, 1L, 6L),
        (2L, 10L, 6L, 1L, 6L)),
        s"unexpected span profile: $out")
    } finally graft.operators.QueryCaches.release()
  }

  test("dd11: two disjoint repeated runs in one doc produce two islands") {
    // doc 1 repeats doc 2's opening 4 words AND doc 3's closing 4 words,
    // separated by unique words — two spans of 4, not one merged span
    val dir = docsDir(Seq(
      1L -> "p q r s z1 z2 z3 w x y v",
      2L -> "p q r s d1 d2 d3 d4",
      3L -> "e1 e2 e3 w x y v"))
    try {
      val byDoc = SparkEntry.queries("dd11_substring_dedup")(spark, dir)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(byDoc(1L) === ((8L, 2L, 4L)),
        s"doc 1 must carry two 4-token islands: ${byDoc(1L)}")
    } finally graft.operators.QueryCaches.release()
  }

  test("ss09: packed sign words match a Scala-side reference bit-for-bit") {
    val rows = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("w0", expr(
        """aggregate(sequence(0, 31), 0L, (acc, d) ->
           acc + IF(element_at(e, d + 1) >= CAST(0.0 AS FLOAT), shiftleft(1L, d), 0L))"""))
      .withColumn("w1", expr(
        """aggregate(sequence(32, 63), 0L, (acc, d) ->
           acc + IF(element_at(e, d + 1) >= CAST(0.0 AS FLOAT), shiftleft(1L, d - 32), 0L))"""))
      .orderBy(col("vec_id")).limit(16).collect()
    rows.foreach { r =>
      val e = r.getSeq[Float](1)
      def pack(lo: Int): Long =
        (0 until 32).map(i => if (e(lo + i) >= 0f) 1L << i else 0L).sum
      assert(r.getLong(2) === pack(0), s"w0 mismatch for vec ${r.getLong(0)}")
      assert(r.getLong(3) === pack(32), s"w1 mismatch for vec ${r.getLong(0)}")
    }
  }

  test("pp11: shards partition the corpus and positions are dense per shard") {
    val dir = "/root/testdata/sf0.001"
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val card = SparkEntry.queries("pp11_shard_shuffle")(spark, dir).collect()
    assert(card.map(_.getLong(1)).sum === total, "shards must cover every doc exactly once")
    assert(card.map(_.getLong(0)).toSet.subsetOf((0L until 8L).toSet))
  }
}
