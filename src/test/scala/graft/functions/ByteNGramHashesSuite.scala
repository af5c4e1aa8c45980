package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the native byte-shingle hasher to the declarative recipe it
  * replaces (and that the mm05 DuckDB oracle re-states): per 4-byte
  * chunk of the UPPERCASE-hex payload, first-8-hex-chars of md5 as an
  * unsigned 32-bit BIGINT. */
class ByteNGramHashesSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("native hashes == hex-substr/md5 HOF chain on the documents fixture") {
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .withColumn("native", expr("byte_ngram_hashes(payload, 4)"))
      .withColumn("hx", hex(col("payload")))
      .withColumn("declarative", expr(
        """transform(sequence(0, CAST(ceil(length(hx) / 8.0) AS INT) - 1),
             i -> CAST(conv(substr(md5(substr(hx, i * 8 + 1, 8)), 1, 8), 16, 10) AS BIGINT))"""))
      .select(col("doc_id"), col("native"), col("declarative"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"hash mismatch for doc ${r.getLong(0)}")
    }
  }

  test("md5 word 1 == hex chars 9-16 of the same digest (mm06's hi half)") {
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .filter(octet_length(col("payload")) > 0)
      .withColumn("native", expr("byte_ngram_hashes(payload, 4, 1)"))
      .withColumn("hx", hex(col("payload")))
      .withColumn("declarative", expr(
        """transform(sequence(0, CAST(ceil(length(hx) / 8.0) AS INT) - 1),
             i -> CAST(conv(substr(md5(substr(hx, i * 8 + 1, 8)), 9, 8), 16, 10) AS BIGINT))"""))
      .select(col("doc_id"), col("native"), col("declarative"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"word-1 hash mismatch for doc ${r.getLong(0)}")
    }
  }

  test("EMPTY payload returns an empty array (documented divergence from the recipe)") {
    import spark.implicits._
    // the declarative recipe's sequence(0, ceil(0/8.0)-1) = sequence(0,-1)
    // is a DESCENDING [0,-1] that would hash two phantom chunks; the
    // native expression returns [] — mm05 filters empty payloads, and this
    // pin keeps the divergence visible rather than latent
    val r = Seq(Array.emptyByteArray).toDF("b")
      .select(expr("byte_ngram_hashes(b, 4)").as("h"))
      .head().getSeq[Long](0)
    assert(r.isEmpty, s"empty payload must hash to no chunks, got $r")
  }

  test("tail chunk shorter than the width hashes its remaining hex chars") {
    import spark.implicits._
    // 5 bytes -> one full 8-hex chunk + one 2-hex tail
    val r = Seq(Array[Byte](0x41, 0x42, 0x43, 0x44, 0x45)).toDF("b")
      .select(expr("byte_ngram_hashes(b, 4)").as("h"))
      .head().getSeq[Long](0)
    assert(r.length === 2)
    def ref(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      BigInt(1, md.digest(s.getBytes("UTF-8")).take(4)).toLong
    }
    assert(r(0) === ref("41424344"))
    assert(r(1) === ref("45"))
  }
}
