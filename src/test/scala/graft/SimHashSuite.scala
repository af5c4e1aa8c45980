package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** simhash16 native expression: parity with the declarative fold, edge
  * cases, codegen/interpreted agreement. */
class SimHashSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val foldSig =
    """aggregate(
         transform(sequence(0, 15), b ->
           IF(aggregate(ths, 0L, (acc, h) ->
                acc + IF(((h >> b) & 1) = 1, 1, -1)) > 0,
              shiftleft(1L, b), 0L)),
         0L, (a, x) -> a + x)"""

  test("exact parity with the declarative ±1-vote fold on real documents") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("toks")) > 0)
      .withColumn("ths", expr(
        "transform(toks, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT))"))
      .select(expr("simhash16(ths)").as("fast"), expr(foldSig).as("fold"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("edge cases: empty array, single hash, null") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq.empty[Long])),
      (2L, Some(Seq(5L))), // bits 0 and 2 set
      (3L, Option.empty[Seq[Long]])).toDF("id", "ths")
    val got = df.select(col("id"), expr("simhash16(ths)").as("sig"))
      .orderBy("id").collect()
    assert(got(0).getLong(1) === 0L)
    assert(got(1).getLong(1) === 5L)
    assert(got(2).isNullAt(1))
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(1L, 3L, 3L, 7L))).toDF("ths")
    val on = df.select(expr("simhash16(ths)")).collect()(0).getLong(0)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val off = df.select(expr("simhash16(ths)")).collect()(0).getLong(0)
      assert(on === off)
      assert(on === 3L) // majority bits of {1,3,3,7}: bit0 (4/4), bit1 (3/4)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }
}
