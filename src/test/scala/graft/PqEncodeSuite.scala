package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the native pq_encode Catalyst expression (the ss07/ss10 PQ
  * encoder): bit-exact parity with the declarative argmin it replaced
  * (array_min over (d2, code) structs with left-assoc d2 chains — the
  * formulation that overflowed janino's 64 KB method limit when unrolled),
  * codegen/interpreted agreement, and the lower-code tie-break. */
class PqEncodeSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The independent declarative formula: per subspace `sub`, argmin over
    * 1-based codes of Σ_j (e[sub·8+j] − cb[code][sub][j])², left-assoc in
    * j order, ties to the lower code — min(struct(d2, code)) semantics. */
  private def declaredCode(cb: Seq[Seq[Seq[Double]]], sub: Int): org.apache.spark.sql.Column = {
    def elemD(i: Int) = element_at(col("e"), i).cast("double")
    def d2(code: Int) = (1 to 8).map { j =>
      val d = elemD(sub * 8 + j) - lit(cb(code - 1)(sub)(j - 1))
      d * d
    }.reduceLeft(_ + _)
    array_min(array((1 to cb.size).map(code =>
      struct(d2(code).as("d2"), lit(code.toLong).as("code"))): _*)).getField("code")
  }

  /** The fixture codebook ss07 derives: first 16 vectors by md5(vec_id). */
  private def fixtureCodebook(): Seq[Seq[Seq[Double]]] = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(16)
      .collect()
    rows.toSeq.map { r =>
      val e = r.getSeq[Float](1)
      (0 until 8).map(sub => (0 until 8).map(j => e(sub * 8 + j).toDouble))
    }
  }

  test("bit-exact parity with the declarative argmin on the fixture") {
    val cb = fixtureCodebook()
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("e"))
    val df = v
      .withColumn("pq", call_function("pq_encode", col("e"), typedLit(cb)))
      .select(
        col("vec_id"),
        array((0 until 8).map(sub => element_at(col("pq"), sub + 1)): _*).as("fast"),
        array((0 until 8).map(sub => declaredCode(cb, sub)): _*).as("slow"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"vec ${r.get(0)}")
    }
  }

  test("codegen and interpreted paths agree exactly") {
    val cb = fixtureCodebook()
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").as("e"))
    def run(): Seq[Seq[Long]] =
      v.select(call_function("pq_encode", col("e"), typedLit(cb)))
        .collect().toSeq.map(_.getSeq[Long](0))
    val withCodegen = run()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      assert(withCodegen === run())
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("ties break to the lower code (duplicate codebook entries)") {
    import spark.implicits._
    // 3 codes, 2 subs, 2 dims; codes 2 and 3 are identical, both nearer to
    // the vector than code 1 in every subspace → argmin must report 2
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(9.0, 9.0), Seq(9.0, 9.0)),
      Seq(Seq(1.0, 1.0), Seq(2.0, 2.0)),
      Seq(Seq(1.0, 1.0), Seq(2.0, 2.0)))
    val df = Seq(Tuple1(Array(1.0f, 1.0f, 2.0f, 2.0f))).toDF("e")
    val out = df.select(call_function("pq_encode", col("e"), typedLit(cb)))
      .collect()(0).getSeq[Long](0)
    assert(out === Seq(2L, 2L))
  }

  test("null vector yields null; non-literal codebook is rejected") {
    import spark.implicits._
    val cb: Seq[Seq[Seq[Double]]] = Seq(Seq(Seq(0.0)))
    val df = Seq(Tuple1(Option.empty[Array[Float]])).toDF("e")
    assert(df.select(call_function("pq_encode", col("e"), typedLit(cb)))
      .collect()(0).isNullAt(0))
    val bad = scala.util.Try {
      // a per-row (non-foldable) codebook must fail analysis, not run
      val d = Seq((Array(1.0f), Seq(Seq(Seq(1.0))))).toDF("e", "cb")
      d.select(call_function("pq_encode", col("e"), col("cb"))).collect()
    }
    assert(bad.isFailure)
  }
}
