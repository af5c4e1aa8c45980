package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the native pq_adc_sim Catalyst expression (the ss07/ss10 ADC
  * scorer): bit-exact parity with the declarative column it replaced (64
  * element_at dot terms + 8 norm terms as explicit left-assoc `+` chains,
  * each holding its own copy of the codebook literal — the formulation
  * whose ~72 fat literal nodes made every AQE plan print stringify
  * ~72×1024 doubles), codegen/interpreted agreement, and the
  * literal-argument contract. */
class PqAdcSimSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** ss07's codebook derivation: first 16 vectors by md5(vec_id). */
  private def fixtureCodebook(): (Seq[Seq[Seq[Double]]], Seq[Seq[Double]]) = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(16)
      .collect()
    val cb = rows.toSeq.map { r =>
      val e = r.getSeq[Float](1)
      (0 until 8).map(sub => (0 until 8).map(j => e(sub * 8 + j).toDouble))
    }
    val norms = cb.map(_.map(subv => subv.map(x => x * x).reduceLeft(_ + _)))
    (cb, norms)
  }

  /** The independent declarative formula pq_adc_sim replaced: per-code
    * columns c0..c7 extracted from `pq`, 8×8 left-assoc dot chains over
    * element_at against the raw literals, left-assoc across subspaces. */
  private def declaredSim(cb: Seq[Seq[Seq[Double]]],
      norms: Seq[Seq[Double]]): org.apache.spark.sql.Column = {
    val cbLit = typedLit(cb)
    val normLit = typedLit(norms)
    def codeOf(sub: Int) = element_at(col("pq"), sub + 1).cast("int")
    def cbVal(sub: Int, j: Int) =
      element_at(element_at(element_at(cbLit, codeOf(sub)), lit(sub + 1)), lit(j))
    def elemD(sub: Int, j: Int) = element_at(col("qe"), sub * 8 + j).cast("double")
    def dotSub(sub: Int) =
      (1 to 8).map(j => elemD(sub, j) * cbVal(sub, j)).reduceLeft(_ + _)
    val adc = (0 until 8).map(dotSub).reduceLeft(_ + _)
    val recn = (0 until 8).map(sub =>
      element_at(element_at(normLit, codeOf(sub)), lit(sub + 1))).reduceLeft(_ + _)
    adc / sqrt(col("qnrm") * recn)
  }

  /** Query×corpus scoring frame: every vector as corpus, vec_id < 5 as
    * queries — the ss07 shape without the ranking tail. */
  private def scoringFrame() = {
    val (cb, _) = fixtureCodebook()
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("e"))
    val codes = v.select(col("vec_id"),
      call_function("pq_encode", col("e"), typedLit(cb)).as("pq"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
      .withColumn("qnrm",
        aggregate(col("qe"), lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")))
    broadcast(q).join(codes, col("qid") =!= col("vec_id"))
  }

  test("bit-exact parity with the declarative ADC column on the fixture") {
    val (cb, norms) = fixtureCodebook()
    val rows = scoringFrame()
      .select(
        col("qid"), col("vec_id"),
        call_function("pq_adc_sim",
          col("qe"), col("qnrm"), col("pq"), typedLit(cb), typedLit(norms)).as("fast"),
        declaredSim(cb, norms).as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (fast, slow) = (r.getDouble(2), r.getDouble(3))
      assert(java.lang.Double.doubleToRawLongBits(fast)
        === java.lang.Double.doubleToRawLongBits(slow),
        s"(${r.get(0)}, ${r.get(1)}): $fast != $slow")
    }
  }

  test("codegen and interpreted paths agree exactly") {
    val (cb, norms) = fixtureCodebook()
    def run(): Seq[Double] =
      scoringFrame()
        .select(call_function("pq_adc_sim",
          col("qe"), col("qnrm"), col("pq"), typedLit(cb), typedLit(norms)))
        .collect().toSeq.map(_.getDouble(0))
    val withCodegen = run()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      // NO_CODEGEN forces InterpretedUnsafeProjection, so nullSafeEval —
      // the true interpreted path — actually executes; with wholeStage
      // off alone, Spark still compiles a generated projection (r21
      // ADVICE: the interpreted half of this parity test never ran)
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = run()
      assert(withCodegen.map(java.lang.Double.doubleToRawLongBits)
        === interpreted.map(java.lang.Double.doubleToRawLongBits))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("the plan never carries the codebook as a literal node") {
    val (cb, norms) = fixtureCodebook()
    val df = scoringFrame().select(call_function("pq_adc_sim",
      col("qe"), col("qnrm"), col("pq"), typedLit(cb), typedLit(norms)).as("sim"))
    // the whole point: plan prints must be O(1) in codebook size — the
    // opaque holder's toString, never 1024 stringified doubles
    val planStr = df.queryExecution.analyzed.toString
    assert(planStr.contains("pq_literals("), planStr.take(500))
    // norms values exist ONLY in pq_adc_sim's arguments (pq_encode's one
    // codebook literal is a legitimate plan node), so a norm value in the
    // plan string means the holder leaked
    assert(!planStr.contains(norms.head.head.toString),
      "norm values leaked into the plan string")
  }

  test("null inputs yield null; non-literal codebook is rejected") {
    import spark.implicits._
    val cb: Seq[Seq[Seq[Double]]] = Seq(Seq(Seq(1.0)))
    val norms: Seq[Seq[Double]] = Seq(Seq(1.0))
    val df = Seq((Option.empty[Array[Float]], Option.empty[Double], Option.empty[Array[Long]]))
      .toDF("qe", "qnrm", "pq")
    assert(df.select(call_function("pq_adc_sim",
      col("qe"), col("qnrm"), col("pq"), typedLit(cb), typedLit(norms)))
      .collect()(0).isNullAt(0))
    val bad = scala.util.Try {
      val d = Seq((Array(1.0f), 1.0, Array(1L), Seq(Seq(Seq(1.0)))))
        .toDF("qe", "qnrm", "pq", "cb")
      d.select(call_function("pq_adc_sim",
        col("qe"), col("qnrm"), col("pq"), col("cb"), typedLit(norms))).collect()
    }
    assert(bad.isFailure)
  }
}
