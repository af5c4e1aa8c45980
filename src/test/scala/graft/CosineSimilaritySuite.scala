package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CosineSimilarity, GraftSparkExtensions}

/** Specs for the native cosine_sim Catalyst expression: bit-exact parity
  * with the declarative fold the oracles use, codegen/interpreted
  * agreement, null handling, and both registration paths. */
class CosineSimilaritySuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val foldSim =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (s, v) -> s + v)
       / sqrt(aggregate(transform(a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (s, v) -> s + v)
            * aggregate(transform(b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (s, v) -> s + v))"""

  private def pairs(s: SparkSession) = {
    val v = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    v.as("l").join(v.as("r"), col("l.vec_id") + 1 === col("r.vec_id"))
      .select(col("l.vec_id").as("id"), col("l.embedding").as("a"), col("r.embedding").as("b"))
  }

  test("bit-exact parity with the declarative HOF fold (oracle formula)") {
    val df = pairs(spark)
      .select(col("id"), expr("cosine_sim(a, b)").as("fast"), expr(foldSim).as("fold"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // exact double equality — same IEEE operation sequence, not "close"
      assert(r.getDouble(1) === r.getDouble(2), s"vec ${r.getLong(0)}")
    }
  }

  test("codegen and interpreted paths agree exactly") {
    val base = pairs(spark)
    val withCodegen = base.select(expr("cosine_sim(a, b)")).collect().map(_.getDouble(0))
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = base.select(expr("cosine_sim(a, b)")).collect().map(_.getDouble(0))
      assert(withCodegen.toSeq === interpreted.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("null input yields null; type mismatch is an analysis error") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f, 0.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(df.select(expr("cosine_sim(a, b)")).collect()(0).isNullAt(0))
    val bad = scala.util.Try(
      spark.range(1).select(expr("cosine_sim(id, id)")).collect())
    assert(bad.isFailure)
  }

  test("identical vectors score 1.0; orthogonal score 0.0") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)")).collect().map(_.getDouble(0))
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
  }

  test("SparkSessionExtensions hook injects the function builder") {
    // a fresh SparkSession in the same JVM would be getOrCreate-reused
    // (extensions only apply at context build), so exercise the hook
    // directly: it must register against an extensions object without error
    // and build the expression from the injected builder signature.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftSparkExtensions().apply(ext)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val built = CosineSimilarity(Literal(null), Literal(null))
    assert(built.prettyName === "cosine_sim")
  }

  test("expression tree transforms preserve the node (withNewChildrenInternal)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = CosineSimilarity(Literal(null), Literal(null))
    val e2 = e.withNewChildren(Seq(Literal(1), Literal(2)))
    assert(e2.isInstanceOf[CosineSimilarity])
    assert(e2.children === Seq(Literal(1), Literal(2)))
  }
}
