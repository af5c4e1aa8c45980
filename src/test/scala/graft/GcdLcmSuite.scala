package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GcdLcm

/** Kernel + SQL-surface specs for the native gcd/lcm expressions. */
class GcdLcmSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("gcd kernel: Euclid with sign/zero semantics") {
    assert(GcdLcm.gcd(12, 18) === 6)
    assert(GcdLcm.gcd(-12, 18) === 6)
    assert(GcdLcm.gcd(12, -18) === 6)
    assert(GcdLcm.gcd(0, 5) === 5)
    assert(GcdLcm.gcd(5, 0) === 5)
    assert(GcdLcm.gcd(0, 0) === 0)
    assert(GcdLcm.gcd(17, 13) === 1)
  }

  test("lcm kernel: zero short-circuit, sign, overflow check") {
    assert(GcdLcm.lcm(4, 6) === 12)
    assert(GcdLcm.lcm(-4, 6) === 12)
    assert(GcdLcm.lcm(0, 5) === 0)
    assert(GcdLcm.lcm(7, 7) === 7)
    intercept[ArithmeticException] {
      GcdLcm.lcm(Long.MaxValue - 1, Long.MaxValue - 2)
    }
  }

  test("SQL surface: codegen path agrees with the kernel, nulls propagate") {
    import spark.implicits._
    val df = Seq((12L, 18L), (0L, 5L), (-12L, 18L), (17L, 13L))
      .toDF("a", "b")
    val rows = df.selectExpr("gcd(a, b) AS g", "lcm(a, b) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((6L, 36L), (5L, 0L), (6L, 36L), (1L, 221L)))
    val n = spark.sql("SELECT gcd(CAST(NULL AS BIGINT), 5L) AS g").collect()(0)
    assert(n.isNullAt(0))
  }
}
