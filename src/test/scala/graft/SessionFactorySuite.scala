package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, GraftSparkExtensions}

/** [[GraftSession]] is the one session factory and
  * [[GraftSparkExtensions]] the one registration path for graft functions.
  * The shared suite session is itself a `GraftSession.getOrCreate` session
  * (see [[TestSpark]]), so it stands in for the product session here. */
class SessionFactorySuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val names = GraftFunctions.builders.map(_._1)

  test("a newSession() resolves every graft function, weighted_mean included") {
    // what a Spark Connect client gets: a fresh session state on the same
    // context — only what the extension injected is there
    val fresh = spark.newSession()
    val missing = (names :+ "weighted_mean").distinct
      .filterNot(n => fresh.catalog.functionExists(n))
    assert(missing.isEmpty, s"unresolved on newSession(): $missing")
    val row = fresh.sql(
      """SELECT weighted_mean(w, x) AS wm,
        |       cosine_sim(array(1.0D, 0.0D), array(2.0D, 0.0D)) AS cs,
        |       gcd(12L, 18L) AS g
        |FROM VALUES (1.0D, 2.0D), (3.0D, 4.0D) AS t(w, x)""".stripMargin).collect().head
    assert(row.getDouble(0) === 3.5)
    assert(row.getDouble(1) === 1.0)
    assert(row.getAs[Any](2).toString === "6")
  }

  test("cosine_sim arity error is the same on the root session and a newSession()") {
    def message(s: org.apache.spark.sql.SparkSession): String = {
      val e = intercept[Throwable](s.sql("SELECT cosine_sim(array(1.0D))").collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" / ")
    }
    val root = message(spark)
    val fresh = message(spark.newSession())
    assert(root.contains("cosine_sim expects 2 arguments, got 1"), root)
    assert(fresh.contains("cosine_sim expects 2 arguments, got 1"), fresh)
  }

  test("register skips names the session already resolves") {
    GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    names.foreach { n =>
      val info = registry.lookupFunction(FunctionIdentifier(n))
      assert(info.map(_.getClassName).contains(classOf[GraftSparkExtensions].getName),
        s"$n was replaced: $info")
    }
  }

  test("GraftSession.scala holds the only SparkSession builder under src/") {
    val builder = "SparkSession" + ".builder" // split: this file must not match
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .filter(p => Files.readString(p).contains(builder))
      .map(_.getFileName.toString)
    assert(hits === Seq("GraftSession.scala"))
  }
}
