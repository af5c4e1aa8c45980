package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession.{CodegenCacheEntries, ExchangePools, ExchangeThreads}

/** The JVM-wide settings [[GraftSession]] fixes: the generated-class cache
  * holds a whole curation pass, so a repeated pass reuses its classes, and
  * the AQE exchange pools keep at most [[GraftSession.ExchangeThreads]]
  * threads each without stalling a query that needs more. */
class CodegenCacheSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  // perfbench's curation pass: one operator per curation module
  private val curation = Seq("dd02_ngram_jaccard", "dd11_substring_dedup",
    "pp07_corpus_build", "ss10_ivf_pq", "tx09_bigram_lm")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One pass to the `noop` sink; each operator's compile count. */
  private def pass(): Seq[(String, Long)] = curation.map { name =>
    val before = compiles
    try SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
    finally graft.operators.QueryCaches.release()
    name -> (compiles - before)
  }

  /** Two passes from a cold cache: distinct throwaway projections first
    * push out whatever earlier suites left, so the first pass compiles
    * every class it needs. */
  private lazy val passes: (Seq[(String, Long)], Seq[(String, Long)]) = {
    spark
    (0 until 2 * CodegenCacheEntries).foreach { i =>
      UnsafeProjection.create(Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong))))
    }
    (pass(), pass())
  }

  test("a second curation pass compiles at most 5% of the first pass's classes") {
    val (first, second) = passes
    info(s"compiles, first pass: ${first.mkString(", ")}")
    info(s"compiles, second pass: ${second.mkString(", ")}")
    val (a, b) = (first.map(_._2).sum, second.map(_._2).sum)
    assert(a > 0)
    assert(b <= a * 0.05, s"second pass compiled $b classes, first $a")
  }

  test("after the passes each exchange pool holds at most the factory's threads") {
    passes
    val live = Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
    val threads = ExchangePools.map { case (prefix, _) => prefix -> live.count(_.startsWith(prefix + "-")) }
    info(s"live threads: ${threads.mkString(", ")}")
    assert(threads.forall(_._2 <= ExchangeThreads), s"over $ExchangeThreads: $threads")
  }

  test("an AQE star over more broadcasts than the broadcast pool's threads returns its rows") {
    import spark.implicits._
    val dims = ExchangeThreads + 4
    val fact = spark.range(0, 1000)
      .selectExpr("id" +: (0 until dims).map(d => s"(id + $d) % 7 AS k$d"): _*)
    val star = (0 until dims).foldLeft(fact) { (df, d) =>
      df.join(broadcast(spark.range(0, 7).selectExpr(s"id AS k$d", s"id * ${d + 1} AS v$d")),
        Seq(s"k$d"))
    }.selectExpr(s"sum(${(0 until dims).map(d => s"v$d").mkString(" + ")})").as[Long]
    val got = GraftSession.withConf(spark, "spark.sql.adaptive.enabled", "true") {
      Await.result(Future(star.collect().head), 3.minutes)
    }
    val want = (for (id <- 0L until 1000L; d <- 0 until dims) yield ((id + d) % 7) * (d + 1)).sum
    assert(got === want)
    val stages = "BroadcastQueryStage".r.findAllIn(star.queryExecution.executedPlan.toString).size
    assert(stages >= dims, s"$stages broadcast stages")
  }
}
