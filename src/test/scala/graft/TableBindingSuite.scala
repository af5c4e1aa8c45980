package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Tables

/** [[Tables.read]] is the operator modules' one parquet binding: it infers
  * a file's schema with a Spark job once per file version and conf setting,
  * and every other read of it runs no job until a query does. */
class TableBindingSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Jobs `Tables.read` starts: only schema inference runs one. */
  private def schemaJobs(dir: String, name: String): Int =
    TestSpark.jobsDuring(Tables.read(spark, dir, name)).size

  test("a second read of an unchanged file runs no schema job") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-binding-once")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(schemaJobs(dir, "t") === 1)
    assert(schemaJobs(dir, "t") === 0)
    assert(Tables.read(spark, dir, "t").orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }

  test("a rewritten file infers again and returns its new schema and rows") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-binding-rewrite")
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.read(spark, dir, "t").schema.fieldNames.toSeq === Seq("id"))
    Seq(("x", 7)).toDF("name", "n").write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    assert(schemaJobs(dir, "t") === 1)
    val df = Tables.read(spark, dir, "t")
    assert(df.schema.fieldNames.toSeq === Seq("name", "n"))
    assert(df.as[(String, Int)].collect().toSeq === Seq(("x", 7)))
  }

  test("the same events file read with and without nanosAsLong keeps two entries") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-binding-events")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))).toDF("id", "ts")
      .write.parquet(s"$dir/events.parquet")
    def jobsWith(nanos: String): Int =
      GraftSession.withConf(spark, NanosAsLong, nanos)(schemaJobs(dir, "events"))
    assert(jobsWith("true") === 1)
    assert(jobsWith("false") === 1)
    // both settings stay cached: alternating between them infers nothing
    assert(jobsWith("true") === 0)
    assert(jobsWith("false") === 0)
  }

  test("no operator module reads parquet outside the binding") {
    // split literal: this file must not match its own pattern
    val pattern = ("read\\s*\\.\\s*" + "parquet|format\\(\\s*\"parquet\"").r
    val walk = Files.walk(Paths.get("src/main/scala/graft/operators"))
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.getFileName.toString == "Tables.scala"))
    val hits = files.filterNot(_.getFileName.toString == "Tables.scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).nonEmpty => s"${p.getFileName}:${i + 1}: $line"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
