package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaAddFile, DeltaCommit, DeltaLog, DeltaWriter}

/** The Delta layer's one commit transaction: every commit path publishes
  * through [[DeltaCommit]], and a transaction that keeps losing its race
  * cleans up what it staged before it fails. */
class DeltaCommitSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("DeltaCommit.scala holds the only commit loop and action encoders under sources/delta") {
    // split literals: this file must not match its own patterns
    val patterns = Seq("DeltaLog." + "tryCommit(") ++
      Seq("commitInfo", "add", "remove", "metaData", "txn")
        .map(a => "putObject(\"" + a + "\")")
    val walk = Files.walk(Paths.get("src/main/scala/graft/sources/delta"))
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = files.flatMap { p =>
      val text = Files.readString(p)
      patterns.filter(text.contains).map(pat => s"${p.getFileName}: $pat")
    }
    assert(hits.nonEmpty && hits.forall(_.startsWith("DeltaCommit.scala:")), hits.mkString("\n"))
  }

  test("a transaction that loses every race deletes its staged file and reports its attempts") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-commit-exhaust")
    DeltaWriter.write(Seq(1L, 2L).toDF("id"), dir, SaveMode.Append, Nil)
    val staged = Paths.get(dir, "part-staged.parquet")
    Files.write(staged, Array[Byte](1, 2, 3))
    var attempts = 0
    val e = intercept[java.io.IOException] {
      DeltaCommit.run(spark, dir, "TEST", () => Files.delete(staged)) {
        attempts += 1
        val snap = DeltaLog.metadataSnapshot(spark, dir)
        // a rival writer takes this attempt's version first
        assert(DeltaLog.tryCommit(spark, dir, snap.version + 1,
          """{"commitInfo":{"operation":"RIVAL"}}"""))
        Right(DeltaCommit.Txn(Some(snap), "TEST", actions = Seq(
          DeltaCommit.addLine(DeltaAddFile("part-staged.parquet", Map.empty, 3L, 0L, None)))))
      }
    }
    assert(e.getMessage === s"TEST could not commit to $dir after 20 attempts")
    assert(attempts === DeltaCommit.MaxAttempts)
    assert(!Files.exists(staged), "the staged file outlived the failed transaction")
    // only the rivals landed, and the table still reads its own rows
    assert(DeltaLog.snapshot(spark, dir).version === 20L)
    assert(DeltaLog.snapshot(spark, dir).files.map(_.path).forall(_ != "part-staged.parquet"))
  }
}
