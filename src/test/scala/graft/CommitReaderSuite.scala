package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.GraftStreamingBridge.asBatch
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta._

/** The driver reads a commit JSON through one reader,
  * `DeltaLog.readCommit`, and times a commit by one rule,
  * `DeltaLog.commitTimeOf`: the in-commit timestamp when the commit
  * carries one, else the commit file's mtime. DESCRIBE HISTORY, time
  * travel and batch and streaming CDF must all agree on it. */
class CommitReaderSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("history, time travel and batch and streaming CDF agree on every commit's time") {
    val dir = TestSpark.tempDir("graft-commit-time")
    DeltaWriter.write((0 until 10).map(i => (i, s"r$i")).toDF("id", "v"),
      dir, SaveMode.Append, Nil) // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')") // v1
    DeltaWriter.write(Seq((10, "r10")).toDF("id", "v"), dir, SaveMode.Append, Nil) // v2
    DeltaDml.update(spark, dir, "id = 3", Map("v" -> "'u3'")) // v3
    DeltaDml.delete(spark, dir, "id = 5") // v4
    DeltaWriter.write(Seq((11, "r11")).toDF("id", "v"), dir, SaveMode.Append, Nil) // v5
    DeltaDml.update(spark, dir, "id = 11", Map("v" -> "'u11'")) // v6
    val latest = DeltaLog.latestVersion(spark, dir)
    assert(latest === 6L)

    // commitInfo.timestamp is stamped before the commit file is written,
    // so it precedes the file's mtime by a few ms. Widen that gap to 5 s,
    // the same on every run: each commit file's mtime becomes its
    // commitInfo.timestamp + 5 s.
    val logDir = DeltaLog.logDir(dir)
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val mapper = new ObjectMapper()
    val mtimes = (0L to latest).map { v =>
      val file = new org.apache.hadoop.fs.Path(logDir, f"$v%020d.json")
      val ci = Files.readAllLines(Paths.get(file.toUri.getPath)).asScala
        .map(mapper.readTree).find(_.has("commitInfo")).get.get("commitInfo")
      val mtime = ci.get("timestamp").asLong() + 5000L
      fs.setTimes(file, mtime, -1)
      v -> mtime
    }.toMap

    val history = DeltaMaintenance.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(history === mtimes, "a non-ICT table's history serves each commit file's mtime")

    val schema = DeltaLog.snapshot(spark, dir).schema
      .add(DeltaCdf.TypeCol, "string")
      .add(DeltaCdf.VersionCol, "long")
      .add(DeltaCdf.TimestampCol, "timestamp")
    val stream = new DeltaStreamingSource(spark.sqlContext, dir, schema,
      ignoreDataChangeRemoves = false, changeFeed = true)
    def commitTimestamps(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(DeltaCdf.TimestampCol).distinct().as[java.sql.Timestamp]
        .collect().map(_.getTime).toSeq

    (0L to latest).foreach { v =>
      val iso = java.time.Instant.ofEpochMilli(history(v)).toString
      assert(DeltaLog.snapshot(spark, dir, timestampAsOf = Some(iso)).version === v,
        s"TIMESTAMP AS OF history($v) must resolve v$v")
      assert(spark.sql(s"SELECT id, v FROM delta.`$dir` TIMESTAMP AS OF '$iso'")
        .as[(Int, String)].collect().toSet ===
        DeltaTable.readVersion(spark, dir, v).select("id", "v").as[(Int, String)].collect().toSet)
      // a fresh CDF stream pinned at v serves v's snapshot as inserts
      assert(commitTimestamps(asBatch(stream.getBatch(None, LongOffset(v)))) === Seq(history(v)),
        s"streaming CDF at v$v")
      // v0 predates enablement and v1 changes no rows: batch CDF rows
      // exist from v2 on
      if (v >= 2)
        assert(commitTimestamps(DeltaTable.readCdf(spark, dir, v - 1, v)) === Seq(history(v)),
          s"batch CDF of v$v")
    }
  }

  test("no sources/delta file reads a commit JSON outside DeltaLog.readCommit") {
    // reading a file as lines is what parsing a commit JSON takes; only
    // the reader's own body may do it
    val pattern =
      "fromInputStream|InputStreamReader|readLine\\(|linesIterator|getLines|readValues|MappingIterator".r
    val walk = Files.walk(Paths.get("src/main/scala/graft/sources/delta"))
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = files.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      val reader =
        if (p.getFileName.toString != "DeltaLog.scala") 0 until 0
        else {
          val start = lines.indexWhere(_.contains("def readCommit["))
          assert(start >= 0, "DeltaLog.readCommit is gone")
          start to lines.indexWhere(_.startsWith("  }"), start)
        }
      lines.zipWithIndex.collect {
        case (line, i) if !reader.contains(i) && pattern.findFirstIn(line).nonEmpty =>
          s"${p.getFileName}:${i + 1}: $line"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
