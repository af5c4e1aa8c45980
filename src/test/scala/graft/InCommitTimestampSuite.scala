package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta._

/** In-commit timestamps (`delta.enableInCommitTimestamps`, the
  * `inCommitTimestamp` writer feature): enablement protocol/provenance,
  * monotonic stamping across every commit path, and the read side —
  * timestamp travel, DESCRIBE HISTORY and CDF must consume the in-commit
  * value, never the (rewritable) log-file mtime. */
class InCommitTimestampSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(): String = {
    val dir = TestSpark.tempDir("graft-ict")
    (0 until 20).map(i => (i, i * 1.0)).toDF("id", "v")
      .write.format("delta").save(dir) // v0
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableInCommitTimestamps' = 'true')") // v1
    dir
  }

  private def ictOf(dir: String, v: Long): Option[Long] =
    InCommitTimestamps.readIct(spark, dir, v)

  test("enablement: writer-feature protocol, provenance keys, the enabling commit is stamped") {
    val dir = fresh()
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.protocol.minWriterVersion === 7)
    assert(snap.protocol.writerFeatures.contains("inCommitTimestamp"))
    assert(snap.protocol.minReaderVersion === 1, "ict is writer-only; reader must not move")
    assert(snap.metadata.configuration(InCommitTimestamps.EnablementVersionKey) === "1")
    val enablementTs = snap.metadata.configuration(InCommitTimestamps.EnablementTimestampKey).toLong
    assert(ictOf(dir, 1L).contains(enablementTs))
    assert(ictOf(dir, 0L).isEmpty, "pre-enablement commit must carry no ict")
  }

  test("every commit path stamps a strictly increasing ict") {
    val dir = fresh() // v1 = enable
    DeltaWriter.write(Seq((100, 1.0)).toDF("id", "v"), dir, SaveMode.Append, Nil) // v2
    DeltaDml.update(spark, dir, "id = 100", Map("v" -> "2.0")) // v3
    DeltaDml.delete(spark, dir, "id = 100") // v4
    DeltaMaintenance.optimize(spark, dir) // v5 (may be a no-op commit-less)
    DeltaDml.deleteWithDv(spark, dir, "id = 3") // next
    val latest = DeltaLog.snapshot(spark, dir).version
    val icts = (1L to latest).map(v => v -> ictOf(dir, v))
    icts.foreach { case (v, t) => assert(t.isDefined, s"version $v missing ict") }
    val series = icts.map(_._2.get)
    assert(series.zip(series.tail).forall { case (a, b) => b > a },
      s"icts not strictly increasing: $series")
  }

  test("timestamp travel and history read the ict, surviving mtime rewrites") {
    val dir = fresh() // v0 data, v1 enable
    DeltaWriter.write(Seq((100, 1.0)).toDF("id", "v"), dir, SaveMode.Append, Nil) // v2
    DeltaWriter.write(Seq((200, 2.0)).toDF("id", "v"), dir, SaveMode.Append, Nil) // v3
    val ict2 = ictOf(dir, 2L).get
    // simulate a storage migration: every commit file's mtime jumps far
    // into the future — mtime-based resolution would see NO commit before
    // any historical cutoff
    val logDir = DeltaLog.logDir(dir)
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val future = System.currentTimeMillis() + 365L * 24 * 3600 * 1000
    (0L to 3L).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(logDir, f"$v%020d.json"), future, -1)
    }
    val cutoff = new java.sql.Timestamp(ict2).toString
    val snap = DeltaLog.snapshot(spark, dir, timestampAsOf = Some(cutoff))
    assert(snap.version === 2L,
      s"travel to ict of v2 must resolve v2, got ${snap.version}")
    assert(DeltaTable.read(spark, dir).count() === 22)
    // history's timestamp column serves the ict, not the bogus mtime
    val hist = DeltaMaintenance.history(spark, dir)
      .filter("version = 2").collect().head
    assert(hist.getLong(1) === ict2)
  }

  test("CDF _commit_timestamp carries the ict") {
    val dir = fresh()
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v2
    DeltaDml.update(spark, dir, "id = 5", Map("v" -> "-5.0")) // v3
    val ict3 = ictOf(dir, 3L).get
    val ch = DeltaTable.readCdf(spark, dir, 2L, 3L)
      .filter("_change_type = 'update_postimage'").collect()
    assert(ch.length === 1)
    assert(ch.head.getAs[java.sql.Timestamp]("_commit_timestamp").getTime === ict3)
  }
}
