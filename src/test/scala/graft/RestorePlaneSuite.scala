package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaTable, DeltaWriter}

/** RESTORE's two planes — driver (path, dv) Sets vs the distributed
  * anti-join diff over winners frames — must commit the SAME rollback:
  * same surviving rows, same refusals. The dv-keyed identity rule (a DV
  * attach between the versions surfaces as remove+re-add) and the
  * vacuumed-file refusal are where the planes could silently diverge, so
  * both are exercised under snapshot-plane pins. */
class RestorePlaneSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** v0 seed (2 files) → v1 copy-on-write DELETE → v2 DV delete: the
    * restore-to-v0 diff must undo a rewrite AND strip a DV. */
  private def history(): String = {
    val dir = TestSpark.tempDir("graft-restplane")
    DeltaWriter.write((1 to 30).map(i => (i.toLong, s"r$i")).toDF("id", "name")
      .coalesce(2), dir, SaveMode.Append, Nil)      // v0
    DeltaDml.delete(spark, dir, "id <= 4")          // v1
    DeltaDml.deleteWithDv(spark, dir, "id >= 28")   // v2
    dir
  }

  private def restoredIds(mode: String): (Long, Seq[Long]) = {
    val dir = history()
    val v = withPlane(mode)(DeltaMaintenance.restore(spark, dir, 0L))
    (v, DeltaTable.read(spark, dir).select("id").as[Long].collect().sorted.toSeq)
  }

  test("distributed restore rolls back rewrites and DV attaches exactly like the driver plane") {
    val (ve, eager) = restoredIds("driver")
    val (vd, deferred) = restoredIds("frame")
    assert(ve === 3L && vd === 3L, "restore commits as a NEW version on both planes")
    assert(eager === (1L to 30L), "v0 content exact (deleted + DV-masked rows back)")
    assert(deferred === eager, "plane parity on the restored row set")
  }

  test("restore on the deferred plane refuses when target files were vacuumed") {
    val dir = history()
    // age out v0's originals: after the v1 rewrite they are tombstoned
    DeltaMaintenance.vacuum(spark, dir, -60000L)
    withPlane("frame") {
      val e = intercept[IllegalStateException] {
        DeltaMaintenance.restore(spark, dir, 0L)
      }
      assert(e.getMessage.contains("already vacuumed"), e.getMessage)
      assert(e.getMessage.contains("cannot RESTORE"), e.getMessage)
    }
  }

  test("no-op restore to the current version returns without committing, both planes") {
    val dir = history()
    Seq("driver", "frame").foreach { mode =>
      withPlane(mode)(assert(DeltaMaintenance.restore(spark, dir, 2L) === 2L))
    }
    assert(DeltaLog.snapshot(spark, dir).version === 2L, "no extra commit")
  }
}
