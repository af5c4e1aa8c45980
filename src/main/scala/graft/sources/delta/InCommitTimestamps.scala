package graft.sources.delta

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** In-commit timestamps (the Delta `inCommitTimestamp` writer feature,
  * `delta.enableInCommitTimestamps=true`): each commit's commitInfo
  * carries a MONOTONIC `inCommitTimestamp` — `max(wall clock, previous
  * commit's ict + 1)` — that timestamp time travel, DESCRIBE HISTORY and
  * CDF `_commit_timestamp` use instead of log-file modification times.
  * File mtimes are rewritten by storage migrations/copies/backups; the
  * in-commit value survives them, which is why the protocol grew the
  * feature. delta-rs (the reference's reader, `Cargo.toml:16`) consumes
  * these; both sides are implemented here from the published spec.
  *
  * Scale posture: stamping reads ONE previous commit JSON per commit
  * attempt (O(1), metadata plane). Timestamp-based travel on an ict table
  * reads each candidate commit's commitInfo — O(commits-since-checkpoint)
  * small reads, only on that rare path, and skipped entirely for non-ict
  * tables (detected from the newest commit).
  */
object InCommitTimestamps {

  val EnableKey = "delta.enableInCommitTimestamps"
  val EnablementVersionKey = "delta.inCommitTimestampEnablementVersion"
  val EnablementTimestampKey = "delta.inCommitTimestampEnablementTimestamp"
  val Feature = "inCommitTimestamp"

  def enabled(configuration: Map[String, String]): Boolean =
    configuration.get(EnableKey).exists(_.trim.equalsIgnoreCase("true"))

  /** The ict recorded in `version`'s commitInfo, if any. */
  def readIct(spark: SparkSession, tablePath: String, version: Long): Option[Long] = {
    val fs = DeltaLog.logFs(spark, tablePath)
    val p = new Path(DeltaLog.logDir(tablePath), f"$version%020d.json")
    try readIct(fs, fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The ict in `status`'s commitInfo, read through
    * [[DeltaLog.readCommit]] up to the first commitInfo only (the first
    * line of every commit this writer produces): probes run once per
    * commit attempt and per timestamp-resolution candidate, so a bulk
    * load's hundreds of MB must never be read for one. */
  def readIct(fs: FileSystem, status: FileStatus): Option[Long] =
    DeltaLog.readCommit(fs, status)(
      _.collectFirst { case n if n.has("commitInfo") => n.get("commitInfo") })
      .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong()))

  // Timestamp-resolution note (why the recorded EnablementVersion/
  // Timestamp keys are written but not consulted when resolving): the
  // resolver takes max{v : commitTime(v) <= cutoff}. The ENABLING
  // commit's ict equals the enablement timestamp by construction, so any
  // cutoff at/after enablement finds an eligible ict-era version and the
  // max lands correctly regardless of what migrated pre-enablement mtimes
  // claim; a cutoff BEFORE enablement has only mtimes as evidence — for
  // this engine and production alike (the spec's keys bound the ict
  // search domain, they cannot recover pre-enablement true times).

  /** The monotonic ict for the commit FOLLOWING `prevVersion` under
    * `configuration` (the configuration the commit runs under — pass the
    * NEW configuration from metadata commits so the enabling commit itself
    * is stamped). None when the feature is off. */
  def next(
      spark: SparkSession, tablePath: String,
      configuration: Map[String, String], prevVersion: Long): Option[Long] =
    if (!enabled(configuration)) None
    else {
      val prev =
        if (prevVersion < 0) None
        else readIct(spark, tablePath, prevVersion)
      Some(math.max(System.currentTimeMillis(), prev.map(_ + 1L).getOrElse(0L)))
    }

  /** Stamp `ci` (a commitInfo node under construction) with the next ict;
    * returns the stamped value. */
  def stamp(
      spark: SparkSession, tablePath: String,
      configuration: Map[String, String], prevVersion: Long,
      ci: ObjectNode): Option[Long] = {
    val ict = next(spark, tablePath, configuration, prevVersion)
    ict.foreach(t => ci.put("inCommitTimestamp", t))
    ict
  }
}
