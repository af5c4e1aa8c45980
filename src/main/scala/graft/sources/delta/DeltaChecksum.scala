package graft.sources.delta

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-commit version checksum (`_delta_log/<version>.crc`) — the
  * consistency artifact delta clients publish beside every commit (the
  * delta-spark `VersionChecksum` shape, subset): the POST-COMMIT
  * snapshot's table totals, so a reader or repair pass can detect a log
  * damaged by partial replication, manual edits, or a buggy writer by
  * comparing two tiny numbers instead of re-deriving state from parquet
  * footers.
  *
  * Format (one JSON object):
  * `{"tableSizeBytes": N, "numFiles": N, "numMetadata": 1, "numProtocol": 1}`
  *
  * Writing is BEST-EFFORT from [[DeltaLog.tryCommit]]'s winner path: a
  * checksum failure must never fail a commit (the artifact is advisory;
  * readers treat a missing `.crc` as "not validated", same as every
  * delta client). The totals come from replaying the just-committed
  * version — at local scale a cheap second read of the log the writer
  * just walked for conflict detection; a long-lived production writer
  * would thread its incrementally-maintained post-commit snapshot here
  * instead (same artifact, no re-read). */
object DeltaChecksum {

  final case class Crc(tableSizeBytes: Long, numFiles: Long)

  def crcPath(tablePath: String, version: Long): Path =
    new Path(DeltaLog.logDir(tablePath), f"$version%020d.crc")

  /** Best-effort post-commit publish; never throws. On job-plane tables
    * the totals come from the deferred frame's ONE distributed aggregate
    * (O(1) driver heap) instead of a full live-set materialization — a
    * 10M-file table must not re-collect 10M descriptors per commit just
    * to publish two numbers (the r17 deferred-DML bound applies to every
    * post-commit path too); the frame it builds is version-cached, so the
    * next reader of the just-committed version reuses it for free. */
  def write(spark: SparkSession, tablePath: String, version: Long): Unit =
    try {
      val (snap, deferred) =
        DeltaLog.scanSnapshot(spark, tablePath, versionAsOf = Some(version),
          withDvAdds = false) // totals only — never open data files
      val (bytes, count) = deferred match {
        case Some(d) => (d.totalBytes, d.fileCount)
        case None => (snap.files.map(_.size).sum, snap.files.size.toLong)
      }
      val mapper = new ObjectMapper()
      val node = mapper.createObjectNode()
      node.put("tableSizeBytes", bytes)
      node.put("numFiles", count)
      node.put("numMetadata", 1L)
      node.put("numProtocol", 1L)
      val p = crcPath(tablePath, version)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true) // checksums are idempotent per version
      try out.write(mapper.writeValueAsString(node).getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The recorded checksum for `version`, when one was published.
    * `None` means ABSENT (never published — "not validated", the benign
    * case); a `.crc` that EXISTS but cannot be parsed is evidence of log
    * damage, not absence, and throws a clear IOException rather than
    * silently downgrading to "not validated". */
  def read(spark: SparkSession, tablePath: String, version: Long): Option[Crc] = {
    val p = crcPath(tablePath, version)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val opened = try Some(fs.open(p)) catch { case _: java.io.FileNotFoundException => None }
    opened.map { in =>
      try {
        val node = new ObjectMapper().readTree(in)
        Crc(node.get("tableSizeBytes").asLong(), node.get("numFiles").asLong())
      } catch {
        case scala.util.control.NonFatal(e) =>
          throw new java.io.IOException(
            s"corrupt checksum artifact $p (unparseable content is log damage, " +
              s"not a missing checksum): ${e.getMessage}", e)
      } finally in.close()
    }
  }

  /** Compare the recorded checksum (when present) against the replayed
    * snapshot at `version` (latest when unset). Returns
    * `Some((recorded, actual))` on mismatch, `None` when consistent or
    * unvalidatable (no `.crc` published). */
  def validate(spark: SparkSession, tablePath: String,
      version: Option[Long] = None): Option[(Crc, Crc)] = {
    // totals from the deferred plane's ONE distributed agg on job-plane
    // tables — the audit must not materialize the live set to count it
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath,
      versionAsOf = version, withDvAdds = false)
    read(spark, tablePath, snap.version).flatMap { recorded =>
      val actual = deferred.map(d => Crc(d.totalBytes, d.fileCount))
        .getOrElse(Crc(snap.files.map(_.size).sum, snap.files.size.toLong))
      if (recorded == actual) None else Some((recorded, actual))
    }
  }
}
