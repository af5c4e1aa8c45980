package graft.sources.delta

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("delta").load(path)` — the streaming SOURCE
  * side of the delta provider (the sink side is [[DeltaStreamingSink]]).
  * Completes the loop: a delta table written by one job can feed a
  * Structured Streaming consumer with exactly-once semantics.
  *
  * Offsets ARE log versions (a LongOffset per commit) — the natural
  * streaming cursor for a versioned log: getOffset reports the latest
  * version, and getBatch((from, to]) serves exactly the rows ADDED by the
  * dataChange commits in that version range via [[DeltaTable.readChanges]]
  * — so OPTIMIZE/ZORDER rewrites (dataChange=false) are invisible to the
  * stream, and a data-removing commit (Overwrite/DELETE) FAILS the stream
  * fast rather than double-counting rewritten rows (production Delta's
  * default; `.option("ignoreDataChangeRemoves", "true")` opts into
  * at-least-once consumption across rewrites, the `ignoreChanges` analog).
  *
  * Rate limiting (`maxFilesPerTrigger` / `maxBytesPerTrigger`, the
  * production surface): without it, the FIRST micro-batch after an outage
  * — or a brand-new query over a year-old table — is the entire backlog
  * in one plan. Implemented through [[SupportsAdmissionControl]], so the
  * engine hands `latestOffset` the committed start offset every trigger:
  * restart-safe by construction (no source-side cursor to lose). The
  * admission unit is a COMMIT — versions are admitted whole, oldest
  * first, until a cap is crossed, always at least one — because a version
  * is the atomic exactly-once boundary of this cursor.
  *
  * Scale posture: a micro-batch plans one pruned parquet scan per commit
  * in the range (file lists come from the log, not directory listing); the
  * per-batch work is proportional to the NEW data, never the table size.
  * The cap walk reads only backlog commit JSONs — metadata plane; the
  * per-trigger version poll is one log listing ([[DeltaLog.latestVersion]]),
  * never a snapshot replay. The rate-limited INITIAL SNAPSHOT routes
  * through [[DeltaLog.scanSnapshot]]: on job-plane tables its pacing is
  * served by the distributed [[OrderedSnapshotIndex]] (admission and
  * slices are small Spark jobs over the shared winners frame), so a fresh
  * paced stream over a 10M-file table never holds the path-sorted file
  * list on the driver. */
class DeltaStreamingSource(
    sqlContext: SQLContext,
    path: String,
    override val schema: StructType,
    ignoreDataChangeRemoves: Boolean,
    changeFeed: Boolean = false,
    startingVersion: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
  extends Source with SupportsTriggerAvailableNow {

  private def spark = sqlContext.sparkSession

  // Trigger.AvailableNow: the engine announces drain-and-stop intent
  // before the first batch; the end of the drain is PINNED to the version
  // visible at that moment so concurrent appends don't keep the "finite"
  // run alive, and rate limits still pace the batches inside it.
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(DeltaLog.latestVersion(spark, path))

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  private def initialPosition: Long = startingVersion.map(_ - 1).getOrElse(-1L)

  /** readChangeFeed on a CDF-disabled table fails UPFRONT (matching the
    * batch CDF surface, [[DeltaCdf.read]]) — without this gate the
    * initial-snapshot branch silently serves a first batch of synthetic
    * 'insert' rows and the stream only errors on a later batch when
    * [[DeltaCdf.read]] hits a commit without change actions.
    *
    * Checked ONCE per source: the gate is an upfront-error contract, and
    * [[DeltaCdf.read]] independently enforces enablement over every
    * version range a later batch actually reads (a mid-stream disable
    * still fails, at the batch that crosses it). Re-running the
    * metadata replay per trigger made every CDF `latestOffset` O(log) —
    * 31s/trigger at 10M adds where the plain source's admission is
    * driver arithmetic (r19 verdict #7's probe caught it). */
  @volatile private var cdfGatePassed = false
  private def requireCdfEnabled(): Unit = {
    if (cdfGatePassed) return
    // metadata-only: the gate never needs the live set
    val meta = DeltaLog.metadataSnapshot(spark, path).metadata
    require(DeltaCdf.enabled(meta),
      s"$path: change data feed is not enabled (set ${DeltaCdf.EnableKey}=true); " +
      "a readChangeFeed stream needs CDF on the table")
    cdfGatePassed = true
  }

  /** `startingVersion = Some(0)` and "no startingVersion" both make
    * initialPosition -1 but mean OPPOSITE things: an explicit 0 demands a
    * per-version replay from genesis (and must fail if that history is
    * gone), while an unset start takes the initial-snapshot contract. */
  private def explicitStart: Boolean = startingVersion.isDefined

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Largest version in (base, latest] admissible under `limit` — whole
    * versions, oldest first, at least one. */
  private def admissible(base: Long, latest: Long, limit: ReadLimit): Long = limit match {
    case _: ReadAllAvailable => latest
    case c: CompositeReadLimit =>
      c.getReadLimits.map(admissible(base, latest, _)).min
    case _ if latest <= base => latest
    case f: ReadMaxFiles => walk(base, latest, Some(f.maxFiles.toLong), None)
    case b: ReadMaxBytes => walk(base, latest, None, Some(b.maxBytes))
    // row-based limits don't map to a versioned-commit cursor; serve all
    case _ => latest
  }

  private def walk(
      base: Long, latest: Long, maxFiles: Option[Long], maxBytes: Option[Long]): Long = {
    // CHUNKED lenient count pass (removes don't fail HERE — getBatch
    // enforces the remove contract when the batch actually reads): commit
    // JSONs are parsed 64 versions at a time and the walk stops at the
    // first closed cap, so a 50k-commit backlog costs O(admitted), not a
    // full-backlog parse per trigger (which made catch-up quadratic)
    var files = 0L
    var bytes = 0L
    var to = base
    var open = true
    var chunkStart = base
    while (open && chunkStart < latest) {
      val chunkEnd = math.min(latest, chunkStart + 64)
      DeltaLog.changes(spark, path, chunkStart, chunkEnd,
        ignoreDataChangeRemoves = true).foreach { case (v, adds) =>
        if (open) {
          val f = files + adds.size
          val b = bytes + adds.iterator.map(_.size).sum
          val within = maxFiles.forall(f <= _) && maxBytes.forall(b <= _)
          if (within || to == base) {
            // admit while inside the caps; the FIRST version is admitted
            // even if it alone crosses them (progress guarantee)
            to = v; files = f; bytes = b
            if (!within) open = false
          } else open = false
        }
      }
      chunkStart = chunkEnd
    }
    to
  }

  // ---- rate-limited initial snapshot ----
  //
  // A fresh stream with NO explicit startingVersion serves its first
  // batch(es) as the CURRENT snapshot. With maxFilesPerTrigger /
  // maxBytesPerTrigger set, that snapshot is SPLIT across micro-batches
  // (production's initial-snapshot pacing): the offset pins the snapshot
  // version and a file index into its path-sorted file list —
  // `{"snapshotVersion":V,"index":I}` = files [0, I) served. When the list
  // is exhausted the offset collapses to LongOffset(V) and the ordinary
  // per-version cursor takes over, so commits landing DURING the snapshot
  // drain are picked up afterwards, exactly once.

  /** (version, filesServed): `Some(i)` while an in-progress rate-limited
    * initial snapshot at `version` has served files [0, i). */
  private def decode(o: Offset): (Long, Option[Long]) = o match {
    case l: LongOffset => (l.offset, None)
    case s: SnapshotSliceOffset => (s.version, Some(s.index))
    case other => decodeJson(other.json)
  }

  private def decodeJson(j0: String): (Long, Option[Long]) = {
    val j = j0.trim
    if (j.startsWith("{")) {
      val node = DeltaStreamingSource.mapper.readTree(j)
      (node.get("snapshotVersion").asLong(), Some(node.get("index").asLong()))
    } else (j.toLong, None)
  }

  /** Pacing plane of one pinned snapshot version: the slice cursor ranks
    * files in DETERMINISTIC (path) order, and must mean the same files
    * across triggers and restarts. EAGER on driver-plane tables (the
    * path-sorted list any small table holds anyway); DEFERRED on job-plane
    * tables ([[OrderedSnapshotIndex]] via the shared per-(table, version)
    * winners frame — admission and slices are small distributed jobs, so
    * the driver holds one micro-batch of descriptors, never the 10M-file
    * list). The snapshot rides along for the slice relation's schema and
    * DV inputs. */
  private sealed trait SlicePlane {
    def snap: DeltaSnapshot
    def fileCount: Long
    /** Largest end index whose slice [from, end) fits the caps, admitting
      * at least one file (progress guarantee). */
    def admit(from: Long, maxFiles: Option[Long], maxBytes: Option[Long]): Long
    def slice(i: Long, j: Long): Seq[DeltaAddFile]
  }

  private final class EagerSlicePlane(val snap: DeltaSnapshot) extends SlicePlane {
    // UTF-8 BINARY path order, not Scala's UTF-16 string order: the
    // deferred plane ranks with Spark's UTF8String comparison, and the two
    // orders diverge on supplementary characters (4-byte UTF-8 sorts above
    // U+E000..U+FFFF, surrogates below) — e.g. an emoji in a partition
    // value. A checkpointed mid-drain index must mean the SAME files if a
    // restart lands on the other plane.
    private val files = snap.files.sortBy(f =>
      org.apache.spark.unsafe.types.UTF8String.fromString(f.path)).toIndexedSeq
    def fileCount: Long = files.length.toLong
    def admit(from: Long, mf: Option[Long], mb: Option[Long]): Long = {
      val n = files.length.toLong
      var i = from; var f = 0L; var b = 0L; var open = true
      while (open && i < n) {
        val f2 = f + 1
        val b2 = b + files(i.toInt).size
        val within = mf.forall(f2 <= _) && mb.forall(b2 <= _)
        if (within || i == from) {
          i += 1; f = f2; b = b2
          if (!within) open = false
        } else open = false
      }
      i
    }
    def slice(i: Long, j: Long): Seq[DeltaAddFile] = files.slice(i.toInt, j.toInt)
  }

  private final class DeferredSlicePlane(
      val snap: DeltaSnapshot, d: DeferredDeltaFiles) extends SlicePlane {
    def fileCount: Long = d.orderedCount
    def admit(from: Long, mf: Option[Long], mb: Option[Long]): Long =
      d.orderedAdmit(from, mf, mb)
    def slice(i: Long, j: Long): Seq[DeltaAddFile] = d.orderedSlice(i, j)
  }

  /** Memoized per version: the walk is re-entered every trigger, and
    * [[DeltaLog.scanSnapshot]] pays a metadata replay per call. */
  @volatile private var planeCache: Option[(Long, SlicePlane)] = None
  private def slicePlane(ver: Long): SlicePlane = planeCache match {
    case Some((v, p)) if v == ver => p
    case _ =>
      val (snap, deferred) = DeltaLog.scanSnapshot(spark, path, versionAsOf = Some(ver))
      val p = deferred match {
        case Some(d) => new DeferredSlicePlane(snap, d)
        case None => new EagerSlicePlane(snap)
      }
      planeCache = Some((ver, p))
      p
  }

  /** Effective (maxFiles, maxBytes) caps of a ReadLimit; (None, None) when
    * unlimited (row-based limits don't map to a file cursor). */
  private def capsOf(limit: ReadLimit): (Option[Long], Option[Long]) = limit match {
    case f: ReadMaxFiles => (Some(f.maxFiles.toLong), None)
    case b: ReadMaxBytes => (None, Some(b.maxBytes))
    case c: CompositeReadLimit =>
      val parts = c.getReadLimits.map(capsOf).toSeq
      (parts.flatMap(_._1).reduceOption(_ min _),
        parts.flatMap(_._2).reduceOption(_ min _))
    case _ => (None, None)
  }

  /** Next offset of an in-progress snapshot drain: admit files [from, i)
    * under the caps (at least one — progress guarantee), collapsing to
    * LongOffset(ver) when the list is exhausted. */
  private def nextSnapshotOffset(ver: Long, from: Long, limit: ReadLimit): OffsetV2 = {
    val plane = slicePlane(ver)
    val n = plane.fileCount
    if (from >= n) return LongOffset(ver)
    val (mf, mb) = capsOf(limit)
    if (mf.isEmpty && mb.isEmpty) return LongOffset(ver)
    val i = plane.admit(from, mf, mb)
    if (i >= n) LongOffset(ver) else SnapshotSliceOffset(ver, i)
  }

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    if (changeFeed) requireCdfEnabled()
    val (base, inSnapshot) = Option(startOffset) match {
      case Some(o: Offset) => decode(o)
      case Some(other) => decodeJson(other.json)
      case None => (initialPosition, None)
    }
    inSnapshot match {
      // mid-drain: keep serving the PINNED snapshot version's files; new
      // commits wait for the version cursor that follows
      case Some(i) => nextSnapshotOffset(base, i, limit)
      case None =>
        // version poll per trigger: ONE log listing, never a live-set
        // materialization (a big table's microbatch cadence must not pay
        // a snapshot replay per tick)
        val latest = availableNowEnd.getOrElse(DeltaLog.latestVersion(spark, path))
        if (latest <= base) LongOffset(math.max(base, latest))
        // a fresh query with no explicit start: an append-only history
        // replays per-version under the rate limits (identical rows); a
        // history with data-removing commits (or retired JSONs) — or any
        // CDF stream — serves the CURRENT SNAPSHOT: one batch when
        // unlimited, file-paced batches under the caps (getBatch makes the
        // same probe, so batch content matches)
        else if (base == initialPosition && !explicitStart &&
            (changeFeed || !DeltaLog.rangeReplayable(spark, path, base, latest))) {
          if (capsOf(limit) == ((None, None))) LongOffset(latest)
          else nextSnapshotOffset(latest, 0L, limit)
        }
        else LongOffset(admissible(base, latest, limit))
    }
  }

  /** Unlimited fallback for engines that ignore admission control. */
  override def getOffset: Option[Offset] =
    Some(LongOffset(DeltaLog.latestVersion(spark, path)))

  /** Commit timestamp of `to` for synthetic initial-snapshot CDF rows —
    * [[DeltaLog.commitTimeOf]]'s, like every other commit time. Memoized
    * per version (one entry suffices — every slice of a paced drain shares
    * the pinned snapshot version): it lists the log, and a 10k-batch
    * drain re-listing a 10k-commit log per batch is a quadratic getBatch
    * plane. */
  @volatile private var commitTsMemo: Option[(Long, java.sql.Timestamp)] = None
  private def commitTs(to: Long): java.sql.Timestamp = commitTsMemo match {
    case Some((v, ts)) if v == to => ts
    case _ =>
      val commits = DeltaLog.listLog(spark, path)._1
      val commitTime = DeltaLog.commitTimeOf(spark, path, commits)
      val ts = commits.collectFirst { case (v, st) if v == to => commitTime(st) }
        .getOrElse(System.currentTimeMillis())
      val stamped = new java.sql.Timestamp(ts)
      commitTsMemo = Some((to, stamped))
      stamped
  }

  /** Read files [i, j) of the pinned snapshot `ver` through the provider's
    * own relation ([[DeltaTable.readFiles]]). CDF streams get the
    * synthetic 'insert' decoration of the initial-snapshot contract. */
  private def snapshotSlice(ver: Long, i: Long, j: Long): DataFrame = {
    val plane = slicePlane(ver)
    // the slice's descriptors carry their own deletion vectors on both
    // planes (on the deferred one `plane.snap.files` is only the
    // DV-carrying adds, never the live set)
    val base = DeltaTable.readFiles(spark, path, plane.snap, plane.slice(i, j))
    if (!changeFeed) base
    else base
      .withColumn(DeltaCdf.TypeCol, lit("insert"))
      .withColumn(DeltaCdf.VersionCol, lit(ver))
      .withColumn(DeltaCdf.TimestampCol, lit(commitTs(ver)))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    if (changeFeed) requireCdfEnabled()
    // None = a NEW query's first batch: from `startingVersion` (inclusive,
    // production's `.option("startingVersion", n)`) or table genesis
    val startDec = start.map(decode)
    val (to, endIdx) = decode(end)
    val from = startDec.map(_._1).getOrElse(initialPosition)
    val startIdx = startDec.flatMap(_._2)
    // in-progress rate-limited initial snapshot: serve the file slice
    (endIdx, startIdx) match {
      case (Some(j), si) =>
        return toStreaming(snapshotSlice(to, si.getOrElse(0L), j))
      case (None, Some(i)) if from == to =>
        // closing batch: the snapshot's tail files [i, n)
        return toStreaming(snapshotSlice(to, i, slicePlane(to).fileCount))
      case _ => ()
    }
    // A NEW query with NO explicit startingVersion: an append-only
    // history replays per-version (identical rows, rate-limit paced); a
    // history with data-removing commits or retired JSONs — or any CDF
    // stream (whose history may predate enablement) — serves its first
    // batch as the CURRENT SNAPSHOT (production's initial-snapshot
    // contract): a replay there would fail, or worse serve rows deleted
    // before the stream started. An EXPLICIT startingVersion (0 included)
    // demands the true per-version replay and keeps its loud failures.
    val initialSnapshot = from < 0 && !explicitStart &&
      (changeFeed || !DeltaLog.rangeReplayable(spark, path, from, to))
    // changeFeed: each micro-batch serves the ROW-LEVEL changes of its
    // version range (insert/delete/update images + commit metadata) —
    // `.option("readChangeFeed", "true")`, the production Delta surface
    val batch = (if (changeFeed) {
      if (initialSnapshot) {
        DeltaTable.readVersion(spark, path, to)
          .withColumn(DeltaCdf.TypeCol, lit("insert"))
          .withColumn(DeltaCdf.VersionCol, lit(to))
          .withColumn(DeltaCdf.TimestampCol, lit(commitTs(to)))
      } else DeltaCdf.read(spark, path, from, to)
    } else if (initialSnapshot) DeltaTable.readVersion(spark, path, to)
    else DeltaTable.readChanges(spark, path, from, to, ignoreDataChangeRemoves))
    toStreaming(batch)
  }

  /** v1 Source contract: the returned frame must be a streaming frame over
    * this micro-batch's rows (same bridge MemoryStream uses). */
  private def toStreaming(batch: DataFrame): DataFrame = {
    val projected = batch.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    org.apache.spark.sql.graft.GraftStreamingBridge
      .streamingDataFrame(spark, projected.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}

private[delta] object DeltaStreamingSource {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Offset of an in-progress rate-limited initial snapshot: the snapshot
  * at `version` has served files [0, index) in path order. Collapses to a
  * plain LongOffset(version) when the snapshot is drained. */
private[delta] case class SnapshotSliceOffset(version: Long, index: Long)
    extends Offset {
  override def json: String =
    s"""{"snapshotVersion":$version,"index":$index}"""
}
