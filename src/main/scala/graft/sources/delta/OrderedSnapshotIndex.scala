package graft.sources.delta

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Path-ordered, globally-indexed projection of one snapshot version's
  * live add set — the streaming initial-snapshot PACING plane on job-plane
  * tables.
  *
  * A rate-limited fresh stream serves the current snapshot in file-sliced
  * micro-batches whose offsets address files by RANK IN PATH ORDER
  * (`SnapshotSliceOffset` in [[DeltaStreamingSource]]), so whatever plane
  * serves them must expose a deterministic, contiguous file index plus
  * running byte totals for the `maxBytesPerTrigger` walk. The eager plane
  * holds the whole path-sorted list on the driver — O(files) heap per
  * stream, the same bound the deferred scan/DML planes closed for queries
  * and writes. This index re-expresses it distributed:
  *
  *   repartitionByRange(path)  →  per-range-partition (count, bytes)
  *   rollup  →  prefix offsets (one window over O(partitions) rows)  →
  *   broadcast-joined back  →  global `idx` / `cumBytes` via
  *   per-partition windows  →  EXACT idx-bucket layout (each final
  *   partition = one contiguous idx range, placed by arithmetic — no
  *   sampling pass)  →  persisted DISK_ONLY.
  *
  * Staying declarative for the idx derivation matters: the classic
  * two-pass zipWithIndex captures pass-1 per-partition offsets inside a
  * pass-2 closure, and a recomputed block after executor loss can then mix
  * two partitionings' offsets — silent mis-indexing. Here the offsets are
  * PART OF THE PLAN (computed from the same range shuffle they index), and
  * the final bucket placement is a pure function of the already-computed
  * `idx` (partition = idx / bucketSize), so any recompute re-derives both
  * consistently. Paths are unique within a live set, so the path order is
  * total and stable across rebuilds and restarts — which is what lets a
  * restarted stream resume a half-drained snapshot from a checkpointed
  * index.
  *
  * BLOCK SKIPPING (r18 verdict #4): the r18 shape ran each trigger's
  * admission/slice as a full filter over the persisted index — O(files)
  * cached-block reads per micro-batch for the whole drain. The exact
  * bucket layout makes every per-trigger read PARTITION-TARGETED instead
  * (`SparkContext.runJob` on just the buckets the range touches, the same
  * mechanism Limit uses), with a driver-side summary of per-bucket
  * end-of-bucket byte totals (O(buckets) longs, collected once at build)
  * deciding which buckets those are:
  *  - a file-capped admission is pure driver arithmetic — zero jobs;
  *  - a byte-capped admission reads at most two buckets (the `from-1`
  *    lookup and the one bucket straddling the byte cap — `cumBytes` is
  *    monotone in `idx`, so the summary locates it by binary search);
  *  - a slice [i, j) reads exactly ⌈batch/bucketSize⌉ (usually one or
  *    two) buckets.
  * So a 10M-file drain's per-trigger cost is O(bucketSize + batch), not
  * O(files) — each bucket targets [[OrderedSnapshotIndex.TargetRowsPerBucket]]
  * rows. Persisted DISK_ONLY (same reasoning as the winners frame: the win
  * is skipping the parse + sort, and a multi-GB metadata frame must not
  * compete with the query's working set) and memoized on its
  * [[DeferredDeltaFiles]], which [[SnapshotCache]] keeps per (table,
  * version); evicting the frame unpersists the index with it.
  */
private[graft] final class OrderedSnapshotIndex private (
    plane: Option[OrderedSnapshotIndex.Plane],
    /** Total live files — the drain's end condition. */
    val count: Long) {

  /** Files [i, j) in path order, as driver-side descriptors: O(j-i) heap,
    * reading only the buckets the range overlaps. */
  def slice(i: Long, j: Long): Seq[DeltaAddFile] = plane match {
    case None => Nil
    case Some(p) => DeltaStateReconstruction.decodeAddRows(p.collectRange(i, j))
  }

  /** Largest end index `e` in (from, count] such that files [from, e) fit
    * the caps, admitting AT LEAST one file (the progress guarantee) —
    * the distributed mirror of the eager driver walk in
    * [[DeltaStreamingSource]]: `cumBytes` is monotone (sizes are
    * non-negative), so the byte condition selects a prefix and its
    * boundary is exactly where the walk would stop. File-capped-only
    * admission needs no job at all (`idx` is dense, so the end is
    * arithmetic); a byte cap costs at most two single-bucket jobs. */
  def admit(from: Long, maxFiles: Option[Long], maxBytes: Option[Long]): Long =
    plane match {
      case None => count
      case _ if from >= count => count
      case Some(p) =>
        val fileCapEnd = math.min(count, maxFiles.map(from + _).getOrElse(count))
        val end = maxBytes match {
          case None => fileCapEnd
          case Some(mb) =>
            // bytes already served before `from` — one single-bucket lookup
            val base = if (from == 0) 0L else p.cumBytesAt(from - 1)
            math.min(p.maxIdxUnderCap(base + mb) + 1, fileCapEnd)
        }
        math.min(count, math.max(end, from + 1))
    }

  def unpersist(): Unit = plane.foreach(_.unpersist())
}

private[graft] object OrderedSnapshotIndex {

  /** Test seam: indexes built (vs served memoized) — pins that the
    * deferred pacing plane was actually constructed, which result
    * equality alone cannot observe. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong

  /** Test seam: partition-targeted jobs issued by the per-trigger reads —
    * lets the suite pin that an admission/slice touched O(batch) buckets,
    * which wall-time assertions at test scale cannot. */
  private[graft] val targetedJobs = new java.util.concurrent.atomic.AtomicLong

  /** Rows per final index bucket: small enough that a trigger's targeted
    * read is a bounded fraction of a 10M-file index (~150 buckets there),
    * large enough that a small table stays in a handful of blocks.
    * Mutation goes ONLY through the scoped test override below, which
    * serializes suites and restores the default in a finally. */
  @volatile private var TargetRowsPerBucket = 65536L
  private val targetRowsLock = new Object

  /** Test-scoped bucket-size override: suites shrink it to force a
    * multi-bucket layout at test scale and pin which buckets a trigger
    * touches. Lock-held for the body so parallel suites serialize; the
    * default is restored on every exit path. */
  private[graft] def withTargetRowsPerBucket[T](rows: Long)(f: => T): T =
    targetRowsLock.synchronized {
      val r0 = TargetRowsPerBucket
      TargetRowsPerBucket = rows
      try f finally TargetRowsPerBucket = r0
    }

  private val MaxBuckets = 2048

  /** The persisted physical plane + the driver-side O(buckets) summary. */
  private final class Plane(
      spark: SparkSession,
      df: DataFrame,
      /** df.rdd created once post-persist: partition i ↔ cached block i
        * (no exchange between the cache scan and this RDD). */
      rows: RDD[Row],
      bucketSize: Long,
      count: Long,
      /** cumBytes at each bucket's LAST idx, bucket-ordered — monotone
        * nondecreasing because cumBytes is monotone in idx and buckets
        * are idx-contiguous. */
      lastCum: Array[Long],
      idxPos: Int,
      cumPos: Int) {

    private def bucketOf(idx: Long): Int = (idx / bucketSize).toInt

    private def maxIdxOfBucket(b: Int): Long =
      math.min((b.toLong + 1) * bucketSize, count) - 1

    /** Rows with idx in [i, j), idx-sorted — reads only the overlapped
      * buckets. */
    def collectRange(i: Long, j: Long): Array[Row] = {
      val lo = math.max(i, 0L)
      val hi = math.min(j, count)
      if (hi <= lo) return Array.empty
      val pids = (bucketOf(lo) to bucketOf(hi - 1)).filter(_ < lastCum.length)
      val (ip, lo0, hi0) = (idxPos, lo, hi)
      targetedJobs.incrementAndGet()
      val chunks = spark.sparkContext.runJob(rows,
        (it: Iterator[Row]) => it.filter { r =>
          val x = r.getLong(ip); x >= lo0 && x < hi0
        }.toArray,
        pids)
      chunks.flatten.sortBy(_.getLong(idxPos))
    }

    /** cumBytes at one idx — a single-bucket lookup. */
    def cumBytesAt(idx: Long): Long = {
      val (ip, cp, target) = (idxPos, cumPos, idx)
      targetedJobs.incrementAndGet()
      val res = spark.sparkContext.runJob(rows,
        (it: Iterator[Row]) => it.collectFirst {
          case r if r.getLong(ip) == target => r.getLong(cp)
        },
        Seq(bucketOf(idx)))
      res(0).getOrElse(throw new IllegalStateException(
        s"ordered snapshot index is missing idx $idx (count=$count)"))
    }

    /** Max idx with cumBytes <= cap; -1 when even idx 0 exceeds it.
      * Binary search on the bucket summary locates the one straddling
      * bucket; only that bucket is scanned. */
    def maxIdxUnderCap(cap: Long): Long = {
      // last bucket fully under the cap
      var lo = 0; var hi = lastCum.length - 1; var full = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (lastCum(mid) <= cap) { full = mid; lo = mid + 1 } else hi = mid - 1
      }
      val fullyEnd = if (full >= 0) maxIdxOfBucket(full) else -1L
      val straddler = full + 1
      if (straddler >= lastCum.length) fullyEnd
      else {
        val (ip, cp, cap0) = (idxPos, cumPos, cap)
        targetedJobs.incrementAndGet()
        val scanned = spark.sparkContext.runJob(rows,
          (it: Iterator[Row]) => it.foldLeft(-1L) { (m, r) =>
            if (r.getLong(cp) <= cap0) math.max(m, r.getLong(ip)) else m
          },
          Seq(straddler))
        math.max(fullyEnd, scanned(0))
      }
    }

    def unpersist(): Unit =
      try df.unpersist(blocking = false) catch { case _: Exception => () }
  }

  /** Build (and persist) the index over a winners frame; None = empty
    * table. `rowCount` is the frame's exact live-file count (the caller's
    * memoized distributed agg) — it sizes the buckets and lets the final
    * layout be pure arithmetic on `idx` instead of a sampling pass. The
    * per-bucket summary job here is also what materializes the persisted
    * blocks. */
  def build(
      spark: SparkSession,
      frame: Option[DataFrame],
      rowCount: Long): OrderedSnapshotIndex =
    frame match {
      case None => new OrderedSnapshotIndex(None, 0L)
      case Some(_) if rowCount <= 0 => new OrderedSnapshotIndex(None, 0L)
      case Some(fr) =>
        builds.incrementAndGet()
        val p = math.max(1, spark.sessionState.conf.numShufflePartitions)
        // PERSISTED, load-bearing: `parted` is read by TWO branches below
        // (the offsets rollup and the main join). Un-persisted, each
        // branch can plan its OWN range exchange, and RangePartitioner
        // bounds are sampled per exchange instance — the offsets branch's
        // counts then describe a DIFFERENT partitioning than the branch
        // whose pids they offset, which scrambles idx↔path-rank wholesale
        // (caught by the slice-content probe at 1M synthetic adds; a pure
        // SQL consumer is saved by ReuseExchange, but the RDD-hop layout
        // below is not). Through the cache both branches read the ONE
        // materialized exchange, and any recompute after block loss walks
        // the same partitioner object (bounds are stored at construction)
        // — deterministic either way.
        val parted = fr.repartitionByRange(p, col("path"))
          .withColumn("pid", spark_partition_id())
        parted.persist(StorageLevel.DISK_ONLY)
        // prefix offsets per range partition: O(partitions) rows, so the
        // single-partition ordering window here is trivial by construction
        val offsets = parted.groupBy(col("pid"))
          .agg(count(lit(1)).as("n"), sum(col("size")).as("b"))
          .withColumn("idxOff", coalesce(sum(col("n")).over(
            Window.orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("byteOff", coalesce(sum(col("b")).over(
            Window.orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("pid"), col("idxOff"), col("byteOff"))
        val within = Window.partitionBy(col("pid")).orderBy(col("path"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val indexed = parted.join(broadcast(offsets), "pid")
          .withColumn("idx",
            col("idxOff") + row_number().over(
              Window.partitionBy(col("pid")).orderBy(col("path"))) - 1)
          .withColumn("cumBytes", col("byteOff") + sum(col("size")).over(within))
          .drop("pid", "idxOff", "byteOff")

        // ---- exact idx-bucket layout: partition b holds idx
        // [b·bucketSize, (b+1)·bucketSize) — a deterministic function of
        // the declaratively-derived idx, so no range-sampling pass and no
        // recompute hazard. The RDD hop exists because the DataFrame API
        // exposes no exact partitioner; the frame is re-wrapped
        // immediately so the persisted form stays a columnar-cached
        // DataFrame.
        val buckets = math.max(1L, math.min(MaxBuckets.toLong,
          (rowCount + TargetRowsPerBucket - 1) / TargetRowsPerBucket)).toInt
        val bucketSize = (rowCount + buckets - 1) / buckets
        val schema = indexed.schema
        val ip = schema.fieldIndex("idx")
        val cp = schema.fieldIndex("cumBytes")
        val bs = bucketSize
        val laid = indexed.rdd
          .map(r => (r.getLong(ip), r))
          .partitionBy(new Partitioner {
            override def numPartitions: Int = buckets
            override def getPartition(key: Any): Int =
              (key.asInstanceOf[Long] / bs).toInt
          })
          .values
        val df = spark.createDataFrame(laid, schema)
        df.persist(StorageLevel.DISK_ONLY)
        try {
          // one materializing pass = the per-bucket summary: end-of-bucket
          // cumBytes (monotone across buckets) + LAYOUT CROSS-CHECKS —
          // each bucket must hold exactly its arithmetic idx range
          // [b·bucketSize, min((b+1)·bucketSize, count)), which a
          // scrambled idx derivation (duplicates/gaps) cannot satisfy
          val statRows = df.groupBy(spark_partition_id().as("pid"))
            .agg(count(lit(1)).as("n"), max(col("cumBytes")).as("lastCum"),
              min(col("idx")).as("minIdx"), max(col("idx")).as("maxIdx"))
            .collect()
          val used = ((rowCount + bucketSize - 1) / bucketSize).toInt
          val lastCum = Array.ofDim[Long](used)
          var seen = 0L
          statRows.foreach { r =>
            val pid = r.getInt(0)
            require(pid < used, s"index bucket $pid past expected $used")
            val lo = pid.toLong * bucketSize
            val hi = math.min(lo + bucketSize, rowCount) - 1
            require(r.getLong(1) == hi - lo + 1 &&
              r.getLong(3) == lo && r.getLong(4) == hi,
              s"index bucket $pid holds idx [${r.getLong(3)}, ${r.getLong(4)}] " +
                s"× ${r.getLong(1)} rows, expected exactly [$lo, $hi] — " +
                "the idx derivation is not the global path rank")
            lastCum(pid) = r.getLong(2)
            seen += r.getLong(1)
          }
          require(seen == rowCount && statRows.length == used,
            s"ordered index layout mismatch: $seen rows in ${statRows.length} " +
              s"buckets, expected $rowCount in $used — winners frame and " +
              "rowCount hint disagree")
          val rows = df.rdd // post-persist: partition i ↔ cached block i
          new OrderedSnapshotIndex(
            Some(new Plane(spark, df, rows, bucketSize, rowCount, lastCum, ip, cp)),
            rowCount)
        } catch { case scala.util.control.NonFatal(e) =>
          // a failed summary job or cross-check abandons the bucketed
          // frame — release its DISK_ONLY cache too (only `parted` is in
          // the finally; df's lifetime otherwise belongs to the Plane)
          try df.unpersist(blocking = false) catch { case _: Exception => () }
          throw e
        } finally {
          // the intermediate exchange is only needed until the final
          // layout is materialized; recomputes stay deterministic via the
          // stored partitioner bounds (see the persist note above)
          try parted.unpersist(blocking = false) catch { case _: Exception => () }
        }
    }
}
