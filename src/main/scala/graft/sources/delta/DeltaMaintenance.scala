package graft.sources.delta

import java.net.URI
import java.util.UUID

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of an OPTIMIZE run. */
final case class OptimizeMetrics(
    filesRemoved: Long, filesAdded: Long, bytesCompacted: Long, committedVersion: Long)

/** Table-maintenance operations the 100 TB story needs and the reference
  * cannot do at all (its write path is a documented failure —
  * `examples/local_standalone.rs:38-47`):
  *
  *  - [[optimize]]: bin-packing compaction. Small-files are THE delta-lake
  *    scale killer (every query's file listing, task scheduling and footer
  *    reads are O(#files)); compaction rewrites each partition's small
  *    files into ~target-size files in ONE distributed job and commits
  *    `add`+`remove` with `dataChange=false` (readers of any version stay
  *    correct; incremental consumers skip the rewrite).
  *  - [[vacuum]]: physically deletes files no longer referenced by the
  *    current snapshot once they age out of the retention window —
  *    time-travel to versions older than the retention is sacrificed,
  *    exactly like production Delta.
  *  - [[history]]: the commitInfo audit trail as a DataFrame.
  */
object DeltaMaintenance extends Logging {

  private val mapper = new ObjectMapper()

  /** Concurrent key-range shards of a [[graft.sources.ShardedListStore]]
    * listing: the store's LIST concurrency for one table prefix. */
  private val S3ListShards = 16

  private[delta] def decodeRel(p: String): String =
    try {
      val u = new URI(p)
      if (u.isAbsolute) p else u.getPath
    } catch { case _: Exception => p }

  /** Per-partition-group frames of `files` with the hive partition values
    * re-injected (data files do not store them) AND deletion vectors
    * applied — the shared read side of every rewrite operation (OPTIMIZE,
    * DML, replaceWhere). One frame per distinct partitionValues map, in
    * stable group order (callers size output files per group). Each frame
    * reads through the provider's own [[DeltaFileIndex]] + file format so
    * a rewrite of a DV-carrying file NEVER resurrects its deleted rows;
    * the rewritten output is then committed without a DV.
    *
    * `withRowIds`: on a row-tracked table, each frame additionally carries
    * the table's MATERIALIZED row-id/commit-version columns resolved to
    * every row's CURRENT values (`coalesce(materialized,
    * baseRowId + row_index)`) — a preserving rewrite keeps them through
    * its transform and stages them back, which is exactly how row ids
    * survive compaction/DML (the spec's materialization contract). Callers
    * whose transform MODIFIES a row null that row's version column (the
    * new add's defaultRowCommitVersion then dates it). */
  private[delta] def partitionInjected(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaSnapshot,
      files: Seq[DeltaAddFile],
      withRowIds: Boolean = false): Seq[DataFrame] = {
    val mat: Option[(String, String)] =
      if (withRowIds) RowTracking.materializedColumnsOf(snap) else None
    files.groupBy(_.partitionValues).toSeq.map { case (_, fs) =>
      val sub = snap.copy(files = fs)
      val dataSchema = mat match {
        case None => sub.dataSchema
        case Some((mi, mv)) => org.apache.spark.sql.types.StructType(
          sub.dataSchema.fields ++ Seq(
            org.apache.spark.sql.types.StructField(mi,
              org.apache.spark.sql.types.LongType, nullable = true),
            org.apache.spark.sql.types.StructField(mv,
              org.apache.spark.sql.types.LongType, nullable = true)))
      }
      val rel = new org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        location = new DeltaFileIndex(spark, sub),
        partitionSchema = sub.partitionSchema,
        dataSchema = dataSchema,
        bucketSpec = None,
        fileFormat = GraftParquetFileFormat.forSnapshot(tablePath, sub),
        options = Map.empty)(spark)
      val df = spark.baseRelationToDataFrame(rel)
      mat match {
        case None => df
        case Some((mi, mv)) =>
          RowTracking.withCurrentIds(spark, tablePath, fs, df, mi, mv)
      }
    }
  }

  /** The extra output columns a preserving rewrite carries —
    * [[partitionInjected]]'s materialized pair on a row-tracked table,
    * nothing otherwise. */
  private[delta] def rewriteCarryCols(snap: DeltaSnapshot): Seq[String] =
    RowTracking.materializedColumnsOf(snap).toSeq.flatMap(p => Seq(p._1, p._2))

  /** Restrict `files` to those whose PARTITION VALUES satisfy `predicate`
    * — the production `OPTIMIZE … WHERE` contract: the predicate may
    * reference partition columns only (a data-column predicate would need
    * a scan to answer; production Delta refuses it the same way). The
    * string partition values are cast through the partition schema's types
    * (the exact semantics the scan's partition injection applies), so
    * `WHERE p_date >= '2024-01-01'` on a DATE partition behaves like the
    * reader. Cost: one local job over the DISTINCT partition tuples —
    * metadata-plane, never a table scan. */
  private[graft] def filterByPartitionPredicate(
      spark: SparkSession,
      snap: DeltaSnapshot,
      files: Seq[DeltaAddFile],
      predicate: Option[String]): Seq[DeltaAddFile] = predicate match {
    case None => files
    case Some(p) =>
      val keptPvs = keptPartitionTuples(spark, snap,
        files.map(_.partitionValues).distinct, p)
      files.filter(f => keptPvs.contains(f.partitionValues))
  }

  /** The core of [[filterByPartitionPredicate]]: which of the DISTINCT
    * partition tuples satisfy `predicate` — evaluated through the analyzer
    * (one local job) so casts/implicit coercions match the reader exactly.
    * Shared by the eager plane and the deferred candidate search, which
    * cannot afford to materialize the file list the eager signature
    * takes. */
  private def keptPartitionTuples(
      spark: SparkSession,
      snap: DeltaSnapshot,
      pvs: Seq[Map[String, String]],
      p: String): Set[Map[String, String]] = {
    require(snap.partitionColumns.nonEmpty,
      s"WHERE '$p' requires a partitioned table: the predicate may only " +
        "reference partition columns")
    val schema = snap.partitionSchema
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(pvs.zipWithIndex.map { case (pv, i) =>
        org.apache.spark.sql.Row.fromSeq(
          // partitionValues are keyed by PHYSICAL names on mapped tables
          schema.fieldNames.toSeq.map(c =>
            pv.getOrElse(snap.metadata.physicalOf(c), null)) :+ i)
      }: _*)
    val strSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(dataType = org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("_pvi",
          org.apache.spark.sql.types.IntegerType, nullable = false))
    val kept =
      try spark.createDataFrame(rows, strSchema)
        .select(schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq :+ col("_pvi"): _*)
        .filter(expr(p))
        .select(col("_pvi")).collect().map(_.getInt(0)).toSet
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"WHERE '$p' must reference partition columns " +
            s"(${snap.partitionColumns.mkString(", ")}) only", e)
      }
    pvs.zipWithIndex.collect { case (pv, i) if kept(i) => pv }.toSet
  }

  /** Deferred-plane candidate search (r17 verdict #2): collect only the
    * live adds that survive the `OPTIMIZE … WHERE` partition scope AND a
    * metadata predicate over the winners-frame columns — stable/oversized
    * files never reach the driver, so a steady-state OPTIMIZE over a
    * 10M-file table plans with O(candidates) heap. The partition scope is
    * evaluated over the frame's DISTINCT partition tuples with the same
    * analyzer-backed cast semantics as the eager plane
    * ([[keptPartitionTuples]]), then shipped executor-side as a tuple-set
    * membership test. */
  private def deferredScoped(
      spark: SparkSession,
      snap: DeltaSnapshot,
      d: DeferredDeltaFiles,
      predicate: Option[String],
      metaFilter: org.apache.spark.sql.Column): Seq[DeltaAddFile] =
    d.collectCandidates(
      partitionScopeFilter(spark, snap, d, predicate) && metaFilter,
      pruner = None)

  /** The `OPTIMIZE … WHERE` partition scope as an executor-side Column
    * over the winners frame's `partitionValues` — exposed separately from
    * [[deferredScoped]] because the clustered candidate search must apply
    * the SAME scope inside its cube-totals aggregation (cube stability is
    * judged against in-scope bytes on the eager plane; unscoped totals
    * would call a cube stable that the scoped view must rewrite). */
  private def partitionScopeFilter(
      spark: SparkSession,
      snap: DeltaSnapshot,
      d: DeferredDeltaFiles,
      predicate: Option[String]): org.apache.spark.sql.Column = predicate match {
    case None => lit(true)
    case Some(p) =>
      val kept = keptPartitionTuples(spark, snap, framePartitionValues(d), p)
      val keep = org.apache.spark.sql.functions.udf(
        (pv: Map[String, String]) =>
          kept.contains(Option(pv).getOrElse(Map.empty[String, String])))
      keep(col("partitionValues"))
  }

  /** Bin-packing compaction of files smaller than `targetFileBytes`,
    * optionally scoped to the partitions matching `predicate`
    * (`OPTIMIZE … WHERE`). No-op (returns metrics with the current
    * version) when no eligible partition has two or more small files. */
  def optimize(
      spark: SparkSession,
      tablePath: String,
      targetFileBytes: Long = 128L << 20,
      predicate: Option[String] = None,
      full: Boolean = false): OptimizeMetrics =
    optimize(spark, tablePath, targetFileBytes, predicate, () => (), full)

  private[graft] def optimize(
      spark: SparkSession,
      tablePath: String,
      targetFileBytes: Long,
      predicate: Option[String],
      beforeCommit: () => Unit): OptimizeMetrics =
    optimize(spark, tablePath, targetFileBytes, predicate, beforeCommit, full = false)

  /** Test seam: `beforeCommit` runs after the rewrite is staged but before
    * the commit loop — a deterministic window to inject a concurrent
    * commit in specs. Production callers use the default-arg overload.
    * `full` = `OPTIMIZE … FULL`: on a clustered table, bypass the
    * incremental ZCube selection and re-cluster EVERYTHING — the
    * operator-invoked escape hatch for merging many stable cubes into one
    * globally-ordered layout (each incremental cube is sorted internally
    * but overlaps its siblings; a periodic FULL restores global
    * disjointness). No-op on unclustered tables beyond normal compaction. */
  private[graft] def optimize(
      spark: SparkSession,
      tablePath: String,
      targetFileBytes: Long,
      predicate: Option[String],
      beforeCommit: () => Unit,
      full: Boolean): OptimizeMetrics = {
    // scanSnapshot: on job-plane tables the candidate search below runs
    // over the DISTRIBUTED winners frame — only candidate files (small /
    // unstable-cube / DV-indebted) ever reach the driver, so steady-state
    // maintenance of a 10M-file table plans with O(candidates) heap
    // (r17 verdict #2). OPTIMIZE FULL still materializes its scope: a
    // full re-cluster rewrites everything by definition.
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath)
    snap.assertWritable("OPTIMIZE")
    // a CLUSTERED table's plain OPTIMIZE IS the clustering rewrite — the
    // table's declaration drives the layout, the caller names nothing
    // (production contract; ZORDER BY overrides explicitly via [[zorder]]).
    // INCREMENTAL: only files not already in a stable ZCube of the current
    // declaration are rewritten ([[Clustering.incrementalCandidates]]) —
    // at 100 TB a recurring full-table re-sort is exactly the cost
    // clustering exists to avoid, so already-clustered data must not pay
    // for new appends.
    val clusterCols = Clustering.clusteringColumnsOf(snap)
    if (clusterCols.nonEmpty) {
      val scoped = deferred match {
        case Some(d) if !full =>
          // executor-side stability pre-filter: stable-cube files never
          // reach the driver. incrementalCandidates then re-derives its
          // decisions over the collected subset — equivalent by
          // construction: every file of an UNSTABLE cube survives the
          // filter (per-cube-id membership), so cube totals recompute
          // identically, and stable cubes contribute nothing to either
          // plane's candidate set. The partition scope feeds the cube-
          // totals aggregation too (stability is judged IN-SCOPE, exactly
          // like the eager plane's scoped-first ordering).
          val scope = partitionScopeFilter(spark, snap, d, predicate)
          d.collectCandidates(
            scope && Clustering.deferredCandidateFilter(snap, d, clusterCols, scope),
            pruner = None)
        case Some(d) =>
          deferredScoped(spark, snap, d, predicate, lit(true))
        case None => filterByPartitionPredicate(spark, snap, snap.files, predicate)
      }
      val cands =
        if (full) scoped
        else Clustering.incrementalCandidates(snap, clusterCols, scoped,
          targetFileBytes)
      if (cands.isEmpty) return OptimizeMetrics(0, 0, 0, snap.version)
      return zorderImpl(spark, tablePath, clusterCols, targetFileBytes,
        outputFiles = None, predicate = predicate,
        candidatesOverride = Some((snap, cands)), beforeCommit = beforeCommit)
    }
    val compactable = deferred match {
      // compaction candidates are the BELOW-TARGET files only — shipped as
      // a metadata predicate so right-sized files never reach the driver
      case Some(d) => deferredScoped(spark, snap, d, predicate,
        col("size") < targetFileBytes)
      case None => filterByPartitionPredicate(spark, snap, snap.files, predicate)
        .filter(_.size < targetFileBytes)
    }
    val groups = compactable
      .groupBy(_.partitionValues)
      .filter(_._2.size >= 2)
    if (groups.isEmpty)
      return OptimizeMetrics(0, 0, 0, snap.version)

    // one logical plan over all partitions: per-partition scans with the
    // partition values re-injected, unioned, then re-written partitioned —
    // a single distributed job regardless of partition count. On a
    // row-tracked table the materialized id/version columns ride through
    // (compaction modifies no rows, so both are preserved verbatim).
    val keepCols = (snap.schema.fieldNames.toSeq ++ rewriteCarryCols(snap))
      .map(c => col(s"`$c`"))
    val compacted = partitionInjected(spark, tablePath, snap,
        groups.values.flatten.toSeq, withRowIds = true)
      .reduce(_ unionByName _)
      // bound output file count: ~one file per target size per partition
      .select(keepCols: _*)

    // the one staging write, then the shared validated commit loop
    val adds = DeltaWriter.stage(spark, tablePath,
      DeltaWriter.physicalized(compacted, snap.metadata).coalesce(math.max(1,
        (groups.values.flatten.map(_.size).sum / math.max(1L, targetFileBytes)).toInt + groups.size)),
      snap.partitionColumns.map(snap.metadata.physicalOf), snap.physicalDataSchema,
      snap.metadata.configuration)
    val removed = groups.values.flatten.toSeq
    beforeCommit()
    val committedVersion = commitReplace(spark, tablePath, snap, removed, adds,
      dataChange = false, op = "OPTIMIZE",
      params = Map("targetFileBytes" -> targetFileBytes.toString) ++
        predicate.map("predicate" -> _),
      abortOp = "OPTIMIZE")
    OptimizeMetrics(removed.size, adds.files.size, removed.map(_.size).sum, committedVersion)
  }

  /** `OPTIMIZE … ZORDER BY (cols)`: rewrite the table (per partition)
    * clustered along a Morton curve over `zorderBy`, so every output
    * file's min/max stats are tight on EVERY clustered column — the
    * multi-column stats-skipping story at 100 TB (a total sort by one
    * column gives perfect skipping on it and none on the others; the
    * Z-curve trades a little of each for skipping on all).
    *
    * Mechanics: each column is quantized to an 8-bit bucket by linear
    * min/max scaling (one stats-only aggregate scan computes the bounds;
    * numeric columns only in this implementation), buckets are interleaved
    * by the codegen'd [[graft.functions.InterleaveBits]] expression, and
    * the data is range-repartitioned + sorted by the Z value before the
    * staged write. Commits `remove`+`add` with `dataChange=false` exactly
    * like plain OPTIMIZE — readers of any version stay correct, and the
    * same concurrent-removal conflict validation applies.
    *
    * Arity contract: 1 to 4 columns. A SINGLE column skips interleaving
    * entirely and range-sorts on its monotone numericization — a total
    * sort, strictly tighter per-file stats than the 256-bucket z-curve
    * quantization. That is the single-key CLUSTER BY path ([[Clustering]]
    * routes plain OPTIMIZE here), so one column is a first-class layout,
    * not an error. Five or more is refused: each added dimension halves
    * every column's effective bucket resolution (8 bits interleaved
    * across k columns ⇒ 2^(8)/k-ish selectivity), and past 4 the curve
    * no longer skips better than a plain sort on the leading column.
    *
    * @param outputFiles overrides the size-derived output file count
    *                    (test seam / explicit tuning)
    * @param predicate   `OPTIMIZE … WHERE` partition scope: only matching
    *                    partitions are clustered (bucket bounds come from
    *                    THEIR rows — the curve adapts to the scoped data,
    *                    which is the point of incremental z-ordering) */
  def zorder(
      spark: SparkSession,
      tablePath: String,
      zorderBy: Seq[String],
      targetFileBytes: Long = 128L << 20,
      outputFiles: Option[Int] = None,
      predicate: Option[String] = None): OptimizeMetrics = {
    // an explicit ZORDER rewrites its whole scope, so the deferred plane
    // buys no candidate pruning
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath)
    snap.assertWritable("OPTIMIZE ZORDER")
    // validate BEFORE the candidate collection: on a job-plane table the
    // collection is an O(files) distributed job — invalid input (bad
    // arity, partition column, unsupported type) must refuse for free
    validateZorderBy(snap, zorderBy)
    val candidates = deferred match {
      case Some(d) => deferredScoped(spark, snap, d, predicate, lit(true))
      case None => filterByPartitionPredicate(spark, snap, snap.files, predicate)
    }
    zorderImpl(spark, tablePath, zorderBy, targetFileBytes, outputFiles,
      predicate, candidatesOverride = Some((snap, candidates)))
  }

  /** The ZORDER BY column contract, shared by [[zorder]] (which must
    * refuse BEFORE collecting candidates — free on invalid input) and
    * [[zorderImpl]] (the clustered-OPTIMIZE route enters there directly):
    * 1–4 columns, none a partition column, every type quantizable. */
  private def validateZorderBy(snap: DeltaSnapshot, zorderBy: Seq[String]): Unit = {
    require(zorderBy.nonEmpty && zorderBy.size <= 4,
      s"ZORDER BY expects 1 to 4 columns, got ${zorderBy.size}")
    val badPart = zorderBy.filter(snap.partitionColumns.contains)
    require(badPart.isEmpty,
      s"cannot ZORDER BY partition column(s) ${badPart.mkString(",")} " +
        "(they are constant within every rewritten file)")
    val unsupported = zorderBy.filter { c =>
      val dt = snap.schema(c).dataType
      !dt.isInstanceOf[NumericType] && dt != DateType && dt != TimestampType &&
        dt != StringType
    }
    require(unsupported.isEmpty,
      s"ZORDER BY supports numeric/date/timestamp/string columns; got ${unsupported.mkString(",")}")
  }

  /** The rewrite body behind [[zorder]] and the clustered-OPTIMIZE route:
    * `candidatesOverride` carries the snapshot and the PRE-SCOPED file set
    * (the incremental-clustering candidate selection) so both callers
    * rewrite against one consistent snapshot. Every output file is stamped
    * with ZCube provenance tags ([[Clustering.TagZcubeId]]/
    * [[Clustering.TagZorderBy]]) — the signal a later clustered OPTIMIZE
    * uses to skip already-clustered data. */
  private def zorderImpl(
      spark: SparkSession,
      tablePath: String,
      zorderBy: Seq[String],
      targetFileBytes: Long,
      outputFiles: Option[Int],
      predicate: Option[String],
      candidatesOverride: Option[(DeltaSnapshot, Seq[DeltaAddFile])],
      beforeCommit: () => Unit = () => ()): OptimizeMetrics = {
    val snap = candidatesOverride.map(_._1)
      .getOrElse(DeltaLog.snapshot(spark, tablePath))
    snap.assertWritable("OPTIMIZE ZORDER")
    validateZorderBy(snap, zorderBy)
    // numeric + temporal columns quantize linearly; temporal types map to
    // their integer epoch representation first (DATE does not cast to
    // DOUBLE directly); strings map to their first 6 UTF-8 bytes read as a
    // big-endian integer (right-padded with zero bytes via the hex string,
    // so prefix order is preserved: "b" > "aaa" numerically too) — 48 bits
    // sits inside double's exact range, and 6 leading bytes is plenty of
    // selectivity for a 256-bucket quantizer
    def numericized(c0: String): String = {
      val c = s"`${c0.replace("`", "``")}`" // names may need quoting (mapped tables)
      snap.schema(c0).dataType match {
        case DateType => s"CAST(unix_date($c) AS DOUBLE)"
        case TimestampType => s"CAST(unix_micros($c) AS DOUBLE)"
        case StringType =>
          s"CAST(conv(rpad(hex(substr(CAST($c AS BINARY), 1, 6)), 12, '0'), 16, 10) AS DOUBLE)"
        case _ => s"CAST($c AS DOUBLE)"
      }
    }
    val candidates = candidatesOverride.map(_._2).getOrElse(
      filterByPartitionPredicate(spark, snap, snap.files, predicate))
    if (candidates.isEmpty) return OptimizeMetrics(0, 0, 0, snap.version)
    // interleave_bits for a session built without GraftSparkExtensions (the
    // delta source is reachable from any session through META-INF)
    graft.functions.GraftFunctions.register(spark)

    // scoped provider read ([[partitionInjected]]): partition values
    // re-injected, column mapping resolved AND deletion vectors applied —
    // used for BOTH the bucket bounds and the clustered rewrite. Row-id
    // materialization rides through (clustering modifies no rows).
    val scoped = partitionInjected(spark, tablePath, snap, candidates,
        withRowIds = true)
      .reduce(_ unionByName _)

    // bucket bounds: one stats-only scan (vectorized min/max over the
    // zorder columns — the rewrite below reads everything anyway)
    val boundsRow = scoped
      .agg(
        min(expr(numericized(zorderBy.head))).as("mn0"),
        (zorderBy.tail.flatMap(c => Seq(
          min(expr(numericized(c))), max(expr(numericized(c))))) :+
          max(expr(numericized(zorderBy.head)))): _*)
      .collect()(0)
    val bounds: Seq[(Double, Double)] = {
      // an all-NULL column has NULL min/max → degenerate (0,0) → bucket 0
      def d(i: Int) = if (boundsRow.isNullAt(i)) 0.0 else boundsRow.getDouble(i)
      (d(0), d(boundsRow.length - 1)) +: zorderBy.tail.indices.map(i =>
        (d(1 + 2 * i), d(2 + 2 * i)))
    }
    val bucketSql = zorderBy.zip(bounds).map { case (c, (mn, mx)) =>
      if (mx <= mn) "0"
      else s"CAST(least(greatest(floor((${numericized(c)} - $mn) / ${mx - mn} * 256.0), 0.0), 255.0) AS INT)"
    }
    // a SINGLE column needs no interleaving — its monotone numericization
    // IS the cluster key (a total range sort, strictly tighter than the
    // 256-bucket quantization): the single-key CLUSTER BY path
    val zExpr =
      if (zorderBy.size == 1) numericized(zorderBy.head)
      else s"interleave_bits(${bucketSql.mkString(", ")})"

    val clustered = scoped.withColumn("_z", expr(zExpr))
    val numOut = outputFiles.getOrElse(
      math.max(1, (candidates.map(_.size).sum / math.max(1L, targetFileBytes)).toInt + 1))
    // range by (partition cols, z): output partitions stay within one hive
    // dir (≈ one file each), Z-ordered inside
    val rangeCols = (snap.partitionColumns.map(col) :+ col("_z"))
    val rewritten = clustered
      .repartitionByRange(numOut, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      // row tracking: the materialized id/version columns ride the
      // clustered rewrite (clustering moves rows, never modifies them)
      .select((snap.schema.fieldNames.toSeq ++ rewriteCarryCols(snap))
        .map(c => col(s"`$c`")): _*)

    val adds = DeltaWriter.stage(spark, tablePath,
      DeltaWriter.physicalized(rewritten, snap.metadata),
      snap.partitionColumns.map(snap.metadata.physicalOf), snap.physicalDataSchema,
      snap.metadata.configuration)
    val removed = candidates
    beforeCommit()
    val committed = commitReplace(spark, tablePath, snap, removed, adds,
      dataChange = false, op = "OPTIMIZE",
      params = Map("zOrderBy" -> zorderBy.mkString(","),
        "targetFileBytes" -> targetFileBytes.toString) ++ predicate.map("predicate" -> _),
      abortOp = "ZORDER",
      // ZCube provenance: one cube id per rewrite run, keyed (in the tag
      // value) by the PHYSICAL clustering columns so a rename never
      // invalidates the provenance and a re-declaration always does
      addTags = Map(
        Clustering.TagZcubeId -> UUID.randomUUID().toString,
        Clustering.TagZorderBy -> zorderBy.map(snap.metadata.physicalOf).mkString(",")))
    OptimizeMetrics(removed.size, adds.files.size, removed.map(_.size).sum, committed)
  }

  /** Validated remove+add commit loop shared by the rewrite operations:
    * re-reads the metadata snapshot each attempt and defers to the
    * [[ConflictChecker]] — disjoint concurrent commits proceed; a
    * concurrent remove/re-add of a `removed` entry or a concurrent
    * metadata/protocol change aborts (cleaning up the staged adds). */
  private def commitReplace(
      spark: SparkSession,
      tablePath: String,
      base: DeltaSnapshot,
      removed: Seq[DeltaAddFile],
      adds: DeltaWriter.Published,
      dataChange: Boolean,
      op: String,
      params: Map[String, String],
      abortOp: String,
      cdc: Option[DeltaWriter.Published] = None,
      addTags: Map[String, String] = Map.empty): Long = {
    val onAbort = () => { adds.discard(); cdc.foreach(_.discard()) }
    DeltaCommit.run(spark, tablePath, abortOp, onAbort) {
      val latest = DeltaLog.metadataSnapshot(spark, tablePath)
      ConflictChecker.checkRewrite(abortOp, spark, base, latest, removed, onAbort)
      // row tracking: every add on a row-tracked table carries a fresh
      // baseRowId range (re-based on THIS attempt's hwm — a lost race
      // re-allocates against the winner); the PRESERVED ids of rewritten
      // rows live in the materialized columns, which override these
      Right(DeltaCommit.Txn(Some(latest), op, params.toSeq,
        metrics = Map(
          "numRemovedFiles" -> removed.size.toLong,
          "numAddedFiles" -> adds.files.size.toLong,
          "numRemovedBytes" -> removed.map(_.size).sum),
        actions = removed.map(f => DeltaCommit.removeLine(f.path, dataChange)) ++
          DeltaCommit.stagedAddLines(Some(latest), adds.files, latest.version + 1,
            dataChange, addTags) ++
          cdc.toSeq.flatMap(_.files).map(DeltaCdf.cdcLine)))
    }.merge
  }

  /** Remove-tombstone deletionTimestamps from the retained commit JSONs:
    * absolute fs path -> LATEST deletionTimestamp recorded for it. The
    * retention clock for a removed file starts at its REMOVAL, not its
    * creation — production Delta's contract, and the only one that
    * protects in-flight readers of the pre-rewrite snapshot and time
    * travel inside the window (a file compacted away today is 30 days
    * old by mtime, but must survive another full retention). Tombstones
    * live in the commit JSONs; `delta.logRetentionDuration` (default 30d)
    * keeps those around longer than any sane vacuum retention. */
  /** [[tombstoneTimes]] as a still-distributed frame — `(path, ts)` with
    * the LATEST deletionTimestamp per absolute path, parsed executor-side
    * from the same retained commit JSONs (shared reader:
    * [[DeltaStateReconstruction.tailActionsFrame]]); the job-plane vacuum
    * left-joins it instead of holding the O(removed files) Map on the
    * driver. Missing timestamps default to 0 exactly like the driver Map
    * (older-than-any-cutoff: an undated tombstone never blocks vacuum). */
  private def tombstoneFrame(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val (commits, _) = DeltaLog.listLog(spark, tablePath)
    // QUALIFIED root: keys must match the listing's resolved statuses
    // even when the caller handed a relative tablePath
    val qual = qualifiedRootPath(spark, tablePath)
    val abs = udf((rel: String) =>
      new Path(qual, decodeRel(rel)).toUri.getPath)
    DeltaStateReconstruction.tailActionsFrame(spark, commits) match {
      case None => Seq.empty[(String, Long)].toDF("path", "ts")
      case Some(raw) => raw
        .filter(col("a.remove").isNotNull)
        .select(abs(col("a.remove.path")).as("path"),
          coalesce(col("a.remove.deletionTimestamp"), lit(0L)).as("ts"))
        .groupBy(col("path"))
        .agg(max(col("ts")).as("ts"))
    }
  }

  private def tombstoneTimes(spark: SparkSession, tablePath: String): Map[String, Long] = {
    val (commits, _) = DeltaLog.listLog(spark, tablePath)
    val fs = DeltaLog.logFs(spark, tablePath)
    val out = scala.collection.mutable.HashMap.empty[String, Long]
    commits.foreach { case (_, status) =>
      DeltaLog.readCommit(fs, status)(_.foreach { node =>
        if (node.has("remove")) {
          val r = node.get("remove")
          val abs = new Path(tablePath, decodeRel(r.get("path").asText())).toUri.getPath
          val ts = if (r.has("deletionTimestamp")) r.get("deletionTimestamp").asLong() else 0L
          out.updateWith(abs) {
            case Some(prev) => Some(math.max(prev, ts))
            case None => Some(ts)
          }
        }
      })
    }
    out.toMap
  }

  /** The shared vacuum walk: one live-set + tombstone computation, one
    * filesystem recursion, ONE eligibility predicate — the destructive
    * [[vacuum]] and the audit [[vacuumDryRun]] must never diverge.
    * Eligibility: not under `_delta_log`, a data/DV artifact, not live in
    * the current snapshot, and past retention measured from its
    * remove-tombstone's deletionTimestamp (an ORPHAN with no tombstone —
    * crashed staging output — falls back to its modification time).
    *
    * Two planes, one predicate: DRIVER on small tables (the in-memory
    * live Set + tombstone Map below), DISTRIBUTED on job-plane tables —
    * the listed candidates anti-join the still-distributed live-path
    * frame and left-join the tombstone frame executor-side, so a
    * 10M-file table's vacuum never holds its live set or removal history
    * on the driver (the same bound the scan/DML/streaming planes closed).
    * The listing itself streams through the store's paged iterator on
    * both planes. */
  private[graft] def vacuumWalk(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long)(onEligible: Path => Unit): Unit = {
    // the spec's vacuumProtocolCheck contract (supported feature): VACUUM
    // must verify it understands the table's WRITER protocol before
    // deleting anything — an unknown writer feature may reference physical
    // files in ways this walk cannot see (the way deletionVectors would
    // look like orphans to a DV-blind vacuum), and "unreferenced" is only
    // as good as the feature list it was computed under. The check is the
    // PROTOCOL half only: legacy-invariants row validation is irrelevant
    // to deleting unreferenced files. Shared with DRY RUN so the audit can
    // never claim deletions the real run would refuse. withDvAdds=false:
    // the deferred plane's DV paths come distributed (livePathsFrame),
    // never as an up-front driver materialization.
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath, withDvAdds = false)
    snap.assertKnownWriterFeatures("VACUUM")
    deferred match {
      case Some(d) =>
        // staging failure (read-only credentials probing a DRY RUN, a
        // listing abort) happens strictly BEFORE any eligibility callback
        // fires — falling back to the driver walk is then safe and keeps
        // the audit available where the eager plane always was (it just
        // re-pays the O(files) driver Set the staging avoided). A failure
        // AFTER the first callback must propagate: re-walking would
        // re-emit already-handled files.
        var emitted = false
        // staging now runs through a Spark job (the distributed listing),
        // so the read-only-credentials IOException arrives WRAPPED in a
        // SparkException — a bare-IOException match would let exactly the
        // failure this fallback exists for (write-denied staging on a
        // DRY RUN) propagate instead of falling back (r18 ADVICE)
        try vacuumWalkDistributed(spark, tablePath, retentionMs, d) { p =>
          emitted = true; onEligible(p)
        } catch { case scala.util.control.NonFatal(e)
            if !emitted && causeChainHasIo(e) =>
          logWarning(
            s"distributed vacuum walk on $tablePath fell back " +
              s"to the driver plane (${e.getMessage})")
          vacuumWalkDriver(spark, tablePath, retentionMs,
            DeltaLog.snapshot(spark, tablePath))(onEligible)
        }
      case None => vacuumWalkDriver(spark, tablePath, retentionMs, snap)(onEligible)
    }
  }

  /** Distinct live partitionValues maps off the deferred frame — the ONE
    * rollup shape OPTIMIZE…WHERE's scope and SHOW PARTITIONS share.
    * groupBy, not distinct(): Spark rejects set operations on MAP columns
    * (SET_OPERATION_ON_MAP_TYPE) but groups by them fine. The trailing
    * dedupe is load-bearing: a null map and an empty map are distinct
    * GROUPS but normalize to the same Scala map. */
  private def framePartitionValues(d: DeferredDeltaFiles): Seq[Map[String, String]] =
    d.aggregate(
      _.groupBy(col("partitionValues")).count()
        .select(col("partitionValues")).collect().toSeq
        .map(r => Option(r.getAs[scala.collection.Map[String, String]](0))
          .map(_.toMap).getOrElse(Map.empty[String, String]))
        .distinct,
      Seq.empty)

  /** An IOException anywhere in the cause chain (Spark wraps executor
    * and job-submission failures in SparkException layers) — the signal
    * the distributed-walk fallback keys on. Exposed package-wide because
    * ScaleCheck's filesystem probes hit the same wrapped-exception
    * pattern: an ENOSPC inside a Spark job arrives as SparkException,
    * not as the bare IOException the probe's skip path documents. */
  private[graft] def causeChainHasIo(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 20) {
      if (c.isInstanceOf[java.io.IOException]) return true
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Not under `_delta_log`. Shared by every recursive-listing consumer
    * (vacuum candidacy, restore's existence check). */
  private def outsideLog(p: Path): Boolean =
    !p.toUri.getPath.contains(s"/${DeltaLog.LogDirName}/")

  /** The table root FULLY QUALIFIED against its filesystem, as a
    * scheme-stripped path — every distributed-plane join key derives from
    * this: a RELATIVE tablePath otherwise builds keys that can never
    * match the listing's resolved statuses, and "not live" is one
    * anti-join away from deleting live files. */
  private[delta] def qualifiedRootPath(spark: SparkSession, tablePath: String): String = {
    val p = new Path(tablePath)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toUri.getPath
  }

  /** An add whose DECODED path is absolute (rooted or scheme-carrying —
    * shallow-clone references, foreign-engine absolute adds): never under
    * the table root, possibly another filesystem entirely. Such paths
    * must be probed by their OWN form, never anti-joined against the
    * table's listing (which cannot contain them) and never stripped of
    * their scheme (a cross-bucket reference stripped to a bare key would
    * probe the wrong store). */
  private[delta] def isExternalAddPath(rel: String): Boolean = {
    val d = decodeRel(rel)
    d.startsWith("/") ||
      (try new java.net.URI(d).getScheme != null catch { case _: Exception => false })
  }

  /** Existence probe that respects the path's own scheme: a
    * scheme-carrying path resolves its own filesystem; a bare path keeps
    * the TABLE's (the eager planes' semantics). */
  private[delta] def probeExists(
      tableFs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      p: Path): Boolean =
    (if (p.toUri.getScheme == null) tableFs else p.getFileSystem(conf)).exists(p)

  /** ONE candidacy predicate for both vacuum walk planes: a data/DV
    * artifact by name, outside the log. Any future change to what counts
    * as vacuumable lands on both planes by construction (the parity
    * invariant VacuumPlaneSuite pins). */
  private def isVacuumCandidate(p: Path): Boolean =
    outsideLog(p) && (p.getName.endsWith(".parquet") ||
      (p.getName.startsWith("deletion_vector_") && p.getName.endsWith(".bin")))

  /** Staged-listing row schema — explicit so an empty distributed write
    * (directory created, zero parts) still reads back as a valid empty
    * frame instead of failing schema inference. */
  private val ListingSchema = StructType(Seq(
    StructField("path", StringType), StructField("full", StringType),
    StructField("mtime", org.apache.spark.sql.types.LongType)))

  /** Stream the table root's recursive listing (filtered by `keep`) into
    * a staged parquet of `(path, full, mtime)` rows — `path` is the
    * scheme-stripped join key, `full` the qualified form. Staging lives
    * under the TABLE's own `_delta_log/.tmp` (see the vacuum note:
    * driver-local temp dirs shear on multi-node clusters); the caller
    * runs the returned cleanup when done consuming. None = nothing kept.
    *
    * The walk is DISTRIBUTED (r18 verdict #2): the driver lists only
    * LEVEL 0 (one paged, non-recursive iteration — root-level files
    * flush straight to the staging parquet, O(batch) heap), and every
    * root-level DIRECTORY becomes an executor task that recursively
    * lists its prefix and streams matches into its own staged part. On a
    * partitioned/clustered table — the only realistic 10M-file layout —
    * that turns the old O(files) sequential driver round-trips (~20 min
    * against real S3 paging at 10M files) into O(files/cores) parallel
    * ones. A FLAT 10M-file directory keeps the serial paged LIST at
    * level 0: no store API can parallelize a single prefix's page chain,
    * so that bound is the store's, not this plan's.
    *
    * `_delta_log` is skipped STRUCTURALLY, not by predicate: both
    * consumers (vacuum candidacy, restore/fsck existence) exclude log
    * paths anyway, and walking it while THIS VERY STAGING flushes parts
    * under `_delta_log/.tmp` made some filesystems throw transient
    * FileNotFoundExceptions from the open iterator (r18 ADVICE — the
    * listing racing its own output). A prefix directory that vanishes
    * mid-walk (concurrent maintenance) lists as empty: its files are
    * genuinely gone, which is the correct answer for every consumer.
    * private[graft] for ScaleCheck's listing-plane probe only. */
  private[graft] def stagedListing(
      spark: SparkSession,
      tablePath: String,
      keep: Path => Boolean): (Option[DataFrame], () => Unit) = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val tmp = new Path(DeltaLog.logDir(tablePath), s".tmp/listing-${UUID.randomUUID()}")
    var any = false
    try {
      val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      def flush(): Unit = if (batch.nonEmpty) {
        spark.createDataset(batch.toSeq).toDF("path", "full", "mtime")
          .write.mode(SaveMode.Append).parquet(tmp.toString)
        any = true
        batch.clear()
      }
      val prefixes = Seq.newBuilder[String]
      fs match {
        case sharded: graft.sources.ShardedListStore =>
          // r19 verdict #5: a store that owns its LIST protocol can
          // parallelize even ONE flat prefix's page chain — the stated
          // residual the generic walk below cannot touch (the Hadoop FS
          // API serializes a prefix's continuation tokens). One
          // delimiter-free sharded listing covers the WHOLE table
          // (nested partition dirs included), so the executor dir-task
          // phase is skipped entirely. Tradeoff, stated: pages stream
          // through driver-side shard threads instead of executor tasks
          // — page chains are latency-bound, not compute-bound, and the
          // shard count (not the cluster) is the store's practical LIST
          // concurrency for one table prefix. `_delta_log` cannot be
          // skipped structurally in flat mode; the predicate exclusion
          // is safe here because page listings never hold an open
          // iterator into the directory this staging writes under (the
          // r18 vanished-dir hazard was a walker artifact). Heap stays
          // O(batch): rows stream through a bounded queue into the same
          // 100k-row staged flushes.
          sharded.listFlatShardedForeach(fs.makeQualified(root), S3ListShards) { st =>
            val p = st.getPath
            if (outsideLog(p) && keep(p)) {
              batch += ((p.toUri.getPath, p.toString, st.getModificationTime))
              if (batch.size >= 100000) flush()
            }
          }
          flush()
        case _ =>
          val it = fs.listStatusIterator(fs.makeQualified(root))
          while (it.hasNext) {
            val st = it.next()
            if (st.isDirectory) {
              if (st.getPath.getName != DeltaLog.LogDirName)
                prefixes += st.getPath.toString
            } else if (keep(st.getPath)) {
              batch += ((st.getPath.toUri.getPath, st.getPath.toString, st.getModificationTime))
              if (batch.size >= 100000) flush()
            }
          }
          flush()
      }
      val dirs = prefixes.result()
      if (dirs.nonEmpty) {
        val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
        val slices = math.min(dirs.size,
          math.max(1, spark.sparkContext.defaultParallelism * 2))
        // one executor task per slice of prefixes; each task's recursive
        // listing streams through the parquet writer (iterator-pulled, so
        // executor heap stays O(writer buffer), never O(prefix files))
        spark.createDataset(dirs)
          .repartition(slices)
          .mapPartitions(_.flatMap { dirStr =>
            val dir = new Path(dirStr)
            listPrefix(dir.getFileSystem(sconf.value), dir, keep)
          })
          .toDF("path", "full", "mtime")
          .write.mode(SaveMode.Append).parquet(tmp.toString)
        any = true
      }
    } catch { case e: Throwable =>
      // a failed staging (read-only creds, listing abort) must not leak
      // its flushed parts under _delta_log/.tmp
      try fs.delete(tmp, true) catch { case _: Exception => () }
      throw e
    }
    (if (any) Some(spark.read.schema(ListingSchema).parquet(tmp.toString)) else None,
      () => try fs.delete(tmp, true) catch { case _: Exception => () })
  }

  /** One prefix's recursive listing as a lazy iterator of staged-listing
    * rows — the executor-side half of [[stagedListing]]. Manual recursion
    * over `listStatusIterator` rather than `listFiles(dir, true)`: the
    * located-status variant copies permissions into every entry, which on
    * the local filesystem fork-execs a shell PER FILE (Hadoop's
    * RawLocalFileSystem permission loading — measured ~ms/file, turning a
    * 1M-file walk into tens of minutes), while plain statuses load
    * permissions lazily and never pay it; object stores page the plain
    * iterator the same way. A directory gone by open time (concurrent
    * maintenance) lists as empty — its files are genuinely gone. */
  private def listPrefix(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path,
      keep: Path => Boolean): Iterator[(String, String, Long)] =
    new Iterator[(String, String, Long)] {
      private val pending = scala.collection.mutable.Stack[Path](dir)
      private var current: org.apache.hadoop.fs.RemoteIterator[FileStatus] = _
      private var nextRow: (String, String, Long) = _
      private def openNext(): Boolean = {
        current = null
        while (current == null && pending.nonEmpty) {
          val d = pending.pop()
          try current = fs.listStatusIterator(d)
          catch { case _: java.io.FileNotFoundException => () } // vanished dir
        }
        current != null
      }
      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && (current != null || openNext())) {
          // the "vanished dir lists as empty" contract must also hold
          // MID-pagination: object stores under concurrent maintenance
          // can drop a directory between pages, surfacing FNF from
          // hasNext/next on the open RemoteIterator — treat the rest of
          // that directory as gone, same as a vanished open
          try {
            if (!current.hasNext) current = null
            else {
              val st = current.next()
              if (st.isDirectory) pending.push(st.getPath)
              else if (keep(st.getPath))
                nextRow = (st.getPath.toUri.getPath, st.getPath.toString,
                  st.getModificationTime)
            }
          } catch { case _: java.io.FileNotFoundException => current = null }
        }
      }
      advance()
      override def hasNext: Boolean = nextRow != null
      override def next(): (String, String, Long) = {
        val r = nextRow; advance(); r
      }
    }

  private def vacuumWalkDriver(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long,
      snap: DeltaSnapshot)(onEligible: Path => Unit): Unit = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val live: Set[String] =
      snap.files.map(f => new Path(tablePath, decodeRel(f.path)).toUri.getPath).toSet ++
        snap.files.flatMap(_.deletionVector).collect {
          case d if d.storageType == "u" || d.storageType == "p" =>
            d.absolutePath(tablePath).toUri.getPath
        }
    val tombstones = tombstoneTimes(spark, tablePath)
    val cutoff = System.currentTimeMillis() - retentionMs
    // same plain-iterator recursion as the distributed walk's tasks:
    // listFiles' located statuses fork-exec a shell PER FILE on local
    // filesystems (permission loading) — a 100k-file eager table would
    // pay ~100s of pure exec overhead for a walk that reads no permission
    val it = listPrefix(fs, root, isVacuumCandidate)
    while (it.hasNext) {
      val (rel, full, mtime) = it.next()
      if (!live.contains(rel)) {
        val clock = tombstones.getOrElse(rel, mtime)
        if (clock < cutoff) onEligible(new Path(full))
      }
    }
  }

  /** Job-plane vacuum: the recursive listing streams into a temp parquet
    * of candidates (O(batch) driver heap), eligibility is ONE distributed
    * plan — candidates ANTI JOIN live paths, LEFT JOIN tombstones, clock
    * filter — and the survivors stream back through toLocalIterator for
    * the (driver-side, bulk-batched) deletes. The predicate is the same
    * as the driver walk's, term for term; VacuumPlaneSuite pins the two
    * planes emit identical file sets. */
  private def vacuumWalkDistributed(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long,
      deferred: DeferredDeltaFiles)(onEligible: Path => Unit): Unit = {
    import spark.implicits._
    // staging lives under the TABLE's own filesystem (_delta_log/.tmp,
    // production Delta's staging convention): a driver-local temp dir
    // would shear on a real cluster — executors commit their parquet
    // parts to THEIR local disks and the driver reads back an empty
    // frame, i.e. a silent "nothing eligible". `_delta_log` is excluded
    // from candidacy and its non-commit-named entries are ignored by
    // listLog, so the staging can never vacuum or replay itself.
    val (candidatesOpt, cleanup) = stagedListing(spark, tablePath, isVacuumCandidate)
    try {
      val candidates = candidatesOpt.getOrElse(return)
      // `key` is the qualified-root join form; external live paths ride
      // along harmlessly (their stripped keys can only OVER-match a
      // candidate — protecting a file, never deleting a live one)
      val live = deferred.livePathsFrame()
        .map(_.select(col("key").as("path")))
        .getOrElse(Seq.empty[String].toDF("path"))
      val cutoff = System.currentTimeMillis() - retentionMs
      val eligible = candidates
        .join(live, Seq("path"), "left_anti")
        .join(tombstoneFrame(spark, tablePath), Seq("path"), "left")
        .filter(coalesce(col("ts"), col("mtime")) < cutoff)
        .select(col("full"))
      val out = eligible.toLocalIterator()
      while (out.hasNext) onEligible(new Path(out.next().getString(0)))
    } finally cleanup()
  }

  /** Delete data files not referenced by the CURRENT snapshot whose
    * remove-tombstone (orphans: modification time) is older than
    * `retentionMs`. Returns #deleted. Time travel to versions needing
    * those files stops working — that is the vacuum contract. */
  def vacuum(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Long = {
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    var deleted = 0L
    // object stores with a batched delete (S3 DeleteObjects: 1000/request)
    // retire expired files in batches — a million-file VACUUM must not
    // cost a million round-trips
    val bulk = fs match {
      case b: graft.sources.BulkDeleteStore => Some(b)
      case _ => None
    }
    val pending = scala.collection.mutable.ArrayBuffer.empty[Path]
    vacuumWalk(spark, tablePath, retentionMs) { p =>
      bulk match {
        case Some(b) =>
          pending += p
          if (pending.size >= 1000) { deleted += b.deleteBatch(pending.toSeq); pending.clear() }
        case None => if (fs.delete(p, false)) deleted += 1
      }
    }
    bulk.foreach(b => if (pending.nonEmpty) deleted += b.deleteBatch(pending.toSeq))
    deleted
  }

  /** `VACUUM … DRY RUN`: the absolute paths [[vacuum]] would delete under
    * the same retention, deleting nothing — the audit step production runs
    * before a destructive vacuum. Literally the SAME walk ([[vacuumWalk]]),
    * so the audit can never diverge from the deletion. */
  def vacuumDryRun(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val out = Seq.newBuilder[String]
    vacuumWalk(spark, tablePath, retentionMs)(p => out += p.toUri.getPath)
    out.result().sorted
  }

  /** RESTORE TABLE … TO VERSION AS OF v: roll the table back to snapshot
    * `toVersion` as a NEW commit (the history is preserved — time travel
    * to the undone versions still works until VACUUM ages their files
    * out). The commit removes files live now but not at `toVersion` and
    * re-adds files live at `toVersion` but not now, both `dataChange=true`
    * (a restore IS a data change for incremental consumers — changes()
    * will fail fast over it, correctly). Requires `toVersion`'s files to
    * still exist, i.e. not vacuumed — verified before committing.
    * Production Delta's RESTORE contract. */
  /** RESTORE … TO TIMESTAMP AS OF: resolve the timestamp to the last
    * version committed at or before it (same rule as read-side time
    * travel), then restore to that version. */
  def restoreTimestamp(spark: SparkSession, tablePath: String, timestamp: String): Long = {
    // metadata-only version resolution: the restore itself re-reads state
    val (snap, _) = DeltaLog.scanSnapshot(spark, tablePath,
      timestampAsOf = Some(timestamp), withDvAdds = false)
    restore(spark, tablePath, snap.version)
  }

  /** Two restore planes, one commit shape: DRIVER on small tables (the
    * in-memory (path, dv) Sets), DISTRIBUTED when EITHER version is
    * job-plane — the diff is two anti-joins over the versions' winners
    * frames (O(diff) driver descriptors, which the commit file must hold
    * anyway) and the vacuumed-file check is an anti-join against the
    * staged table listing (one paged recursion instead of O(files)
    * sequential exists round-trips). The eager plane's per-file exists
    * check and full live Sets were the remaining avoidable O(files)
    * driver costs of the op. */
  def restore(spark: SparkSession, tablePath: String, toVersion: Long): Long = {
    val (head, headDef) = DeltaLog.scanSnapshot(spark, tablePath, withDvAdds = false)
    head.assertWritable("RESTORE")
    head.assertRemovable("RESTORE")
    val (target0, targetDef0) = DeltaLog.scanSnapshot(spark, tablePath,
      versionAsOf = Some(toVersion), withDvAdds = false)
    // plane choice, made ONCE: if either side is big, force the other
    // side's handle too so the diff has two frames to join. A `driver`
    // plane conf yields no frames (the driver plane whole); `frame` gives
    // both sides frames.
    val planes: Option[(DeltaSnapshot, DeferredDeltaFiles)] =
      if (headDef.isEmpty && targetDef0.isEmpty) None
      else targetDef0.orElse(
        DeltaLog.scanSnapshot(spark, tablePath, versionAsOf = Some(toVersion),
          withDvAdds = false, forceDefer = true)._2)
        .map(td => (target0, td))
    planes match {
      case Some((target, td)) => restoreDistributed(spark, tablePath, toVersion, target, td)
      case None => restoreDriver(spark, tablePath, toVersion, target0)
    }
  }

  private def restoreDriver(
      spark: SparkSession, tablePath: String, toVersion: Long,
      /** the already-materialized eager target snapshot from [[restore]] —
        * re-replaying it here would double the O(files) driver replay */
      target: DeltaSnapshot): Long = {
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val missing = target.files.filterNot { f =>
      fs.exists(new Path(tablePath, decodeRel(f.path))) &&
        f.deletionVector.filter(d => d.storageType != "i")
          .forall(d => fs.exists(d.absolutePath(tablePath)))
    }
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cannot RESTORE $tablePath to version $toVersion: ${missing.size} " +
        s"file(s) already vacuumed (e.g. ${missing.head.path})")
    // file identity for the diff is (path, deletionVector): a DV attach
    // between toVersion and now keeps the path but hides rows — a
    // path-only diff would keep the CURRENT (DV'd) add and the restore
    // would silently serve the post-delete row set. Same-path
    // remove+add in one commit nets to the add (replay applies removes
    // first), so the DV'd form is replaced by the target's form.
    def fileKey(f: DeltaAddFile): (String, Option[DvDescriptor]) =
      (f.path, f.deletionVector)
    restoreLoop(spark, tablePath, toVersion, target) { () =>
      val current = DeltaLog.snapshot(spark, tablePath)
      if (current.version == toVersion) (current, Nil, Nil) // no-op: skip the diff
      else {
        val currentPaths = current.files.map(fileKey).toSet
        val targetPaths = target.files.map(fileKey).toSet
        (current,
          current.files.filterNot(f => targetPaths.contains(fileKey(f))).map(_.path),
          target.files.filterNot(f => currentPaths.contains(fileKey(f))))
      }
    }
  }

  private def restoreDistributed(
      spark: SparkSession, tablePath: String, toVersion: Long,
      target: DeltaSnapshot, td: DeferredDeltaFiles): Long = {
    import spark.implicits._
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // vacuumed-file check: every path the target references must still
    // exist — membership in ONE staged recursive listing replaces the
    // per-file exists round-trips. EXTERNAL references (clone adds,
    // "p"-form DVs — absolute by their own form, possibly another
    // filesystem) are never in the table's listing: those few keep a
    // per-file probe, scheme preserved.
    val (listingOpt, cleanup) = stagedListing(spark, tablePath, outsideLog)
    try {
      val targetPaths = td.livePathsFrame()
        .getOrElse(Seq.empty[(String, String, Boolean)].toDF("key", "full", "external"))
      val inside = targetPaths.filter(!col("external")).select(col("key").as("path"))
      val insideMissing = listingOpt match {
        case None => inside
        case Some(l) => inside.join(l.select(col("path")), Seq("path"), "left_anti")
      }
      val conf = spark.sessionState.newHadoopConf()
      val outsideMissing = targetPaths.filter(col("external"))
        .select(col("full")).collect().map(_.getString(0)).toSeq
        .filterNot(p => probeExists(fs, conf, new Path(p)))
      val missingCount = insideMissing.count() + outsideMissing.size
      if (missingCount > 0) {
        val example = outsideMissing.headOption.getOrElse(
          insideMissing.limit(1).collect()(0).getString(0))
        throw new IllegalStateException(
          s"cannot RESTORE $tablePath to version $toVersion: $missingCount " +
            s"file(s) already vacuumed (e.g. $example)")
      }
    } finally cleanup()
    restoreLoop(spark, tablePath, toVersion, target) { () =>
      val (current, cdOpt) = DeltaLog.scanSnapshot(spark, tablePath,
        withDvAdds = false, forceDefer = true)
      // no-op short-circuit BEFORE diffing: when head == target the cached
      // per-(table, version) plane serves the SAME DeferredDeltaFiles
      // instance for both sides, and restoreDiffFrames would join a frame
      // with itself — Spark resolves the same-Dataset condition as a
      // trivially-true predicate (warning + a full diff computed just to
      // be discarded by restoreLoop's own version check)
      if (current.version == toVersion || (cdOpt.exists(_ eq td)))
        (current, Nil, Nil)
      else {
        val cd = cdOpt.getOrElse(throw new IllegalStateException(
          s"RESTORE on $tablePath lost its deferred plane mid-run " +
            s"(${DeltaLog.SnapshotPlaneKey} changed?)"))
        val (removePaths, readds) = restoreDiffFrames(cd, td)
        (current, removePaths, readds)
      }
    }
  }

  /** The distributed (path, deletionVector)-keyed two-way diff: removes =
    * current ∖ target, re-adds = target ∖ current, each an anti-join over
    * the winners frames with NULL-SAFE dv comparison (same identity rule
    * as the driver Sets — a DV attach between the versions must surface
    * as remove+re-add, see [[restoreDriver]]). Both results are O(diff):
    * exactly what the commit file must hold. Path-sorted for
    * deterministic commit layout across planes. */
  private def restoreDiffFrames(
      cd: DeferredDeltaFiles, td: DeferredDeltaFiles): (Seq[String], Seq[DeltaAddFile]) = {
    // identical planes diff empty by definition — and joining a cached
    // frame with ITSELF would lean on Spark's lenient same-Dataset join
    // handling (trivially-true condition) to get there the slow way
    if (cd eq td) return (Nil, Nil)
    (cd.addsFrame(), td.addsFrame()) match {
      case (None, None) => (Nil, Nil)
      case (Some(c), None) =>
        (c.select(col("path")).sort("path").collect().map(_.getString(0)).toSeq, Nil)
      case (None, Some(t)) =>
        (Nil, DeltaStateReconstruction.decodeAddRows(t.sort("path").collect()))
      case (Some(c), Some(t)) =>
        def cond(l: DataFrame, r: DataFrame) =
          l("path") === r("path") && l("deletionVector") <=> r("deletionVector")
        val removes = c.join(t, cond(c, t), "left_anti")
          .select(c("path")).sort("path").collect().map(_.getString(0)).toSeq
        val readds = DeltaStateReconstruction.decodeAddRows(
          t.join(c, cond(t, c), "left_anti").sort("path").collect())
        (removes, readds)
    }
  }

  /** The shared RESTORE commit loop: per attempt, `currentAndDiff` reads
    * the latest state and produces (current snapshot, remove paths,
    * re-add descriptors); the commit shape — commitInfo, target metadata
    * with the identity-hwm exception, removes, full re-add lines — is ONE
    * implementation for both planes. */
  private def restoreLoop(
      spark: SparkSession, tablePath: String, toVersion: Long, target: DeltaSnapshot)(
      currentAndDiff: () => (DeltaSnapshot, Seq[String], Seq[DeltaAddFile])): Long =
    DeltaCommit.run(spark, tablePath, "RESTORE") {
      val (current, removePaths, readds) = currentAndDiff()
      if (current.version == toVersion) Left(current.version) // no-op
      else {
        // metadata at the target version wins (schema/partitioning
        // rollback); same table id — replay is last-metaData-wins.
        // EXCEPTION: identity high water marks never roll back (production
        // RESTORE's contract) — ids handed out between toVersion and now
        // may live in downstream systems, and rolling the hwm back would
        // re-issue them to DIFFERENT rows on the next write. Keep whichever
        // hwm is further along the step direction.
        val restoredSchemaString: String = {
          val curIdent = DeltaWriter.identityFieldsOf(current.schema)
            .map(f => f.name -> f).toMap
          val tgtIdent = DeltaWriter.identityFieldsOf(target.schema)
          if (tgtIdent.isEmpty || !tgtIdent.exists(f => curIdent.contains(f.name)))
            target.metadata.schemaString
          else org.apache.spark.sql.types.StructType(target.schema.fields.map { f =>
            curIdent.get(f.name)
              .filter(_ => f.metadata.contains(DeltaWriter.IdentityStartKey))
              .map { cf =>
                val step = f.metadata.getLong(DeltaWriter.IdentityStepKey)
                val tHwm = DeltaWriter.identityHwm(f)
                val cHwm = DeltaWriter.identityHwm(cf)
                val keep = if (step > 0) math.max(tHwm, cHwm) else math.min(tHwm, cHwm)
                if (keep == tHwm) f
                else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putLong(DeltaWriter.IdentityHwmKey, keep).build())
              }.getOrElse(f)
          }).json
        }
        // row tracking: a restore re-adds each file AS IT WAS — original
        // baseRowId, so resurrected rows come back under their old ids (the
        // hwm domain is not rolled back, so no NEW allocation can collide
        // with them)
        Right(DeltaCommit.Txn(Some(current), "RESTORE",
          parameters = Seq("version" -> toVersion),
          metadata = Some(target.metadata.copy(schemaString = restoredSchemaString)),
          actions = removePaths.map(DeltaCommit.removeLine(_)) ++
            readds.map(DeltaCommit.addLine(_))))
      }
    }.merge

  /** `.option("replaceWhere", cond)` overwrite — production Delta's
    * selective overwrite: atomically replace exactly the rows matching
    * `condition` with `data` (every new row must itself satisfy the
    * condition — rejected otherwise), leaving all other rows untouched.
    * THE backfill primitive at 100 TB: overwriting one day/partition
    * touches only the files that contain matching rows (found through the
    * pruned provider scan — a partition-column condition prunes to that
    * partition), never the whole table. Commit = remove(touched) +
    * add(survivor rewrites + new data), dataChange=true, same validated
    * conflict loop as OPTIMIZE/DML. */
  def replaceWhere(
      spark: SparkSession, tablePath: String, data: DataFrame, condition: String): Long = {
    // deferred plane: the touched-file search below is a pruned collect —
    // O(touched) driver heap on job-plane tables (r17 verdict #2)
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath)
    snap.assertWritable("REPLACE WHERE")
    snap.assertRemovable("REPLACE WHERE")
    val badNew = data.filter(!coalesce(expr(condition), lit(false))).limit(1).count()
    if (badNew > 0) throw new IllegalArgumentException(
      s"replaceWhere: new rows do not all match '$condition'")
    DeltaConstraints.validate(data, snap, "REPLACE WHERE")
    // PINNED to the transaction's snapshot version (the DML find's race
    // comment): an unpinned read resolves a fresh snapshot at load(), so a
    // commit landing between snapshot() and this scan could surface files
    // the touched-set (built from `snap`) then silently drops
    val touchedPaths: Set[String] =
      DeltaTable.readVersion(spark, tablePath, snap.version).filter(expr(condition))
        .select(input_file_name().as("_f")).distinct()
        .collect().map(r => DeltaDml.normalize(r.getString(0))).toSet
    val touched = DeltaDml.touchedAdds(tablePath, snap, deferred, touchedPaths)
    val outCols = snap.schema.fieldNames.toIndexedSeq
    // row tracking: survivors of the touched files keep their ids through
    // the rewrite (materialized columns ride along); incoming rows carry
    // NULL materialization — the new adds' baseRowId ranges identify them
    val rtCols = rewriteCarryCols(snap)
    val keep = (outCols ++ rtCols).map(c => col(s"`$c`"))
    val survivors = partitionInjected(spark, tablePath, snap, touched, withRowIds = true)
      .map(_.filter(!coalesce(expr(condition), lit(false))).select(keep: _*))
    val newData = data.select(outCols.map(col) ++ rtCols.map(c =>
      lit(null).cast(org.apache.spark.sql.types.LongType).as(c)): _*)
    val out = (survivors :+ newData).reduce(_ unionByName _)
    val adds = DeltaWriter.stage(spark, tablePath,
      DeltaWriter.physicalized(out, snap.metadata),
      snap.partitionColumns.map(snap.metadata.physicalOf), snap.physicalDataSchema,
      snap.metadata.configuration)
    // CDF: the EXACT changes — predicate-matching rows of touched files
    // out ('delete'), the incoming frame in ('insert'). Without cdc the
    // reader's derived whole-file path would fabricate delete+insert churn
    // for every SURVIVING row of the touched files (they were rewritten,
    // not changed) — a downstream CDC consumer double-processing unchanged
    // rows. Production Delta writes cdc for replaceWhere when CDF is on. A
    // failure here discards the data files too.
    val cdc = adds.guarding {
      if (!DeltaCdf.enabled(snap.metadata)) None
      else {
        val deleted = partitionInjected(spark, tablePath, snap, touched)
          .reduceOption(_ unionByName _)
          .map(_.filter(expr(condition))
            .select(outCols.map(col) :+ lit("delete").as(DeltaCdf.TypeCol): _*))
        val inserted = data
          .select(outCols.map(col) :+ lit("insert").as(DeltaCdf.TypeCol): _*)
        val changes = (deleted.toSeq :+ inserted).reduce(_ unionByName _)
        Some(DeltaCdf.publish(spark, tablePath, snap, changes))
      }
    }
    commitReplace(spark, tablePath, snap, touched, adds, dataChange = true,
      op = "REPLACE WHERE", params = Map("condition" -> condition),
      abortOp = "REPLACE WHERE", cdc = cdc)
  }

  /** `CREATE TABLE … SHALLOW CLONE src`: a zero-copy metadata-only fork.
    * The clone's v0 commit re-adds every live source file by ABSOLUTE URI
    * (the protocol's escape hatch for files outside the table root), so no
    * data is copied or rewritten — cloning a 100 TB table is a metadata
    * write. Safety properties, each pinned by DeltaCloneSuite:
    *
    *  - writes/DML/OPTIMIZE on the clone commit to the CLONE's log and add
    *    files under the clone's root; the source is never mutated;
    *  - VACUUM on the clone scans only the clone's root, so shared source
    *    files are never deleted from under the source table;
    *  - per-file stats and partitionValues carry over verbatim — pruning
    *    and stats skipping work on the clone unchanged;
    *  - the clone gets a fresh table id and starts its own history at v0
    *    (time travel into pre-clone versions belongs to the source).
    *
    * cf. production Delta's SHALLOW CLONE semantics (delta.io protocol:
    * add.path is "a relative path ... or an absolute path"). */
  def shallowClone(spark: SparkSession, sourcePath: String, targetPath: String): Long = {
    if (DeltaLog.isDeltaTable(spark, targetPath))
      throw new IllegalArgumentException(s"CLONE target $targetPath is already a delta table")
    val src = DeltaLog.snapshot(spark, sourcePath)
    val conf = spark.sessionState.newHadoopConf()
    val srcRoot = new Path(sourcePath).getFileSystem(conf)
      .makeQualified(new Path(sourcePath))
    def absoluteUri(addPath: String): String = {
      val u = try new URI(addPath) catch { case _: Exception => null }
      if (u != null && u.isAbsolute) addPath // source is itself a clone
      else new Path(srcRoot, decodeRel(addPath)).toUri.toString
    }
    // a "u"-storage DV resolves against the table root, which for the
    // clone is the WRONG root — pin it to the source's absolute path.
    // Row tracking: the clone shares the source's physical files, so row
    // ids carry over verbatim — together with the domain copy below the
    // clone keeps the source's id space (and its hwm, so clone-side
    // writes never collide with cloned ids)
    val adds = src.files.map { f =>
      DeltaCommit.addLine(f.copy(path = absoluteUri(f.path),
        deletionVector = f.deletionVector.map { d =>
          if (d.storageType == "u")
            DvDescriptor("p", d.absolutePath(sourcePath).toUri.toString,
              d.offset, d.sizeInBytes, d.cardinality)
          else d
        }))
    }
    DeltaCommit.create(spark, targetPath,
      cloneTxn(src, Seq("source" -> srcRoot.toString, "sourceVersion" -> src.version), adds))
  }

  /** A clone's v0 commit: the source's protocol ([[cloneProtocol]]),
    * schema and configuration under a fresh table id (a clone is a NEW
    * table — ict enablement included, so its v0 starts the clone's own
    * monotonic series), the re-added files, then the source's domain
    * metadata whole (rowTracking hwm, foreign engines' clustering state …
    * — the preservation contract of the domainMetadata writer feature the
    * cloned protocol may list). */
  private def cloneTxn(
      src: DeltaSnapshot, params: Seq[(String, Any)], adds: Seq[String]): DeltaCommit.Txn =
    DeltaCommit.Txn(None, "CLONE", params,
      protocol = Some(cloneProtocol(src)),
      metadata = Some(src.metadata.copy(id = UUID.randomUUID().toString)),
      actions = adds ++ src.domainMetadata.toSeq.sortBy(_._1).map { case (d, c) =>
        RowTracking.domainLineOf(d, c)
      })

  /** A clone's protocol line: the SOURCE's protocol carried VERBATIM —
    * the copied schemaString/configuration may require column mapping,
    * type widening, in-commit timestamps, constraints … and a hardcoded
    * (1,2) would be spec-invalid (foreign readers either reject the clone
    * or resolve logical column names against physical parquet names and
    * read all-NULLs). Widened with deletionVectors when any copied add
    * carries one and the source protocol predates the feature. */
  private def cloneProtocol(src: DeltaSnapshot): DeltaProtocol = {
    val p0 = src.protocol
    if (src.files.exists(_.deletionVector.isDefined) &&
        (p0.minReaderVersion < 3 || !p0.readerFeatures.contains("deletionVectors")))
      p0.withReaderWriterFeature("deletionVectors",
        mappingActive = src.metadata.columnMappingMode != "none")
    else p0
  }

  /** `CREATE TABLE t DEEP CLONE s`: an independent physical copy — every
    * live data file (and deletion-vector blob) of the source snapshot is
    * copied under the target and re-registered RELATIVE in a fresh v0 log,
    * so the clone survives the source being vacuumed, mutated, or deleted
    * outright (the property shallow clones give up). History does not
    * carry over — production clone semantics: the clone starts at v0.
    *
    * Scale posture: the copy fans out as ONE Spark job over the file list
    * (per-task FileSystem via broadcast conf) — the driver never streams
    * bytes; at 1000 executors a 100 TB clone is bounded by aggregate
    * storage bandwidth, not a driver loop. */
  def deepClone(spark: SparkSession, sourcePath: String, targetPath: String): Long = {
    if (DeltaLog.isDeltaTable(spark, targetPath))
      throw new IllegalArgumentException(s"CLONE target $targetPath is already a delta table")
    val src = DeltaLog.snapshot(spark, sourcePath)
    val conf = spark.sessionState.newHadoopConf()
    val srcFs = new Path(sourcePath).getFileSystem(conf)
    val srcRoot = srcFs.makeQualified(new Path(sourcePath))
    val tgtRoot = new Path(targetPath).getFileSystem(conf).makeQualified(new Path(targetPath))

    // (absolute source URI, relative target path) per copied object
    def relForAdd(f: DeltaAddFile): (String, String) = {
      val u = try new URI(f.path) catch { case _: Exception => null }
      if (u != null && u.isAbsolute) {
        // source is itself a shallow clone: synthesize a fresh relative
        // name under the hive dirs its partition values imply
        val dirs = src.partitionColumns.map { c =>
          // partitionValues are keyed by PHYSICAL names on mapped tables
          val v = f.partitionValues.getOrElse(src.metadata.physicalOf(c), null)
          s"${src.metadata.physicalOf(c)}=${if (v == null) "__HIVE_DEFAULT_PARTITION__" else DeltaWriter.encodePath(v)}"
        }
        val name = s"part-deepclone-${UUID.randomUUID()}.parquet"
        (f.path, (dirs :+ name).mkString("/"))
      } else (new Path(srcRoot, decodeRel(f.path)).toUri.toString, decodeRel(f.path))
    }
    val addPlans: Seq[(DeltaAddFile, (String, String), Option[DvDescriptor], Option[(String, String)])] =
      src.files.map { f =>
        val plan = relForAdd(f)
        // DV blobs are copied alongside; "u"-storage keeps its descriptor
        // (same relative resolution against the NEW root), "p" re-pins to
        // the copied location, inline ("i") carries as-is
        val dvPlan: (Option[DvDescriptor], Option[(String, String)]) = f.deletionVector match {
          case None => (None, None)
          case Some(d) if d.storageType == "i" => (Some(d), None)
          case Some(d) if d.storageType == "u" =>
            // relative descriptor: resolves under the table root by
            // construction — copy to the SAME relative location and keep
            // the descriptor verbatim
            val abs = srcFs.makeQualified(d.absolutePath(sourcePath))
            (Some(d), Some(abs.toUri.toString -> DeltaWriter.relativize(srcRoot, abs)))
          case Some(d) =>
            // absolute descriptor ("p", e.g. inherited from a shallow
            // clone): copy under the target root and re-pin absolutely
            val name = s"deletion_vector_${UUID.randomUUID()}.bin"
            val pinned = DvDescriptor("p",
              new Path(tgtRoot, name).toUri.toString,
              d.offset, d.sizeInBytes, d.cardinality)
            (Some(pinned), Some(d.absolutePath(sourcePath).toUri.toString -> name))
        }
        (f, plan, dvPlan._1, dvPlan._2)
      }

    // distributed copy: one task per object (dedup'd — several adds can
    // share one DV blob)
    val copies = (addPlans.map(_._2) ++ addPlans.flatMap(_._4)).distinct
    val bConf = spark.sparkContext.broadcast(new SerializableHadoopConf(conf))
    val tgtRootStr = tgtRoot.toString
    // partition count scales with the CLUSTER, not a fixed cap: ~8 files
    // per task amortizes task overhead while a 1000-executor clone still
    // fans out to every slot (the doc's aggregate-bandwidth claim)
    val copyParallelism = math.max(1,
      math.min(copies.size, math.max(spark.sparkContext.defaultParallelism, copies.size / 8)))
    spark.sparkContext.parallelize(copies, copyParallelism)
      .foreach { case (fromUri, rel) =>
        val c = bConf.value.value
        val from = new Path(new URI(fromUri))
        val to = new Path(new Path(tgtRootStr), rel)
        val ffs = from.getFileSystem(c)
        val tfs = to.getFileSystem(c)
        tfs.mkdirs(to.getParent)
        // overwrite=true: a task RETRY (or a user re-running a failed
        // clone) must be idempotent — overwrite=false permanently fails
        // every attempt after the first copied its files
        if (!org.apache.hadoop.fs.FileUtil.copy(ffs, from, tfs, to,
          false /* deleteSource */, true /* overwrite */, c))
          throw new java.io.IOException(s"deep clone copy failed: $fromUri -> $to")
      }

    // row tracking: copied files are byte-identical (materialized id
    // columns included), so the original baseRowId keeps every id
    val adds = addPlans.map { case (f, (_, rel), dv, _) =>
      DeltaCommit.addLine(f.copy(path = DeltaWriter.encodePath(rel), deletionVector = dv))
    }
    DeltaCommit.create(spark, targetPath, cloneTxn(src, Seq(
      "source" -> srcRoot.toString, "sourceVersion" -> src.version, "isShallow" -> false), adds))
  }

  /** `DESCRIBE DETAIL`: one-row table summary — the operational numbers a
    * 100 TB operator checks before/after maintenance (file count and bytes
    * are what OPTIMIZE/VACUUM move). */
  val detailSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("id", StringType),
    StructField("location", StringType),
    StructField("version", LongType),
    StructField("partitionColumns", StringType),
    StructField("numFiles", LongType),
    StructField("sizeInBytes", LongType),
    StructField("properties", StringType),
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("tableFeatures", StringType),
    StructField("clusteringColumns", StringType)))

  val historySchema: StructType = StructType(Seq(
    StructField("version", LongType),
    StructField("timestamp", LongType),
    StructField("operation", StringType),
    StructField("engineInfo", StringType),
    StructField("operationParameters", StringType),
    StructField("operationMetrics", StringType)))

  def detail(spark: SparkSession, tablePath: String): DataFrame = {
    // file count/bytes from the deferred plane's ONE distributed agg on
    // job-plane tables; everything else is metadata
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath, withDvAdds = false)
    val (numFiles, totalBytes) = deferred match {
      case Some(d) => (d.fileCount, d.totalBytes)
      case None => (snap.files.size.toLong, snap.files.map(_.size).sum)
    }
    val row = Row(
      "delta",
      snap.metadata.id,
      tablePath,
      snap.version,
      snap.partitionColumns.mkString(","),
      numFiles,
      totalBytes,
      snap.metadata.configuration.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(";"),
      snap.protocol.minReaderVersion,
      snap.protocol.minWriterVersion,
      (snap.protocol.readerFeatures ++ snap.protocol.writerFeatures)
        .toSeq.sorted.mkString(","),
      Clustering.clusteringColumnsOf(snap).mkString(","))
    spark.createDataFrame(java.util.Arrays.asList(row), detailSchema)
  }

  /** `CONVERT TO DELTA parquet.`/path``: turn an existing parquet
    * directory — flat or hive-partitioned — into a delta table IN PLACE.
    * No data is rewritten: version 0 simply registers the existing files
    * as `add` actions (partition values parsed from the `k=v` directory
    * layout, per-file stats collected in one distributed pass, so pruning
    * and skipping work from the first post-convert query). delta-rs ships
    * this as ConvertToDeltaBuilder; it is how a 100 TB raw-parquet corpus
    * adopts ACID without a 100 TB rewrite.
    *
    * @param partitionBy declared partition columns (production requires
    *        the declaration for hive layouts); must match the directory
    *        structure. Empty = flat table (k=v segments then refused).
    * @return the created version (always 0) */
  def convertToDelta(
      spark: SparkSession, tablePath: String, partitionBy: Seq[String] = Nil): Long = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"$tablePath does not exist")
    require(!fs.exists(DeltaLog.logDir(tablePath)),
      s"$tablePath is already a delta table")
    val all = DeltaWriter.listParquetFilesRecursively(fs, root)
      .filterNot { p =>
        val rel = DeltaWriter.relativize(root, p)
        rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))
      }
    require(all.nonEmpty, s"$tablePath contains no parquet files to convert")

    // full schema (partition columns typed by Spark's hive-layout
    // inference; basePath makes nested files resolve against the root)
    val full = spark.read.option("basePath", tablePath)
      .parquet(tablePath).schema
    def partsOf(p: Path): Seq[String] =
      DeltaWriter.relativize(root, p).split('/').dropRight(1).toSeq.flatMap { seg =>
        val i = seg.indexOf('=')
        if (i > 0) Some(seg.substring(0, i)) else None
      }
    // EVERY file must sit in the declared layout — validating only one
    // file would let a stray root-level (or differently-keyed) parquet
    // register with silently-null partition values, its rows invisible to
    // every partition-filtered query
    val misplaced = all.filter(p => partsOf(p) != partitionBy)
    require(misplaced.isEmpty,
      s"declared partition columns [${partitionBy.mkString(",")}] do not match " +
        s"the directory layout of ${misplaced.size} file(s) in $tablePath " +
        s"(e.g. ${misplaced.take(2).map(DeltaWriter.relativize(root, _)).mkString(", ")})")
    val dataSchema = StructType(full.filterNot(f => partitionBy.contains(f.name)))

    // one distributed pass for per-file stats — same plane as the writer
    val statsByPath: Map[String, ObjectNode] =
      DeltaWriter.collectFileStats(spark, all.map(_.toString), dataSchema)

    val adds = all.map { p =>
      val rel = DeltaWriter.relativize(root, p)
      val st = fs.getFileStatus(p)
      DeltaCommit.addLine(DeltaAddFile(DeltaWriter.encodePath(rel),
        DeltaWriter.partitionValuesOf(rel, partitionBy), st.getLen, st.getModificationTime,
        statsByPath.get(p.toString).map(mapper.writeValueAsString)))
    }
    DeltaCommit.create(spark, tablePath, DeltaCommit.Txn(None, "CONVERT",
      Seq("partitionBy" -> partitionBy.mkString(","), "numFiles" -> all.size.toLong),
      protocol = Some(DeltaProtocol(1, 2)),
      metadata = Some(DeltaMetadata(UUID.randomUUID().toString, full.json, partitionBy, Map.empty)),
      actions = adds))
  }

  /** Expired-log cleanup (`delta.logRetentionDuration`, default 30 days —
    * production Delta's metadata retention): deletes commit JSONs and
    * checkpoint files that are BOTH strictly below the newest checkpoint
    * version AND older than the retention. Replay never needs them (a
    * snapshot starts from the newest checkpoint at-or-below its target),
    * and the readers fail loudly afterward where they must: time travel
    * into the retired range has no reachable state, and the CDF reader's
    * range-contiguity check refuses a feed with retired versions.
    * Runs automatically after every checkpoint write unless
    * `delta.enableExpiredLogCleanup=false` — with the 30-day default
    * nothing young is ever touched. v2 checkpoint sidecar files are left
    * to [[vacuum]]-style storage hygiene (deleting a retired MANIFEST is
    * what retires the checkpoint; its sidecars become unreferenced bytes,
    * never wrong reads).
    * @return number of log files deleted */
  def cleanupMetadata(spark: SparkSession, tablePath: String): Long =
    cleanupMetadata(spark, tablePath,
      DeltaLog.metadataSnapshot(spark, tablePath).metadata.configuration)

  private[delta] def cleanupMetadata(
      spark: SparkSession, tablePath: String,
      configuration: Map[String, String]): Long = {
    val (commits, checkpoints) = DeltaLog.listLog(spark, tablePath)
    if (checkpoints.isEmpty) return 0L
    val retentionMs = parseRetention(
      configuration.getOrElse("delta.logRetentionDuration", "interval 30 days"))
    val newestCp = checkpoints.map(_._1).max
    val cutoff = System.currentTimeMillis() - retentionMs
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    var deleted = 0L
    commits.foreach { case (v, st) =>
      if (v < newestCp && st.getModificationTime < cutoff)
        if (fs.delete(st.getPath, false)) {
          deleted += 1
          // the commit's advisory checksum retires with it
          fs.delete(DeltaChecksum.crcPath(tablePath, v), false)
        }
    }
    checkpoints.foreach { case (v, sts) =>
      if (v < newestCp) sts.foreach { st =>
        if (st.getModificationTime < cutoff)
          if (fs.delete(st.getPath, false)) deleted += 1
      }
    }
    deleted
  }

  /** `delta.logRetentionDuration` parser: the `interval N <unit>` subset
    * production tables carry (weeks/days/hours/minutes). */
  private[delta] def parseRetention(s: String): Long = {
    val m = java.util.regex.Pattern
      .compile("""(?i)^\s*interval\s+(\d+)\s+(week|day|hour|minute)s?\s*$""")
      .matcher(s)
    require(m.matches(),
      s"cannot parse retention duration '$s' (expected: interval N weeks|days|hours|minutes)")
    val n = m.group(1).toLong
    m.group(2).toLowerCase(java.util.Locale.ROOT) match {
      case "week" => n * 7 * 24 * 3600 * 1000
      case "day" => n * 24 * 3600 * 1000
      case "hour" => n * 3600 * 1000
      case "minute" => n * 60 * 1000
    }
  }

  /** Live distinct partitionValues maps (PHYSICAL-name keys on mapped
    * tables) with the snapshot they came from — ONE implementation for
    * both SHOW PARTITIONS surfaces (SQL command + this API): a
    * distributed distinct over the winners frame on job-plane tables
    * (O(partitions) driver heap), the in-memory group on small ones. */
  private[delta] def distinctPartitionValues(
      spark: SparkSession, tablePath: String): (DeltaSnapshot, Seq[Map[String, String]]) = {
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath, withDvAdds = false)
    // unpartitioned: let the caller's "not partitioned" require fire
    // instead of running a pointless distributed agg
    if (snap.partitionSchema.isEmpty) return (snap, Nil)
    val pvs = deferred match {
      case Some(d) => framePartitionValues(d)
      case None => snap.files.map(_.partitionValues).distinct
    }
    (snap, pvs)
  }

  /** `SHOW PARTITIONS`: the live distinct partition tuples, from the
    * snapshot's add actions — metadata-plane, no scan. */
  def showPartitions(spark: SparkSession, tablePath: String): DataFrame = {
    val (snap, pvs) = distinctPartitionValues(spark, tablePath)
    require(snap.partitionColumns.nonEmpty, s"$tablePath is not partitioned")
    val schema = StructType(snap.partitionColumns.map(c =>
      StructField(c, StringType, nullable = true)))
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      pvs.map(pv =>
        // physical-name keys on column-mapped tables
        Row.fromSeq(snap.partitionColumns.map(c =>
          pv.getOrElse(snap.metadata.physicalOf(c), null)))): _*)
    spark.createDataFrame(rows, schema)
      .orderBy(snap.partitionColumns.map(col): _*)
  }

  /** `FSCK REPAIR TABLE`: drop `add` entries whose physical files are
    * gone (storage incident, manual deletion, botched external vacuum) so
    * the table becomes readable again — delta-rs ships this as
    * FileSystemCheck. The repair is a normal commit (removes with
    * `dataChange=true`, retried through the standard conflict loop), so
    * history and CDF consumers see it; `dryRun` only reports.
    * Existence on job-plane tables = membership in ONE staged recursive
    * listing anti-joined against the adds frame (O(missing) driver heap;
    * outside-root "p"-form DV blobs keep a per-file probe — they are
    * never in the table listing); small tables keep per-file probes.
    * @return the relative paths of missing files (removed unless dryRun) */
  def fsck(spark: SparkSession, tablePath: String, dryRun: Boolean = false): Seq[String] = {
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath, withDvAdds = false)
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    // a file is unreadable when its DATA file OR its deletion-vector blob
    // is gone — the DV is load-bearing (the scan must anti-filter through
    // it; restore() probes the same way)
    val missing: Seq[String] = deferred match {
      case None =>
        snap.files.filterNot { f =>
          fs.exists(new Path(tablePath, decodeRel(f.path))) &&
            f.deletionVector.forall(d =>
              d.storageType == "i" || fs.exists(d.absolutePath(tablePath)))
        }.map(_.path)
      case Some(d) => d.addsFrame() match {
        case None => Nil
        case Some(fr) =>
          import spark.implicits._
          val (listingOpt, cleanup) = stagedListing(spark, tablePath, outsideLog)
          try {
            // QUALIFIED root for the join keys (a relative tablePath must
            // not turn "every key mismatches" into "remove every add");
            // EXTERNAL paths — clone adds, "p"-form DVs, absolute by
            // their OWN form and possibly another filesystem — are never
            // in this table's listing, so they keep a per-file probe with
            // their scheme preserved (a stripped cross-bucket reference
            // would probe the wrong store, and fsck(dryRun=false) would
            // then remove the clone's entire live set).
            val qual = qualifiedRootPath(spark, tablePath)
            val dataKey = udf((rel: String) =>
              new Path(qual, decodeRel(rel)).toUri.getPath)
            val dataExt = udf((rel: String) => isExternalAddPath(rel))
            val dataFull = udf((rel: String) => decodeRel(rel))
            val dvKey = udf((st: String, p: String) =>
              if (st == null || st == "i") null
              else DvDescriptor(st, p, None, 0, 0L).absolutePath(qual).toUri.getPath)
            val withAbs = fr.select(col("path"),
              dataKey(col("path")).as("dataKey"),
              dataExt(col("path")).as("dataExt"),
              dataFull(col("path")).as("dataFull"),
              dvKey(col("deletionVector.storageType"),
                col("deletionVector.pathOrInlineDv")).as("dvKey"),
              (col("deletionVector.storageType") === "p").as("dvExt"),
              col("deletionVector.pathOrInlineDv").as("dvRaw"))
            val listing = listingOpt.map(_.select(col("path").as("lp")))
              .getOrElse(Seq.empty[String].toDF("lp"))
            val conf = spark.sessionState.newHadoopConf()
            val dataInRoot = withAbs.filter(!col("dataExt"))
            val dataMissing = dataInRoot
              .join(listing, dataInRoot("dataKey") === listing("lp"), "left_anti")
              .select(col("path"))
            val dataOutside = withAbs.filter(col("dataExt"))
              .select(col("path"), col("dataFull")).collect()
              .filterNot(r => probeExists(fs, conf, new Path(r.getString(1))))
              .map(_.getString(0))
            val dvInRoot = withAbs.filter(
              col("dvKey").isNotNull && !coalesce(col("dvExt"), lit(false)))
            val dvMissing = dvInRoot
              .join(listing, dvInRoot("dvKey") === listing("lp"), "left_anti")
              .select(col("path"))
            val dvOutside = withAbs
              .filter(coalesce(col("dvExt"), lit(false)))
              .select(col("path"), col("dvRaw")).collect()
              .filterNot(r => probeExists(fs, conf, new Path(r.getString(1))))
              .map(_.getString(0))
            (dataMissing.union(dvMissing).distinct()
              .collect().map(_.getString(0)).toSeq ++
              dataOutside ++ dvOutside).distinct.sorted
          } finally cleanup()
      }
    }
    if (dryRun || missing.isEmpty) return missing.distinct.sorted
    snap.assertWritable("FSCK")
    snap.assertRemovable("FSCK")
    DeltaCommit.run(spark, tablePath, "FSCK") {
      // per attempt: which of the missing adds are STILL live — a pruned
      // path lookup on the deferred plane, never a full re-materialization
      val (current, curDef) = DeltaLog.scanSnapshot(spark, tablePath, withDvAdds = false)
      val missingSet = missing.toSet
      val still = curDef match {
        case Some(d) => d.collectByPath(missingSet.contains).map(_.path).toSet
        case None => current.files.map(_.path).toSet.intersect(missingSet)
      }
      if (still.isEmpty) Left(current.version)
      else Right(DeltaCommit.Txn(Some(current), "FSCK",
        parameters = Seq("numRemovedFiles" -> still.size.toLong),
        actions = still.toSeq.sorted.map(DeltaCommit.removeLine(_))))
    }
    missing
  }

  /** Commit history (newest first): version, timestamp, operation,
    * engine. The timestamp is [[DeltaLog.commitTimeOf]]'s, the one time
    * travel resolves against. */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val (commits, _) = DeltaLog.listLog(spark, tablePath)
    val fs = DeltaLog.logFs(spark, tablePath)
    val commitTime = DeltaLog.commitTimeOf(spark, tablePath, commits)
    val rows = commits.map { case (version, status) =>
      val ci = DeltaLog.readCommit(fs, status)(
        _.collectFirst { case n if n.has("commitInfo") => n.get("commitInfo") })
      def field(k: String)(f: JsonNode => String): String =
        ci.flatMap(c => Option(c.get(k))).map(f).getOrElse("")
      Row(
        version,
        commitTime(status),
        field("operation")(_.asText()),
        field("engineInfo")(_.asText()),
        field("operationParameters")(_.toString),
        field("operationMetrics")(_.toString))
    }.sortBy(-_.getLong(0))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), historySchema)
  }
}
