package graft.sources.delta

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Delta Lake transaction-log model + replay (protocol reader v1).
  *
  * The reference (milenkovicm/ballista_delta) consumes exactly this protocol
  * surface through delta-rs: JSON commits carrying `commitInfo` / `protocol`
  * / `metaData` / `add` / `remove` actions, hive-partitioned parquet data
  * files that do NOT contain the partition column, and per-file `stats`
  * (reference fixture: `data/people_countries_delta_dask/_delta_log/
  * 00000000000000000000.json:1-6`). This is a from-scratch Spark-side
  * re-implementation of the published Delta protocol — not a port of
  * delta-rs: replay is a single pass over (checkpoint ∪ JSON deltas) with
  * last-metaData-wins and add/remove file-set semantics.
  */
final case class DeltaProtocol(
    minReaderVersion: Int,
    minWriterVersion: Int,
    readerFeatures: Set[String] = Set.empty,
    writerFeatures: Set[String] = Set.empty) {

  /** The capabilities a LEGACY `minWriterVersion` implies (Delta spec's
    * version→feature table). An upgrade to table features (3, 7) MUST
    * carry all of these explicitly — dropping one (e.g. changeDataFeed on
    * a CDF-enabled table) makes spec-conforming foreign writers commit
    * without honoring it, silently corrupting the table. A protocol
    * ALREADY at table features implies nothing beyond its explicit list
    * (version 7 is not "everything" — treating it so would pollute the
    * table with features it never had). */
  def impliedWriterFeatures: Set[String] =
    if (minWriterVersion >= 7) writerFeatures
    else {
      val v = minWriterVersion
      writerFeatures ++ Set("appendOnly", "invariants") ++
        (if (v >= 3) Set("checkConstraints") else Set.empty) ++
        (if (v >= 4) Set("changeDataFeed", "generatedColumns") else Set.empty) ++
        (if (v >= 5) Set("columnMapping") else Set.empty) ++
        (if (v >= 6) Set("identityColumns") else Set.empty)
    }

  /** Legacy reader capabilities (reader v2 = column mapping; v3 implies
    * only its explicit feature list). */
  def impliedReaderFeatures: Set[String] =
    if (minReaderVersion >= 3) readerFeatures
    else readerFeatures ++ (if (minReaderVersion == 2) Set("columnMapping") else Set.empty)

  /** This protocol upgraded to table features (3, 7) with `newReader` /
    * `newWriter` added and every implied legacy capability preserved. */
  def withTableFeatures(newReader: Set[String], newWriter: Set[String]): DeltaProtocol =
    DeltaProtocol(3, 7,
      impliedReaderFeatures ++ newReader,
      impliedWriterFeatures ++ newReader ++ newWriter)

  /** Add WRITER-ONLY features (rowTracking, domainMetadata): the writer
    * plane upgrades to table features (7) with every implied legacy
    * capability preserved; the READER version stays untouched — a v1
    * reader remains able to scan the table, which is the point of
    * writer-only features. */
  def withWriterFeatures(newWriter: Set[String]): DeltaProtocol =
    if (minWriterVersion >= 7) copy(writerFeatures = writerFeatures ++ newWriter)
    else DeltaProtocol(minReaderVersion, 7, readerFeatures,
      impliedWriterFeatures ++ newWriter)

  /** Add `feature` as a reader+writer capability: table-features protocols
    * list it; legacy protocols upgrade via [[withTableFeatures]]
    * (`mappingActive` carries an active legacy column mapping along). */
  def withReaderWriterFeature(feature: String, mappingActive: Boolean): DeltaProtocol =
    if (minReaderVersion >= 3)
      copy(readerFeatures = readerFeatures + feature,
        writerFeatures = writerFeatures + feature)
    else withTableFeatures(
      Set(feature) ++ (if (mappingActive) Set("columnMapping") else Set.empty),
      Set.empty)
}

final case class DeltaMetadata(
    id: String,
    schemaString: String,
    partitionColumns: Seq[String],
    configuration: Map[String, String]) {
  /** `schemaString` is Spark DataType JSON (Delta lifted Spark's schema
    * serialization — the reference fixture was itself written by Spark 3.4,
    * `_delta_log/…0.json:1` engineInfo). */
  lazy val schema: StructType = DataType.fromJson(schemaString).asInstanceOf[StructType]

  /** Column mapping (reader v2 / table feature `columnMapping`): logical
    * names live in `schemaString`, data files and per-file metadata
    * (stats keys, partitionValues keys) use the per-field
    * `delta.columnMapping.physicalName`. `none` (default) is identity. */
  lazy val columnMappingMode: String =
    configuration.getOrElse("delta.columnMapping.mode", "none")

  /** logical → physical top-level column name (identity when unmapped). */
  lazy val physicalNames: Map[String, String] = schema.fields.map { f =>
    f.name -> (
      if (f.metadata.contains(DeltaMetadata.PhysicalNameKey))
        f.metadata.getString(DeltaMetadata.PhysicalNameKey)
      else f.name)
  }.toMap

  def physicalOf(logical: String): String = physicalNames.getOrElse(logical, logical)

  /** True when any mapping entry differs from identity. */
  lazy val hasColumnMapping: Boolean = physicalNames.exists { case (l, p) => l != p }
}

object DeltaMetadata {
  val ColumnIdKey = "delta.columnMapping.id"
  val PhysicalNameKey = "delta.columnMapping.physicalName"
  val ModeKey = "delta.columnMapping.mode"
  val MaxColumnIdKey = "delta.columnMapping.maxColumnId"

  /** Non-identity physical names of NESTED fields, keyed by dotted LOGICAL
    * path using the delta stats convention (`s.x`, `a.element.y`,
    * `m.key.k` / `m.value.v`); value = the physical SEGMENT name. Empty
    * for tables that map only top-level columns (everything this engine's
    * own producer creates). */
  def nestedPhysicalPaths(schema: StructType): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    def walkDt(path: String, dt: DataType): Unit = dt match {
      case s: StructType => s.fields.foreach { f =>
        val key = s"$path.${f.name}"
        if (f.metadata.contains(PhysicalNameKey)) {
          val phys = f.metadata.getString(PhysicalNameKey)
          if (phys != f.name) b += key -> phys
        }
        walkDt(key, f.dataType)
      }
      case a: org.apache.spark.sql.types.ArrayType =>
        walkDt(s"$path.element", a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        walkDt(s"$path.key", m.keyType); walkDt(s"$path.value", m.valueType)
      case _ => ()
    }
    schema.fields.foreach(f => walkDt(f.name, f.dataType))
    b.result()
  }

  /** Column-mapping field ids of NESTED struct fields, keyed by dotted
    * LOGICAL path (same convention as [[nestedPhysicalPaths]]). Array
    * elements / map entries carry no ids themselves (parquet ids attach to
    * named fields only); struct fields INSIDE them do and are walked. */
  def nestedFieldIds(schema: StructType): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    def walkDt(path: String, dt: DataType): Unit = dt match {
      case s: StructType => s.fields.foreach { f =>
        val key = s"$path.${f.name}"
        if (f.metadata.contains(ColumnIdKey))
          b += key -> f.metadata.getLong(ColumnIdKey)
        walkDt(key, f.dataType)
      }
      case a: org.apache.spark.sql.types.ArrayType =>
        walkDt(s"$path.element", a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        walkDt(s"$path.key", m.keyType); walkDt(s"$path.value", m.valueType)
      case _ => ()
    }
    schema.fields.foreach(f => walkDt(f.name, f.dataType))
    b.result()
  }
}

final case class DeltaAddFile(
    path: String,
    partitionValues: Map[String, String],
    size: Long,
    modificationTime: Long,
    stats: Option[String],
    deletionVector: Option[DvDescriptor] = None,
    /** Row tracking: first row id of this file (fresh id = baseRowId +
      * row position); None on tables that do not maintain row tracking. */
    baseRowId: Option[Long] = None,
    /** Row tracking: commit version dating rows this file does not carry
      * a materialized row commit version for. */
    defaultRowCommitVersion: Option[Long] = None,
    /** Writer-private provenance (the protocol's `add.tags` plane):
      * clustering rewrites stamp `ZCUBE_ID`/`ZCUBE_ZORDER_BY` here so a
      * later OPTIMIZE can tell already-clustered files from new ones —
      * the incremental-clustering signal. Foreign tags replay and survive
      * checkpoints untouched; empty = the add carried none. */
    tags: Map[String, String] = Map.empty)

final case class DeltaSnapshot(
    tablePath: String,
    version: Long,
    protocol: DeltaProtocol,
    metadata: DeltaMetadata,
    files: Seq[DeltaAddFile],
    /** Latest `txn` (SetTransaction) version per application id — the
      * protocol's idempotent-write primitive: a writer that tags commits
      * with (appId, version) can ask "did my version-N batch already
      * commit?" and skip the redelivery. Streaming sinks key exactly-once
      * on this (appId = query id, version = batchId). */
    transactions: Map[String, Long] = Map.empty,
    /** Live `domainMetadata` actions (domain → configuration string) —
      * the protocol's system-scoped key-value plane: last emission per
      * domain wins, `removed=true` tombstones drop the domain. Row
      * tracking keeps its id high water mark here
      * (`delta.rowTracking` → `{"rowIdHighWaterMark":N}`); foreign
      * engines park clustering state etc. — ALL domains replay and
      * survive checkpoints, whether or not this engine understands
      * them (the domainMetadata writer feature's preservation
      * contract). */
    domainMetadata: Map[String, String] = Map.empty) {
  def schema: StructType = metadata.schema
  def partitionColumns: Seq[String] = metadata.partitionColumns
  /** Partition columns are injected from `partitionValues`, never read from
    * parquet (verified absent from the reference fixture's footers). */
  def partitionSchema: StructType =
    StructType(partitionColumns.map(c => schema(c)))
  def dataSchema: StructType =
    StructType(schema.filterNot(f => partitionColumns.contains(f.name)))
  /** What the parquet data files actually store on a column-mapped table:
    * `dataSchema` with every field renamed to its physical name. Identity
    * when mapping is off. */
  def physicalDataSchema: StructType =
    if (!metadata.hasColumnMapping) dataSchema
    else StructType(dataSchema.fields.map(f => f.copy(name = metadata.physicalOf(f.name))))

  /** Writer-side protocol gate (the mirror of the reader gate in
    * [[DeltaLog.snapshot]]): a spec-conforming writer must NOT commit to a
    * table whose protocol demands writer capabilities it does not
    * implement — appending to a `rowTracking` table without maintaining
    * row ids, or to a `domainMetadata` table without preserving domains,
    * corrupts invariants other engines rely on. Legacy writer versions
    * (≤ 6) imply only capabilities this engine has; version 7 is gated on
    * its explicit feature list. Legacy column-level `delta.invariants`
    * expressions (pre-CHECK-constraint surface) are likewise refused
    * rather than silently ignored. */
  /** The PROTOCOL half of the writer gate: every listed writer capability
    * is one this engine knows. This is what the spec's vacuumProtocolCheck
    * asks of VACUUM — an unknown writer feature may reference physical
    * files the live-set walk cannot see, so deletion must refuse; but the
    * row-validation concerns below (legacy invariants expressions) are
    * irrelevant to deleting unreferenced files, and folding them in would
    * refuse cleanup on tables that are readable-but-not-row-writable. */
  def assertKnownWriterFeatures(op: String): Unit = {
    val proto = protocol
    if (proto.minWriterVersion > 7) throw new UnsupportedOperationException(
      s"$op on $tablePath requires Delta writer version ${proto.minWriterVersion}; " +
        "this engine implements writer versions 1-7")
    if (proto.minWriterVersion >= 7) {
      val unsupported = proto.writerFeatures -- DeltaLog.SupportedWriterFeatures
      if (unsupported.nonEmpty) throw new UnsupportedOperationException(
        s"$op on $tablePath requires unsupported writer feature(s) " +
          s"${unsupported.toSeq.sorted.mkString(", ")}; supported: " +
          DeltaLog.SupportedWriterFeatures.toSeq.sorted.mkString(", "))
    }
  }

  def assertWritable(op: String): Unit = {
    assertKnownWriterFeatures(op)
    def hasInvariants(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.exists(f =>
        f.metadata.contains("delta.invariants") || hasInvariants(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasInvariants(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasInvariants(m.keyType) || hasInvariants(m.valueType)
      case _ => false
    }
    if (hasInvariants(schema)) throw new UnsupportedOperationException(
      s"$op on $tablePath: schema carries legacy delta.invariants " +
        "expressions this engine does not enforce; writing without " +
        "validating them would violate the invariants feature")
  }

  /** Spec conformance for `delta.appendOnly=true` (the `appendOnly` writer
    * capability, legacy writer v2): such a table accepts only adds —
    * every operation that would commit a data-changing remove
    * (DELETE/UPDATE/MERGE rewrite, DV delete, Overwrite, replaceWhere,
    * RESTORE) must refuse upfront. Compaction's `dataChange=false`
    * removes (OPTIMIZE/ZORDER) stay legal. */
  def assertRemovable(op: String): Unit =
    if (metadata.configuration.get("delta.appendOnly").exists(_.trim.equalsIgnoreCase("true")))
      throw new UnsupportedOperationException(
        s"$op on $tablePath: table is append-only (delta.appendOnly=true); " +
          "data-changing removes are forbidden")
}

/** The frame plane's live-file set ([[DeltaLog.scanSnapshot]], and the
  * eager [[DeltaLog.snapshot]]'s `collect(None)`): the add
  * frame of one resolved (checkpoint, tail-commits) replay, kept
  * DISTRIBUTED until a consumer materializes it. Pruned collects ship the
  * scan's predicates executor-side ([[ScanPruner]] — the same code the
  * driver-side index evaluates), so a selective query over a 10M-file
  * table lands O(survivors) descriptors on the driver. The replay inputs
  * are captured at snapshot time (log files are immutable), so repeated
  * `listFiles` calls see one consistent version even while writers
  * append.
  *
  * The winners frame is built EAGERLY (so the v2 checkpoint integrity
  * gates — declared-version mismatch, sidecars missing the `add` column —
  * fire at snapshot construction, not mid-query; r17 ADVICE) and PERSISTED: one scan plans through the frame
  * up to three times (sizeInBytes for CBO, dvAdds, the pruned listFiles),
  * and back-to-back queries at one version share the instance through
  * [[SnapshotCache]] — without the persist each consumer
  * re-parses the whole log from scratch (r17 verdict #3). */
final class DeferredDeltaFiles private[delta] (
    spark: SparkSession,
    tablePath: String,
    /** Pinned replay version — the cache key, and the version the
      * FileNotFound recovery below re-resolves. */
    private[delta] val version: Long,
    cp0: Option[(Long, Seq[FileStatus])],
    tailCommits0: Seq[(Long, FileStatus)]) {

  import org.apache.spark.sql.functions.{col, udf}

  // Replay inputs are rebindable ONLY for the FileNotFound recovery:
  // checkpoint retention / log cleanup may retire a captured commit or
  // checkpoint part between snapshot time and a (lazy) materialization —
  // the eager path, which collected at snapshot time, never saw that
  // window (r17 ADVICE). Recovery re-resolves the replay at the PINNED
  // version (a newer checkpoint covering it replaces the retired inputs)
  // and rebuilds the frame once; genuinely unreachable history still
  // fails loudly.
  @volatile private var inputs: (Option[(Long, Seq[FileStatus])], Seq[(Long, FileStatus)]) =
    (cp0, tailCommits0)

  private def buildFrame(): Option[DataFrame] = {
    val (c, t) = inputs
    val f = DeltaStateReconstruction.addWinnersFrame(spark, tablePath, c, t)
    // DISK_ONLY, deliberately: the win over re-planning is skipping the
    // O(N) JSON/checkpoint parse and the last-wins shuffle — reading
    // serialized rows off local disk preserves ~all of it, while a
    // memory-cached 10M-row metadata frame (~GBs) would compete with the
    // query's own working set for executor storage (and, in local mode,
    // read as phantom driver heap in the scale probes)
    f.foreach(_.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    f
  }

  @volatile private var frameRef: Option[DataFrame] = buildFrame()

  /** Does a link of `e`'s cause chain satisfy `p`? At most 20 links; a
    * self-cause ends the chain. */
  private def causeChainHas(e: Throwable)(p: Throwable => Boolean): Boolean =
    Iterator.iterate(e)(c => if (c.getCause eq c) null else c.getCause)
      .takeWhile(_ != null).take(20).exists(p)

  private def isFileNotFound(e: Throwable): Boolean = causeChainHas(e) { c =>
    c.isInstanceOf[java.io.FileNotFoundException] ||
      (c.getMessage != null && c.getMessage.contains("FileNotFoundException"))
  }

  private def isNotSerializable(e: Throwable): Boolean = causeChainHas(e) { c =>
    c.isInstanceOf[java.io.NotSerializableException] ||
      (c.getMessage != null && c.getMessage.toLowerCase.contains("not serializable"))
  }

  /** Re-resolve the replay at the pinned version and rebuild the frame —
    * the FileNotFound recovery (retired replay input: checkpoint retention
    * / log cleanup between snapshot time and a lazy materialization). */
  private def recoverFrame(): Unit = synchronized {
    frameRef.foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Exception => () }
    }
    val (_, c, t) = DeltaLog.resolveReplay(spark, tablePath, Some(version), None)
    inputs = (c, t)
    frameRef = buildFrame()
  }

  /** Run `f` over the frame; on a FileNotFound (retired replay input),
    * rebuild from a re-resolved replay at the pinned version and retry
    * ONCE. */
  private def withFrame[T](f: Option[DataFrame] => T): T =
    try f(frameRef)
    catch { case e: Throwable if isFileNotFound(e) =>
      recoverFrame()
      f(frameRef)
    }

  /** The one pruned-collect implementation: executor-side [[ScanPruner]]
    * with a driver-side fallback when the pushed filter expressions do not
    * java-serialize (a failure mode the eager driver-plane evaluation
    * never had — r17 ADVICE; the fallback pays the O(files) collect the
    * eager path always paid, correct just slower). */
  private def prunedCollect(
      frame: Option[DataFrame], pruner: Option[ScanPruner]): Seq[DeltaAddFile] =
    pruner match {
      case None => DeltaStateReconstruction.collectLive(frame, None)
      case Some(p) =>
        try DeltaStateReconstruction.collectLive(frame, pruner)
        catch { case e: Throwable if isNotSerializable(e) =>
          DeltaStateReconstruction.collectLive(frame, None)
            .filter(f => p.keep(f.partitionValues, f.stats))
        }
    }

  /** Pruned materialization: executor-side partition + stats pruning;
    * only survivors reach the driver. */
  def collect(pruner: Option[ScanPruner]): Seq[DeltaAddFile] =
    withFrame(fr => prunedCollect(fr, pruner))

  /** Live adds whose (table-relative, URL-encoded) `path` satisfies
    * `keep` — the DML/MERGE touched-file lookup: the find scan resolves
    * matching rows to absolute file paths, and this materializes exactly
    * those descriptors, O(touched) driver heap instead of the full live
    * set (r17 verdict #2). `keep` is shipped in the task closure (plain
    * Scala data only). */
  def collectByPath(keep: String => Boolean): Seq[DeltaAddFile] =
    withFrame { fr =>
      val keepUdf = udf(keep)
      DeltaStateReconstruction.collectLive(
        fr.map(_.filter(keepUdf(col("path")))), pruner = None)
    }

  /** Live adds surviving an executor-side METADATA predicate (over the
    * winners-frame columns: size, tags, deletionVector, stats,
    * partitionValues) plus optional [[ScanPruner]] partition pruning —
    * OPTIMIZE's candidate search: stable/oversized files never reach the
    * driver (r17 verdict #2). */
  def collectCandidates(
      metaFilter: org.apache.spark.sql.Column,
      pruner: Option[ScanPruner]): Seq[DeltaAddFile] =
    withFrame(fr => prunedCollect(fr.map(_.filter(metaFilter)), pruner))

  /** One distributed aggregation over the frame (caller shapes the plan);
    * used for O(cubes)-sized rollups like clustered-OPTIMIZE cube sizes. */
  private[delta] def aggregate[T](f: DataFrame => T, empty: T): T =
    withFrame(fr => fr.map(f).getOrElse(empty))

  /** The DV-CARRYING adds only (the scan format's dvByPath input): a
    * distributed deletionVector-not-null filter over the SHARED frame —
    * O(DV'd files) driver heap, and no second checkpoint/sidecar
    * construction beside the one listFiles will reuse. MEMOIZED like
    * [[all]]: the instance is per-(table, version) and cached, so a
    * second scan at one version must not re-run the DV job. */
  lazy val dvAdds: Seq[DeltaAddFile] =
    withFrame { fr =>
      DeltaStateReconstruction.collectLive(
        fr.map(_.filter(col("deletionVector").isNotNull)), pruner = None)
    }

  /** The raw winners frame (the 9 add columns, [[DeltaStateReconstruction
    * .winnersFrame]] order) — for consumers that JOIN two versions' live
    * sets (RESTORE's distributed diff) rather than materialize one. Like
    * [[checkpointAdds]], the returned frame escapes the FileNotFound
    * retry wrapper; a retired replay input surfaces on the consumer's
    * action. None = empty table. */
  private[graft] def addsFrame(): Option[DataFrame] = withFrame(identity)

  /** Every filesystem path the live set references — data files plus
    * on-disk deletion vectors ("u"/"p" forms) — as one distributed frame
    * with three columns:
    *  - `key`: the scheme-stripped path RESOLVED AGAINST THE QUALIFIED
    *    table root ([[DeltaMaintenance.qualifiedRootPath]]) — the join
    *    form matching a recursive listing's resolved statuses (a raw
    *    relative tablePath would otherwise build keys that can never
    *    match, and "not live" is one anti-join away from deleting live
    *    files);
    *  - `full`: the path's OWN form (decoded rel / the "p" descriptor's
    *    absolute URI) — the probe form, scheme preserved;
    *  - `external`: true when the path's own form is absolute (clone
    *    references, "p"-form DVs) — never under the table root, so
    *    listing-membership cannot decide its existence.
    * VACUUM's anti-join side and RESTORE's existence input: a 10M-file
    * table must test "is this listed file live?" executor-side, never
    * against a driver-held Set. The path forms go through
    * [[DeltaMaintenance.decodeRel]] / [[DvDescriptor.absolutePath]] —
    * shared code, shipped in the closure. None = empty table. */
  def livePathsFrame(): Option[DataFrame] = withFrame(_.map { fr =>
    val qual = DeltaMaintenance.qualifiedRootPath(spark, tablePath)
    val dataKey = udf((rel: String) =>
      new org.apache.hadoop.fs.Path(qual, DeltaMaintenance.decodeRel(rel))
        .toUri.getPath)
    val dataFull = udf((rel: String) => DeltaMaintenance.decodeRel(rel))
    val dataExt = udf((rel: String) => DeltaMaintenance.isExternalAddPath(rel))
    val dvKey = udf((storageType: String, pathOrInlineDv: String) =>
      DvDescriptor(storageType, pathOrInlineDv, None, 0, 0L)
        .absolutePath(qual).toUri.getPath)
    val dvFull = udf((storageType: String, pathOrInlineDv: String) =>
      if (storageType == "p") pathOrInlineDv
      else DvDescriptor(storageType, pathOrInlineDv, None, 0, 0L)
        .absolutePath(qual).toString)
    fr.select(dataKey(col("path")).as("key"),
        dataFull(col("path")).as("full"),
        dataExt(col("path")).as("external"))
      .unionByName(
        fr.filter(col("deletionVector").isNotNull &&
          col("deletionVector.storageType").isin("u", "p"))
          .select(
            dvKey(col("deletionVector.storageType"),
              col("deletionVector.pathOrInlineDv")).as("key"),
            dvFull(col("deletionVector.storageType"),
              col("deletionVector.pathOrInlineDv")).as("full"),
            (col("deletionVector.storageType") === "p").as("external")))
  })

  /** The winners frame projected as checkpoint-shaped `add` structs
    * (field order = [[DeltaWriter.writeCheckpoint]]'s add schema) — the
    * checkpoint writer's DISTRIBUTED add plane: a 10M-file table's
    * interval checkpoint must stream its adds executor-side, never
    * collect them to the driver first. None = empty table. */
  def checkpointAdds(): Option[DataFrame] = withFrame(_.map { fr =>
    import org.apache.spark.sql.functions.{lit, struct}
    fr.select(struct(
      col("path").as("path"),
      col("partitionValues").as("partitionValues"),
      col("size").as("size"),
      col("modificationTime").as("modificationTime"),
      lit(true).as("dataChange"),
      col("stats").as("stats"),
      col("deletionVector").as("deletionVector"),
      col("baseRowId").as("baseRowId"),
      col("defaultRowCommitVersion").as("defaultRowCommitVersion"),
      col("tags").as("tags")).as("add"))
  })

  /** The unchanged full-table path (cached once materialized — an
    * unfiltered scan re-planned twice should not pay the job twice). */
  lazy val all: Seq[DeltaAddFile] = collect(None)

  // ---- streaming initial-snapshot pacing plane ----
  //
  // A rate-limited fresh stream slices this version's live set by rank in
  // path order ([[DeltaStreamingSource]]); on the eager plane that rank
  // comes from a driver-held sorted list — O(files) heap per stream. Here
  // it is served by [[OrderedSnapshotIndex]], built ONCE from the shared
  // winners frame (memoized: the walk re-enters every trigger) and read
  // through small distributed jobs — O(batch) driver heap per trigger.
  @volatile private var orderedRef: Option[OrderedSnapshotIndex] = None

  private def orderedIndex(): OrderedSnapshotIndex = synchronized {
    orderedRef.getOrElse {
      // fileCount (memoized distributed agg) sizes the exact bucket
      // layout — the build's partition placement is then arithmetic on
      // idx, no sampling pass over the 10M-row frame
      val built = withFrame(fr => OrderedSnapshotIndex.build(spark, fr, fileCount))
      orderedRef = Some(built)
      built
    }
  }

  /** Like [[withFrame]], for jobs over the derived ordered index: a
    * FileNotFound (persisted blocks evicted AND the underlying replay
    * input retired) recovers the winners frame at the pinned version and
    * rebuilds the index once. */
  private def withOrdered[T](f: OrderedSnapshotIndex => T): T =
    try f(orderedIndex())
    catch { case e: Throwable if isFileNotFound(e) =>
      synchronized { orderedRef.foreach(_.unpersist()); orderedRef = None }
      recoverFrame()
      f(orderedIndex())
    }

  /** Live-file count of the pacing plane (the drain's end condition). */
  def orderedCount: Long = withOrdered(_.count)

  /** Admission walk over the path-ordered live set: largest end index
    * whose slice [from, end) fits the caps, at least one file admitted. */
  def orderedAdmit(
      from: Long, maxFiles: Option[Long], maxBytes: Option[Long]): Long =
    withOrdered(_.admit(from, maxFiles, maxBytes))

  /** Files [i, j) in path order — one micro-batch of descriptors. */
  def orderedSlice(i: Long, j: Long): Seq[DeltaAddFile] =
    withOrdered(_.slice(i, j))

  /** Bytes + count in ONE distributed agg — O(1) driver heap, and one log
    * parse serves both [[DeltaFileIndex.sizeInBytes]] (join-strategy
    * estimates) and the count surface. */
  private lazy val sizeStats: (Long, Long) = withFrame {
    case None => (0L, 0L)
    case Some(df) =>
      import org.apache.spark.sql.functions.{count, lit, sum}
      val r = df.agg(sum(col("size")), count(lit(1))).collect()(0)
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Total live bytes. */
  def totalBytes: Long = sizeStats._1

  /** Live-file count. */
  def fileCount: Long = sizeStats._2

  /** Drop the persisted frame and any derived ordered index (cache
    * eviction / test hygiene). `orderedRef` is CLEARED, not just
    * unpersisted: a stream still mid-drain after cache eviction would
    * otherwise keep issuing admit/slice jobs against the unpersisted
    * plan — a silent full log re-parse per trigger where one
    * rebuild+re-persist (the next [[withOrdered]] call) restores the
    * O(batch) trigger cost. */
  private[delta] def unpersist(): Unit = synchronized {
    orderedRef.foreach(_.unpersist())
    orderedRef = None
    frameRef.foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Exception => () }
    }
  }

  // SnapshotCache compares sessions by identity: a frame planned against
  // a stopped/replaced session must be rebuilt, never served
  private[delta] def sessionOf: SparkSession = spark
}

object DeltaLog extends Logging {

  private val mapper = new ObjectMapper()

  val LogDirName = "_delta_log"
  private val CommitRe = """(\d{20})\.json""".r
  private val CheckpointRe = """(\d{20})\.checkpoint\.parquet""".r
  private val MultipartCheckpointRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  // v2 checkpoint naming: <version>.checkpoint.<uniqueId>.parquet (one
  // dot-free id segment — multipart's two numeric segments cannot match)
  private val UuidCheckpointRe = """(\d{20})\.checkpoint\.([0-9a-zA-Z-]+)\.parquet""".r

  /** Test seam: physical log reads (commit JSONs opened + checkpoint and
    * sidecar parquet files read) across all [[snapshot]] calls — the
    * checkpoint-cadence audit pins replay cost to
    * ≤ (1 checkpoint + tail JSONs) regardless of history length. */
  private[graft] val replayReads = new java.util.concurrent.atomic.AtomicLong

  /** Test seam: eager [[snapshot]]s served by the frame plane — pins the
    * auto-cutover ROUTING decisions, which result-equality alone cannot
    * observe. */
  private[graft] val jobReplays = new java.util.concurrent.atomic.AtomicLong

  def logDir(tablePath: String): Path = new Path(tablePath, LogDirName)

  /** The one driver-side reader of a commit JSON: streams `status` line
    * by line, one `readTree` per non-blank line, and closes the file when
    * `f` returns. No caller holds a whole commit as one String, and a
    * caller that stops early (the first commitInfo) reads O(line). */
  private[delta] def readCommit[T](fs: FileSystem, status: FileStatus)(
      f: Iterator[JsonNode] => T): T = {
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(status.getPath), StandardCharsets.UTF_8))
    try f(Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .filterNot(_.isBlank).map(line => mapper.readTree(line)))
    finally reader.close()
  }

  /** The commits of versions (fromExclusive, toInclusive] from one log
    * listing, and the versions of that range whose JSON is gone (retired
    * by log cleanup) — each caller decides how a gap fails. */
  private[delta] def commitRange(
      spark: SparkSession, tablePath: String, fromExclusive: Long, toInclusive: Long)
      : (Seq[(Long, FileStatus)], Seq[Long]) = {
    val inRange = listLog(spark, tablePath)._1
      .filter { case (v, _) => v > fromExclusive && v <= toInclusive }
    val present = inRange.map(_._1).toSet
    (inRange, ((fromExclusive + 1) to toInclusive).filterNot(present))
  }

  /** An add/remove action's `dataChange` flag; the spec's default when
    * absent is true. */
  private[delta] def dataChange(action: JsonNode): Boolean =
    !action.has("dataChange") || action.get("dataChange").asBoolean(true)

  private[delta] def logFs(spark: SparkSession, tablePath: String): FileSystem =
    logDir(tablePath).getFileSystem(spark.sessionState.newHadoopConf())

  def isDeltaTable(spark: SparkSession, tablePath: String): Boolean = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // a checkpoint with NO commit JSONs is still a delta table (metadata
    // cleanup may retire every pre-checkpoint commit) — a writer that
    // missed this would restart the log at version 0 over live state
    fs.exists(dir) && fs.listStatus(dir).exists { s =>
      val n = s.getPath.getName
      CommitRe.pattern.matcher(n).matches() ||
        CheckpointRe.pattern.matcher(n).matches() ||
        MultipartCheckpointRe.pattern.matcher(n).matches() ||
        UuidCheckpointRe.pattern.matcher(n).matches()
    }
  }

  /** All commit JSONs and checkpoint parquets in the log, sorted by version. */
  private[delta] def listLog(spark: SparkSession, tablePath: String): (Seq[(Long, FileStatus)], Seq[(Long, Seq[FileStatus])]) = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) throw new IllegalArgumentException(
      s"$tablePath is not a Delta table: no $LogDirName directory")
    val entries = fs.listStatus(dir).toSeq
    val commits = entries.flatMap { s =>
      s.getPath.getName match {
        case CommitRe(v) => Some(v.toLong -> s)
        case _ => None
      }
    }.sortBy(_._1)
    val checkpoints = entries.flatMap { s =>
      s.getPath.getName match {
        case CheckpointRe(v) => Some(v.toLong -> s)
        case MultipartCheckpointRe(v, _, _) => Some(v.toLong -> s)
        case UuidCheckpointRe(v, _) => Some(v.toLong -> s)
        case _ => None
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.getPath.getName)).toSeq.sortBy(_._1)
      // COMPLETENESS gate for classic multipart sets: each part name
      // declares `<i>.<n>`; a writer that crashed mid-publish leaves
      // i ⊂ 1..n, and replaying the partial set would silently drop every
      // live file in the missing parts — the next checkpoint then makes
      // the loss permanent. An incomplete set is treated as ABSENT (the
      // same-version classic/uuid file, if any, still counts): replay
      // falls back to an older checkpoint + JSON deltas, or fails loudly
      // on a cleaned log — never a silently truncated snapshot.
      .map { case (v, files) =>
        val parts = files.flatMap(s => s.getPath.getName match {
          case MultipartCheckpointRe(_, i, n) => Some((s, i.toInt, n.toInt))
          case _ => None
        })
        val complete = parts.isEmpty || {
          val n = parts.head._3
          parts.forall(_._3 == n) && parts.map(_._2).toSet == (1 to n).toSet
        }
        if (complete) (v, files)
        else (v, files.filterNot(parts.map(_._1).toSet))
      }
      .filter(_._2.nonEmpty)
    (commits, checkpoints)
  }

  /** Replay the log into a snapshot at `versionAsOf`/`timestampAsOf` (or
    * latest). Uses the newest complete checkpoint at or below the target
    * version, then applies JSON deltas — so replay cost is O(commits since
    * checkpoint), not O(table history). On the frame plane the files are
    * the cached winners frame's full collect: a second snapshot of an
    * unchanged table at one version re-reads the persisted frame instead of
    * re-running the replay job. */
  def snapshot(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[String] = None): DeltaSnapshot = {
    val (target, cp, tailCommits) =
      resolveReplay(spark, tablePath, versionAsOf, timestampAsOf)
    if (!framePlane(spark, tablePath, cp, tailCommits))
      return driverReplay(spark, tablePath, target, cp, tailCommits)
    jobReplays.incrementAndGet()
    metadataReplay(spark, tablePath, target, cp, tailCommits)
      .copy(files = cachedFrame(spark, tablePath, target, cp, tailCommits).collect(None))
  }

  /** Target version + the replay inputs (newest complete checkpoint at or
    * below the target, JSON deltas after it) — shared by [[snapshot]] and
    * [[scanSnapshot]] so the one log listing serves either plane (and by
    * [[DeferredDeltaFiles]]' FileNotFound recovery, which re-resolves at
    * its pinned version). */
  private[delta] def resolveReplay(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long],
      timestampAsOf: Option[String])
      : (Long, Option[(Long, Seq[FileStatus])], Seq[(Long, FileStatus)]) = {
    val (commits, checkpoints) = listLog(spark, tablePath)
    if (commits.isEmpty && checkpoints.isEmpty)
      throw new IllegalArgumentException(s"$tablePath: empty _delta_log")

    val maxVersion = (commits.map(_._1) ++ checkpoints.map(_._1)).max
    val target: Long = versionAsOf match {
      case Some(v) =>
        require(v <= maxVersion, s"versionAsOf $v > latest version $maxVersion")
        v
      case None => timestampAsOf match {
        case Some(ts) =>
          val cutoff = parseTimestampMillis(ts)
          val commitTime = commitTimeOf(spark, tablePath, commits)
          // checkpoint-only / partially-cleaned logs: the checkpoint file's
          // own mtime stands in for the retired commits' timestamps, so a
          // cutoff after the cleanup boundary still resolves
          val eligible = commits.filter { case (_, st) => commitTime(st) <= cutoff }.map(_._1) ++
            checkpoints.filter(_._2.exists(_.getModificationTime <= cutoff)).map(_._1)
          if (eligible.isEmpty) throw new IllegalArgumentException(
            s"timestampAsOf $ts precedes the earliest commit of $tablePath")
          eligible.max
        case None => maxVersion
      }
    }

    // 1. newest checkpoint at or below target (classic single-file,
    // classic multipart, or v2 UUID-named with checkpointMetadata and
    // optional sidecar file-action files)
    val cp = checkpoints.filter(_._1 <= target).lastOption
    val tailCommits = commits.filter { case (v, _) =>
      v >= cp.map(_._1 + 1).getOrElse(0L) && v <= target
    }
    (target, cp, tailCommits)
  }

  /** Session conf choosing the snapshot plane for [[snapshot]],
    * [[scanSnapshot]] and [[metadataSnapshot]], read per call from the
    * calling session:
    *  - `driver`: the driver-map replay ([[driverReplay]]);
    *  - `frame`: the metadata planes replayed by a Spark job, the live set
    *    a persisted winners frame ([[DeferredDeltaFiles]]);
    *  - `auto` (default): `frame` when the O(1) size estimate passes
    *    [[SnapshotFileCountThresholdKey]], else `driver`. */
  val SnapshotPlaneKey = "spark.graft.delta.snapshotPlane"

  /** Session conf: the live-file count past which `auto` takes the frame
    * plane, the driver replay warns, and a driver state is too big to
    * cache. Default 100000 — production Delta's driver comfort zone is
    * well past this; the cutover fires early by design. */
  val SnapshotFileCountThresholdKey = "spark.graft.delta.snapshotFileCountThreshold"

  private val SnapshotPlanes = Seq("auto", "driver", "frame")

  private def fileCountThreshold(spark: SparkSession): Long =
    spark.conf.get(SnapshotFileCountThresholdKey, "100000").toLong

  /** The one plane decision: true = the frame plane. Under `auto`, `force`
    * (RESTORE's two-sided diff) or the size estimate picks the frame:
    * `_last_checkpoint`'s recorded row count (else checkpoint bytes), plus
    * total tail-commit JSON bytes so a pre-checkpoint bulk load routes
    * distributed too. An add line with stats runs well over 512 B, so
    * bytes/512 over-counts, which only moves the cutover earlier — never
    * silently overloads the driver. */
  private def framePlane(
      spark: SparkSession, tablePath: String,
      cp: Option[(Long, Seq[FileStatus])],
      tailCommits: Seq[(Long, FileStatus)],
      force: Boolean = false): Boolean =
    spark.conf.get(SnapshotPlaneKey, "auto") match {
      case "driver" => false
      case "frame" => true
      case "auto" =>
        val threshold = fileCountThreshold(spark)
        force || cp.exists { case (v, parts) =>
          estimatedCheckpointAdds(spark, tablePath, v, parts) > threshold
        } || tailCommits.iterator.map(_._2.getLen).sum / 512 > threshold
      case other => throw new IllegalArgumentException(
        s"$SnapshotPlaneKey=$other: expected one of ${SnapshotPlanes.mkString(", ")}")
    }

  /** The frame plane's metadata: protocol, metaData, txn and domains
    * replayed by a Spark job — or [[SnapshotCache]]'s, beside the frame,
    * while the replay inputs still fingerprint-match — and gated, `files`
    * empty. The reader gates run here, before any live-set job: an
    * unreadable table (unknown reader feature) fails loudly first. */
  private def metadataReplay(
      spark: SparkSession, tablePath: String, target: Long,
      cp: Option[(Long, Seq[FileStatus])],
      tailCommits: Seq[(Long, FileStatus)]): DeltaSnapshot = {
    val m = SnapshotCache.metadata(tablePath, target,
        SnapshotCache.fingerprint(cp, tailCommits)) {
      val (p, md, txns, doms) = DeltaStateReconstruction.replay(spark, tablePath, cp, tailCommits)
      MetadataState(p, md, txns, doms)
    }
    finishSnapshot(tablePath, target, m.protocol, m.metadata, Nil, m.txns, m.domains)
  }

  /** The frame plane's live set at `target`: [[SnapshotCache]]'s frame
    * when the replay inputs still fingerprint-match, else a new persisted
    * one. */
  private def cachedFrame(
      spark: SparkSession, tablePath: String, target: Long,
      cp: Option[(Long, Seq[FileStatus])],
      tailCommits: Seq[(Long, FileStatus)]): DeferredDeltaFiles =
    SnapshotCache.frame(spark, tablePath, target, SnapshotCache.fingerprint(cp, tailCommits))(
      new DeferredDeltaFiles(spark, tablePath, target, cp, tailCommits))

  /** Mutable accumulator for the driver-plane replay — the same five
    * planes the pre-r21 inline replay kept as locals, factored out so a
    * replay can START from a memoized prior state instead of empty. */
  private final class ReplayAcc {
    var protocol: Option[DeltaProtocol] = None
    var metadata: Option[DeltaMetadata] = None
    val live = mutable.LinkedHashMap.empty[String, DeltaAddFile]
    val txns = mutable.Map.empty[String, Long]
    val domains = mutable.LinkedHashMap.empty[String, String]
  }

  /** Test seams: driver replays served by EXTENDING a cached state vs
    * full rebuilds. */
  private[graft] val driverSnapExtends = new java.util.concurrent.atomic.AtomicLong
  private[graft] val driverSnapBuilds = new java.util.concurrent.atomic.AtomicLong

  /** Driver-plane replay that extends cached state (the shape production
    * delta clients use for SnapshotManagement's incremental update): the
    * newest [[SnapshotCache]] state of the table at or below the target is
    * reused when the overlapping replay inputs still fingerprint-match, and
    * ONLY the newer commits are applied. A lifecycle of V statements pays
    * O(V) total commit reads instead of O(V²), and a checkpoint parquet is
    * read by a Spark job once, when it first appears. Any mismatch
    * (recreated table, cleaned log, foreign checkpoint) falls back to the
    * full rebuild (DriverSnapshotMemoSuite pins scratch-vs-extended
    * equality and every rejection path). */
  private def driverReplay(
      spark: SparkSession,
      tablePath: String,
      target: Long,
      cp: Option[(Long, Seq[FileStatus])],
      tailCommits: Seq[(Long, FileStatus)]): DeltaSnapshot = {
    val firstTail: Long = cp.map(_._1 + 1).getOrElse(0L)
    val reusable = SnapshotCache.driverAtOrBelow(tablePath, target).filter {
      case (version, fp, _) =>
        val prefix = tailCommits.filter(_._1 <= version)
        // the state already folded in everything up to and including any
        // checkpoint at or below its version
        cp.forall(_._1 <= version) &&
          // the current log must list exactly the versions the state
          // consumed in the overlap (no gaps, no extras — a cleaned or
          // recreated log rebuilds) and each must fingerprint-match
          prefix.map(_._1) == (firstTail to version) &&
          prefix.forall { case (_, st) => fp.contains(SnapshotCache.input(st)) } &&
          // zero verified overlap (state exactly at the checkpoint
          // version): accept only a checkpoint among the state's own
          // replay inputs — a foreign/recreated checkpoint must rebuild
          (prefix.nonEmpty || cp.forall(_._2.forall(p => fp.contains(SnapshotCache.input(p)))))
    }
    val acc = new ReplayAcc
    val toApply: Seq[(Long, FileStatus)] = reusable match {
      case Some((version, _, c)) =>
        driverSnapExtends.incrementAndGet()
        acc.protocol = c.protocol
        acc.metadata = c.metadata
        c.adds.foreach(a => acc.live(a.path) = a)
        acc.txns ++= c.txns
        c.domains.foreach { case (d, v) => acc.domains(d) = v }
        tailCommits.filter(_._1 > version)
      case None =>
        driverSnapBuilds.incrementAndGet()
        cp.foreach { case (v, parts) =>
          applyCheckpoint(spark, tablePath, v, parts, acc)
        }
        tailCommits
    }
    if (toApply.nonEmpty) {
      val fs = logFs(spark, tablePath)
      toApply.foreach { case (_, status) => applyCommit(fs, status, acc) }
    }
    val threshold = fileCountThreshold(spark)
    // cache the new state (a pure re-serve stores nothing — identical)
    if ((reusable.isEmpty || toApply.nonEmpty) && acc.live.size <= threshold)
      SnapshotCache.putDriver(tablePath, target, SnapshotCache.fingerprint(cp, tailCommits),
        DriverState(acc.live.values.toVector, acc.txns.toMap, acc.domains.toVector,
          acc.protocol, acc.metadata))
    val snap = finishSnapshot(tablePath, target, acc.protocol, acc.metadata,
      acc.live.values.toSeq, acc.txns.toMap, acc.domains.toMap)
    // Scale guard: this replay ran DRIVER-SIDE — the plane classic delta
    // clients use, comfortable to ~1M live files. The threshold crossing
    // normally routes to the frame plane before this fires (estimate-based
    // — a table that grew past the threshold since its last checkpoint can
    // still land here once, and checkpoints on the cadence re-route it).
    if (acc.live.size > threshold)
      logWarning(
        s"$tablePath snapshot v$target holds ${acc.live.size} live " +
          s"files (> $threshold); driver-side log replay " +
          "degrades past ~1M files — the next checkpoint routes replay to the " +
          "distributed path, and OPTIMIZE shrinks the file count (small files " +
          "are also slowing every scan)")
    snap
  }

  /** Fold one checkpoint (classic single-file, classic multipart, or v2
    * with sidecars) into `acc` — the body is the pre-r21 inline replay,
    * factored out so a memoized replay can skip it. */
  private def applyCheckpoint(
      spark: SparkSession,
      tablePath: String,
      cpVersion: Long,
      parts: Seq[FileStatus],
      acc: ReplayAcc): Unit = {
    import acc._
    {
      val cpDf = spark.read.parquet(parts.map(_.getPath.toString): _*)
      replayReads.addAndGet(parts.size.toLong)
      val cols = cpDf.schema.fieldNames.toSet
      val sel = Seq("protocol", "metaData", "add", "txn", "checkpointMetadata", "sidecar",
          "domainMetadata")
        .filter(cols.contains)
      val sidecarNames = mutable.ArrayBuffer.empty[String]
      cpDf.select(sel.head, sel.tail: _*).collect().foreach { row =>
        sel.zipWithIndex.foreach { case (name, i) =>
          if (!row.isNullAt(i)) {
            val r = row.getStruct(i)
            name match {
              case "protocol" =>
                val pFields = r.schema.fieldNames.toSet
                def featureSet(field: String): Set[String] =
                  if (pFields.contains(field))
                    Option(r.getAs[scala.collection.Seq[String]](field))
                      .map(_.toSet).getOrElse(Set.empty)
                  else Set.empty
                protocol = Some(DeltaProtocol(
                  r.getAs[Int]("minReaderVersion"), r.getAs[Int]("minWriterVersion"),
                  featureSet("readerFeatures"), featureSet("writerFeatures")))
              case "metaData" =>
                metadata = Some(DeltaMetadata(
                  Option(r.getAs[String]("id")).getOrElse(""),
                  r.getAs[String]("schemaString"),
                  Option(r.getAs[scala.collection.Seq[String]]("partitionColumns"))
                    .map(_.toSeq).getOrElse(Nil),
                  Option(r.getAs[scala.collection.Map[String, String]]("configuration"))
                    .map(_.toMap).getOrElse(Map.empty)))
              case "add" =>
                val add = parseAddStruct(r)
                live(add.path) = add
              case "txn" =>
                // checkpoints carry the latest SetTransaction per appId
                txns(r.getAs[String]("appId")) = r.getAs[Long]("version")
              case "checkpointMetadata" =>
                // v2 checkpoint self-description; a version disagreeing
                // with the file name means a corrupt/misplaced checkpoint
                val declared = r.getAs[Long]("version")
                if (declared != cpVersion) throw new IllegalStateException(
                  s"$tablePath: v2 checkpoint file named $cpVersion declares " +
                    s"version $declared")
              case "sidecar" =>
                sidecarNames += r.getAs[String]("path")
              case "domainMetadata" =>
                // a checkpoint normally carries live domains only, but a
                // foreign writer MAY checkpoint removal tombstones —
                // honor the flag either way
                val removed = {
                  val fields = r.schema.fieldNames.toSet
                  fields.contains("removed") &&
                    !r.isNullAt(r.fieldIndex("removed")) && r.getAs[Boolean]("removed")
                }
                if (removed) domains.remove(r.getAs[String]("domain"))
                else domains(r.getAs[String]("domain")) =
                  Option(r.getAs[String]("configuration")).getOrElse("")
            }
          }
        }
      }
      // v2 sidecars: the file actions live in _delta_log/_sidecars/<name>;
      // their adds are part of the checkpoint state (removes in a
      // checkpoint are vacuum tombstones — not live state — like classic)
      if (sidecarNames.nonEmpty) {
        val sidecarDir = new Path(logDir(tablePath), "_sidecars")
        val abs = sidecarNames.toSeq.map { p =>
          if (p.contains("/")) p else new Path(sidecarDir, p).toString
        }
        val scDf = spark.read.parquet(abs: _*)
        replayReads.addAndGet(abs.size.toLong)
        if (!scDf.schema.fieldNames.contains("add")) throw new IllegalStateException(
          s"$tablePath: v2 checkpoint sidecars carry no 'add' column " +
            s"(${abs.take(2).mkString(", ")})")
        scDf.select("add").collect().foreach { row =>
          if (!row.isNullAt(0)) {
            val add = parseAddStruct(row.getStruct(0))
            live(add.path) = add
          }
        }
      }
    }
  }

  /** Parse one commit JSON and fold its actions into `acc`. */
  private def applyCommit(fs: FileSystem, status: FileStatus, acc: ReplayAcc): Unit = {
    import acc._
    replayReads.incrementAndGet()
    // Within one commit, removes apply before adds (a remove+add of the
    // same path in a single commit nets to add).
    val commitAdds = mutable.ArrayBuffer.empty[DeltaAddFile]
    val commitRemoves = mutable.ArrayBuffer.empty[String]
    readCommit(fs, status)(_.foreach { node =>
      if (node.has("protocol")) {
        val p = node.get("protocol")
        def featureSet(field: String): Set[String] =
          if (p.has(field) && !p.get(field).isNull)
            p.get(field).elements().asScala.map(_.asText()).toSet
          else Set.empty
        protocol = Some(DeltaProtocol(
          p.get("minReaderVersion").asInt(), p.get("minWriterVersion").asInt(),
          featureSet("readerFeatures"), featureSet("writerFeatures")))
      }
      if (node.has("metaData")) {
        val m = node.get("metaData")
        metadata = Some(DeltaMetadata(
          if (m.has("id")) m.get("id").asText() else "",
          m.get("schemaString").asText(),
          if (m.has("partitionColumns"))
            m.get("partitionColumns").elements().asScala.map(_.asText()).toSeq
          else Nil,
          if (m.has("configuration"))
            m.get("configuration").properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap
          else Map.empty))
      }
      if (node.has("add")) commitAdds += parseJsonAdd(node.get("add"))
      if (node.has("remove")) {
        commitRemoves += node.get("remove").get("path").asText()
      }
      if (node.has("txn")) {
        val t = node.get("txn")
        txns(t.get("appId").asText()) = t.get("version").asLong()
      }
      if (node.has("domainMetadata")) {
        val d = node.get("domainMetadata")
        val domain = d.get("domain").asText()
        if (d.has("removed") && d.get("removed").asBoolean(false)) domains.remove(domain)
        else domains(domain) =
          if (d.has("configuration") && !d.get("configuration").isNull)
            d.get("configuration").asText() else ""
      }
    })
    commitRemoves.foreach(live.remove)
    commitAdds.foreach(a => live(a.path) = a)
  }

  /** Shared snapshot finalization for the driver and frame planes:
    * reader-version gate, metaData requirement, construction. */
  private def finishSnapshot(
      tablePath: String,
      target: Long,
      protocol: Option[DeltaProtocol],
      metadata: Option[DeltaMetadata],
      files: Seq[DeltaAddFile],
      txns: Map[String, Long],
      domains: Map[String, String]): DeltaSnapshot = {
    val proto = protocol.getOrElse(DeltaProtocol(1, 2))
    // Reader-version gate: v1 unconditionally; v2 (legacy column mapping —
    // the scan path additionally rejects `id` mode and nested mappings,
    // DeltaFileIndex.checkReadable); v3 iff every listed reader feature is
    // implemented (table features are per-feature capabilities — an unknown
    // feature MUST fail loudly, not read wrong results).
    proto.minReaderVersion match {
      case v if v <= 2 => ()
      case 3 =>
        val unsupported = proto.readerFeatures -- SupportedReaderFeatures
        if (unsupported.nonEmpty) throw new UnsupportedOperationException(
          s"$tablePath requires unsupported reader feature(s) " +
            s"${unsupported.toSeq.sorted.mkString(", ")}; " +
            s"supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}")
      case v => throw new UnsupportedOperationException(
        s"$tablePath requires Delta reader version $v; this engine implements " +
          "reader versions 1-3 (table features: deletionVectors, columnMapping)")
    }
    val meta = metadata.getOrElse(throw new IllegalStateException(
      s"$tablePath: no metaData action found in log replay up to version $target"))
    DeltaSnapshot(tablePath, target, proto, meta, files, txns, domains)
  }

  /** Test seam: scans served with a DEFERRED file plane (live set never
    * fully materialized at snapshot time) — pins the routing decision,
    * which result-equality alone cannot observe. */
  private[graft] val deferredScans = new java.util.concurrent.atomic.AtomicLong

  /** Snapshot for the SCAN path ([[DeltaDataSource.createRelation]]): like
    * [[snapshot]], but on the frame plane the live file set is NOT
    * collected to the driver here. The returned [[DeferredDeltaFiles]]
    * holds the still-distributed add frame; [[DeltaFileIndex.listFiles]]
    * ships the scan's pushed partition + stats predicates into it and
    * materializes ONLY surviving file descriptors — at a 10M-file table a
    * selective query's planning heap is O(survivors), not O(files), which
    * closes the r16 verdict's driver-plane bound. The unfiltered scan
    * still materializes everything (that O(live files) is what any full
    * scan must hold to enumerate its splits).
    *
    * Coverage: column mapping rides free (physical names / field ids are
    * schema metadata — [[GraftParquetFileFormat.forSnapshot]] never reads
    * files for them); DV-bearing tables defer with ONLY their DV-carrying
    * adds materialized up front (the format's dvByPath input; warned past
    * the snapshot threshold — a mass-DV'd table re-approaches O(files)
    * until its next OPTIMIZE purges the DVs). Small tables stay on the
    * driver plane (one driver map beats Spark jobs per listFiles). */
  def scanSnapshot(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[String] = None,
      /** false = skip materializing the DV-carrying adds into
        * `snapshot.files` — for metadata/stats consumers (the per-commit
        * checksum) that never open data files: on a mass-DV'd table the
        * unconditional DV collect is O(DV'd files) driver heap per call,
        * paid for nothing. The SCAN path must keep the default true (the
        * file format needs its dvByPath input). */
      withDvAdds: Boolean = true,
      /** true = take the frame plane under `auto` even when the size
        * estimate calls the table small — for consumers (RESTORE's
        * distributed diff) that need BOTH sides of a two-version join as
        * frames when EITHER side is big. A `driver` pin yields no frame. */
      forceDefer: Boolean = false)
      : (DeltaSnapshot, Option[DeferredDeltaFiles]) = {
    val (target, cp, tailCommits) =
      resolveReplay(spark, tablePath, versionAsOf, timestampAsOf)
    if (!framePlane(spark, tablePath, cp, tailCommits, forceDefer))
      return (driverReplay(spark, tablePath, target, cp, tailCommits), None)
    val gated = metadataReplay(spark, tablePath, target, cp, tailCommits)
    // per-(table, version) frame reuse: the second selective query over an
    // unchanged big table skips the O(N) re-parse (r17 verdict #3)
    val deferredFiles = cachedFrame(spark, tablePath, target, cp, tailCommits)
    // Column mapping costs the deferred plane NOTHING extra: physical
    // names / field ids are schema metadata ([[GraftParquetFileFormat
    // .forSnapshot]] reads them off the snapshot, not the files). Deletion
    // vectors need the scan format's dvByPath up front — but only for the
    // DV-CARRYING adds, so a DV-feature table materializes exactly those
    // through the SAME frame listFiles will reuse (one checkpoint/sidecar
    // construction, one read accounting). The snapshot carries the DV adds
    // as `files`, which is all forSnapshot consumes on the scan path;
    // listFiles itself routes through the deferred frame.
    val dvFiles: Seq[DeltaAddFile] =
      if (!withDvAdds ||
        !gated.protocol.impliedReaderFeatures.contains("deletionVectors")) Nil
      else {
        val dvs = deferredFiles.dvAdds
        val threshold = fileCountThreshold(spark)
        // visibility: the DV map is the one O(per-table) driver cost left
        // on this plane — a mass-DV'd table re-approaches O(files) until
        // OPTIMIZE purges, and that must never regress silently
        if (dvs.size > threshold)
          logWarning(
            s"$tablePath deferred scan materialized ${dvs.size} " +
              "DV-carrying add descriptors for the scan's DV map " +
              s"(> $threshold); planning heap is " +
              "O(DV'd files) until OPTIMIZE physically purges the deleted rows")
        dvs
      }
    deferredScans.incrementAndGet()
    (gated.copy(files = dvFiles), Some(deferredFiles))
  }

  /** Latest version from ONE log listing — no replay, no live set, no
    * metadata: what the streaming source polls per trigger (an eager
    * snapshot here made every microbatch offset check of a big table pay
    * a full live-set materialization). */
  def latestVersion(spark: SparkSession, tablePath: String): Long = {
    val (commits, checkpoints) = listLog(spark, tablePath)
    require(commits.nonEmpty || checkpoints.nonEmpty, s"$tablePath: empty _delta_log")
    (commits.map(_._1) ++ checkpoints.map(_._1)).max
  }

  /** Metadata planes (protocol / metaData / txn / domainMetadata) of the
    * LATEST version with NO live-set materialization on the frame plane —
    * what every rewrite's commit loop re-reads per attempt: the
    * [[ConflictChecker]] rules need only the intervening commits and
    * these planes, never the full live set (a re-read live set would make
    * every retry pay O(files) driver heap). Small tables keep the driver
    * replay (files populated, harmless); callers MUST NOT consult
    * `.files` (empty on the frame plane). */
  private[graft] def metadataSnapshot(
      spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[String] = None): DeltaSnapshot = {
    val (target, cp, tailCommits) =
      resolveReplay(spark, tablePath, versionAsOf, timestampAsOf)
    if (framePlane(spark, tablePath, cp, tailCommits))
      metadataReplay(spark, tablePath, target, cp, tailCommits)
    else driverReplay(spark, tablePath, target, cp, tailCommits)
  }

  /** Cache the driver state a checkpoint at `version` was just written
    * from, under the published parts' fingerprint: it is exactly what a
    * replay of that checkpoint rebuilds, so the next snapshot extends it
    * instead of reading the checkpoint back. `snap` is what
    * [[DeltaWriter.checkpoint]] returned. */
  private[delta] def seedCheckpointState(
      spark: SparkSession, tablePath: String, version: Long, snap: DeltaSnapshot): Unit =
    listLog(spark, tablePath)._2.find(_._1 == version).foreach { cp =>
      if (snap.files.size <= fileCountThreshold(spark))
        SnapshotCache.putDriver(tablePath, version, SnapshotCache.fingerprint(Some(cp), Nil),
          DriverState(snap.files.toVector, snap.transactions, snap.domainMetadata.toVector,
            Some(snap.protocol), Some(snap.metadata)))
    }

  /** O(1) estimate of a checkpoint's add count, for the replay-path
    * decision: `_last_checkpoint`'s recorded row count when it describes
    * this checkpoint, else checkpoint bytes / 256 (an add row with stats
    * compresses to well over 256 B — the estimate over-counts, which only
    * moves the cutover earlier, never silently overloads the driver). */
  private def estimatedCheckpointAdds(
      spark: SparkSession, tablePath: String,
      cpVersion: Long, parts: Seq[FileStatus]): Long = {
    val fs = logFs(spark, tablePath)
    val lastPath = new Path(logDir(tablePath), "_last_checkpoint")
    val fromLast: Option[Long] =
      try {
        if (!fs.exists(lastPath)) None
        else {
          val in = fs.open(lastPath)
          val node = try mapper.readTree(in) finally in.close()
          if (node.has("version") && node.get("version").asLong() == cpVersion &&
            node.has("size")) Some(node.get("size").asLong())
          else None
        }
      } catch { case _: Exception => None }
    fromLast.getOrElse(parts.map(_.getLen).sum / 256)
  }

  /** The one commit-time rule, for time travel,
    * [[earliestVersionAtOrAfter]], DESCRIBE HISTORY and batch and
    * streaming CDF: a commit's in-commit timestamp when it carries one,
    * else its file's mtime (the Delta spec's rule). `commitInfo.timestamp`
    * is not used: it is stamped before the file is written, so it can
    * precede the mtime, and a travel to it would miss its own version.
    * Returns the rule as a function of a commit file's status, for the
    * table `commits` lists. The feature stamps every post-enablement
    * commit, so a table whose newest commit carries no ICT reads no other
    * commit file. */
  private[delta] def commitTimeOf(
      spark: SparkSession, tablePath: String,
      commits: Seq[(Long, FileStatus)]): FileStatus => Long = {
    val fs = logFs(spark, tablePath)
    val ictTable = commits.lastOption.exists { case (_, st) =>
      InCommitTimestamps.readIct(fs, st).isDefined
    }
    st =>
      if (!ictTable) st.getModificationTime
      else InCommitTimestamps.readIct(fs, st).getOrElse(st.getModificationTime)
  }

  /** Earliest version whose commit time is at or after `ts` — the
    * streaming source's `startingTimestamp` resolution (spec: "all table
    * changes committed at or after the timestamp will be read"). A
    * timestamp past the newest commit yields latest+1: the stream serves
    * only future commits. */
  def earliestVersionAtOrAfter(spark: SparkSession, tablePath: String, ts: String): Long = {
    val (commits, _) = listLog(spark, tablePath)
    require(commits.nonEmpty, s"$tablePath: empty _delta_log")
    val cutoff = parseTimestampMillis(ts)
    val commitTime = commitTimeOf(spark, tablePath, commits)
    commits.collectFirst { case (v, st) if commitTime(st) >= cutoff => v }
      .getOrElse(commits.map(_._1).max + 1)
  }

  /** Per-commit DATA-CHANGE add actions in versions (fromExclusive,
    * toInclusive] — the incremental-consumption view of the log: compaction
    * rewrites (`dataChange=false`, e.g. OPTIMIZE) are skipped, so a
    * consumer never sees a rewritten row twice.
    *
    * Exactly-once holds only while the range is append-only. A commit that
    * REMOVES data (`remove` with `dataChange=true` — Overwrite, DELETE)
    * invalidates pure add-consumption (the adds of a rewrite would be
    * double-counted against rows the consumer already took), so such a
    * commit FAILS FAST by default — same contract as production Delta's
    * streaming source. Pass `ignoreDataChangeRemoves=true` (the
    * `ignoreChanges` analog) to consume the adds anyway, accepting
    * possibly-reprocessed rows. */
  def changes(
      spark: SparkSession,
      tablePath: String,
      fromExclusive: Long,
      toInclusive: Long,
      ignoreDataChangeRemoves: Boolean = false): Seq[(Long, Seq[DeltaAddFile])] = {
    val (inRange, missing) = commitRange(spark, tablePath, fromExclusive, toInclusive)
    // COMPLETENESS gate: log cleanup retires old commit JSONs; a range
    // whose versions are partially gone must FAIL, not silently drop
    // those commits' rows from the feed — a streaming consumer resuming
    // from a stale checkpoint would otherwise lose every commit behind
    // the retention boundary with no error (production fails the stream
    // on data loss; DeltaCdf.read enforces the same rule)
    if (missing.nonEmpty) throw new java.io.IOException(
      s"$tablePath: incremental changes for version(s) " +
        s"${missing.take(5).mkString(",")}" +
        s"${if (missing.size > 5) s" (+${missing.size - 5} more)" else ""} " +
        "are no longer available (commit JSONs retired by log cleanup). " +
        "The consumer's offset predates the retained history — restart it " +
        "from a fresh snapshot instead of silently losing those commits")
    val fs = logFs(spark, tablePath)
    inRange.map { case (v, status) =>
      val adds = Seq.newBuilder[DeltaAddFile]
      readCommit(fs, status)(_.foreach { node =>
        if (node.has("add")) {
          val a = node.get("add")
          if (dataChange(a)) adds += parseJsonAdd(a)
        } else if (node.has("remove") && !ignoreDataChangeRemoves) {
          val r = node.get("remove")
          if (dataChange(r)) throw new UnsupportedOperationException(
            s"$tablePath version $v removes data (${r.get("path").asText()}): " +
              "incremental add-consumption would double-count rewritten rows. " +
              "Re-read the full snapshot, or pass ignoreDataChangeRemoves=true " +
              "to consume the adds anyway (possibly-reprocessed rows).")
        }
      })
      v -> adds.result()
    }
  }

  /** Both conflict surfaces of one intervening commit range, from ONE
    * pass over its (immutable) commit JSONs:
    *  - `pathActions`: every add/remove path — what
    *    [[ConflictChecker.checkRewrite]] intersects with a transaction's
    *    touched set;
    *  - `nonBlindAdds`: dataChange adds from NON-blind-append commits —
    *    [[ConflictChecker.checkReadSet]]'s overlap surface.
    * A commit attempt runs BOTH rules and shares one parse
    * ([[sharedConflictRange]]). */
  private[graft] final case class ConflictRange(
      pathActions: Seq[String], nonBlindAdds: Seq[DeltaAddFile])

  /** One commit ATTEMPT's shared handle on its intervening range: both
    * rules read through the same lazy parse, so an attempt costs at most
    * ONE parse. Nothing is kept across attempts: a retry's range
    * (base, latest] moves forward every attempt, and the memo lives only
    * as long as the attempt's stack frame, so no range — however big — is
    * pinned past the commit. */
  private[delta] def sharedConflictRange(
      spark: SparkSession,
      tablePath: String,
      fromExclusive: Long,
      toInclusive: Long): () => ConflictRange = {
    lazy val r = conflictRange(spark, tablePath, fromExclusive, toInclusive,
      "conflict rules")
    () => r
  }

  /** Test seam: actual range parses — pins that one commit
    * attempt's two rules share a parse, which result equality alone
    * cannot observe. */
  private[graft] val conflictRangeParses = new java.util.concurrent.atomic.AtomicLong

  /** Throws if any commit JSON in the range is missing (cleaned up
    * mid-flight): an unvalidatable range must abort, not pass. `purpose`
    * names the failing rule in that message. */
  private[graft] def conflictRange(
      spark: SparkSession,
      tablePath: String,
      fromExclusive: Long,
      toInclusive: Long,
      purpose: String): ConflictRange = {
    val (inRange, missing) = commitRange(spark, tablePath, fromExclusive, toInclusive)
    if (missing.nonEmpty)
      throw new java.io.IOException(
        s"cannot validate $purpose on $tablePath: commit JSONs for versions " +
          s"${((fromExclusive + 1) to toInclusive).mkString(",")} are not all present " +
          "(log cleaned up mid-transaction?)")
    conflictRangeParses.incrementAndGet()
    val fs = logFs(spark, tablePath)
    val paths = Seq.newBuilder[String]
    val nonBlind = Seq.newBuilder[DeltaAddFile]
    inRange.foreach { case (_, status) =>
      val adds = Seq.newBuilder[DeltaAddFile]
      var hasRemove = false
      var blindFlag: Option[Boolean] = None
      var operation: String = null
      var writeMode: String = null
      readCommit(fs, status)(_.foreach { node =>
        if (node.has("add")) {
          val a = node.get("add")
          paths += a.get("path").asText()
          if (dataChange(a)) adds += parseJsonAdd(a)
        } else if (node.has("remove")) {
          hasRemove = true
          paths += node.get("remove").get("path").asText()
        } else if (node.has("commitInfo")) {
          val ci = node.get("commitInfo")
          if (ci.has("operation")) operation = ci.get("operation").asText()
          if (ci.has("isBlindAppend")) blindFlag = Some(ci.get("isBlindAppend").asBoolean())
          if (ci.has("operationParameters") && ci.get("operationParameters").has("mode"))
            writeMode = ci.get("operationParameters").get("mode").asText()
        }
      })
      // blind = the commit READ nothing. Keyed on the writer's explicit
      // commitInfo.isBlindAppend (production's signal — our own appends
      // stamp it), with an Append-mode WRITE fallback for older logs; a
      // structural no-remove guard on top. Everything else — MERGE
      // inserts, RESTORE re-adds, Overwrite of an empty table (no removes
      // to emit!), foreign commits without commitInfo — is NON-blind: its
      // adds came from decisions or histories a concurrent reader's
      // snapshot never saw, and misclassifying it blind is silent
      // duplicate/lost-row territory, while the converse is only a retry.
      val blindAppend = !hasRemove &&
        blindFlag.getOrElse(operation == "WRITE" && writeMode == "Append")
      if (!blindAppend) nonBlind ++= adds.result()
    }
    ConflictRange(paths.result(), nonBlind.result())
  }

  /** DATA-CHANGE add actions from NON-BLIND-APPEND commits in versions
    * (fromExclusive, toInclusive] — the read-set conflict surface for
    * [[ConflictChecker.checkReadSet]]. A commit is a blind append when it
    * adds files without removing any and is not a MERGE (whose inserts are
    * decisions computed FROM a read of the table); only non-blind commits'
    * dataChange adds can invalidate another transaction's reads under
    * WriteSerializable — blind appends serialize before the reader by
    * definition (production Delta's isBlindAppend exemption). Same parse
    * as the commit path's rules (see [[conflictRange]]). */
  private[graft] def nonBlindDataAdds(
      spark: SparkSession,
      tablePath: String,
      fromExclusive: Long,
      toInclusive: Long): Seq[DeltaAddFile] =
    conflictRange(spark, tablePath, fromExclusive, toInclusive, "read set").nonBlindAdds

  /** Replayability-probe cap: deciding "pure add-feed?" is an O(history)
    * driver-side parse, paid BEFORE a fresh stream's first batch. Past
    * this many commits the probe answers false unconditionally and the
    * stream takes the initial-snapshot jump — production Delta's default
    * for every fresh stream, identical rows on append-only histories
    * (served as one snapshot / file-paced slices instead of per-version
    * batches), and the pre-first-batch driver work stays bounded on a
    * year-old table. Deterministic, so latestOffset and getBatch (which
    * both probe) cannot disagree (var: test seam only). */
  private[graft] var RangeReplayableMaxCommits = 64

  /** Can versions `(fromExclusive, toInclusive]` be replayed as a pure
    * add-feed? True iff every commit JSON is still present AND none
    * removes data (`remove` with dataChange) — the probe a fresh
    * streaming query uses to choose between a paced per-version replay
    * (append-only history: identical rows, rate limits honored) and the
    * initial-snapshot jump (histories with overwrites/deletes, where a
    * replay would fail or serve rows deleted before the stream began). */
  private[graft] def rangeReplayable(
      spark: SparkSession,
      tablePath: String,
      fromExclusive: Long,
      toInclusive: Long): Boolean = {
    if (toInclusive - fromExclusive > RangeReplayableMaxCommits) return false
    val (inRange, missing) = commitRange(spark, tablePath, fromExclusive, toInclusive)
    val fs = logFs(spark, tablePath)
    missing.isEmpty && !inRange.exists { case (_, status) =>
      readCommit(fs, status)(_.exists(node => node.has("remove") && dataChange(node.get("remove"))))
    }
  }

  /** One JSON `add` node → [[DeltaAddFile]], every field (deletion
    * vector and row ids included) — the ONE parser for replay,
    * [[changes]] and the conflict range, so a field one of them needs
    * cannot be silently dropped by another. */
  private def parseJsonAdd(a: JsonNode): DeltaAddFile = {
    def longOpt(k: String): Option[Long] =
      if (a.has(k) && !a.get(k).isNull) Some(a.get(k).asLong()) else None
    DeltaAddFile(
      a.get("path").asText(),
      jsonStringMap(a.get("partitionValues")),
      a.get("size").asLong(),
      longOpt("modificationTime").getOrElse(0L),
      if (a.has("stats") && !a.get("stats").isNull) Some(a.get("stats").asText()) else None,
      parseDv(a),
      longOpt("baseRowId"),
      longOpt("defaultRowCommitVersion"),
      if (a.has("tags") && !a.get("tags").isNull) jsonStringMap(a.get("tags"))
      else Map.empty)
  }

  /** Reader-version-3 table features this engine can actually honor:
    * deletion vectors and column mapping (first-class above), v2
    * checkpoints (replay recognizes UUID-named checkpoints,
    * checkpointMetadata and sidecars), timestampNtz (TimestampNTZType is
    * native to the Spark scan), and typeWidening (the vectorized parquet
    * reader upcasts narrow files to the log schema's wider type).
    * Anything else still fails loudly. */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "v2Checkpoint", "timestampNtz",
      "typeWidening", "variantType", "vacuumProtocolCheck")

  /** Writer capabilities this engine actually honors when committing
    * (see [[DeltaSnapshot.assertWritable]]): the legacy v2–v6 set —
    * appendOnly (enforced), invariants (NOT NULL enforced; legacy
    * expression invariants refused at the write gate), checkConstraints,
    * changeDataFeed, generatedColumns, columnMapping, identityColumns —
    * plus the table features it writes first-class — including
    * rowTracking/domainMetadata ([[RowTracking]]: every commit path
    * allocates baseRowIds and rewrites preserve materialized ids, which is
    * what listing the feature promises), and variantType (Spark-native
    * VARIANT encode/decode rides the parquet scan; stats skipping treats
    * variant as non-indexed — [[DeltaWriter.withTypedColumnFeatures]]
    * stamps the feature on creation and evolution). Notably ABSENT:
    * icebergCompat*, collations — committing to tables that demand them
    * must fail. */
  val SupportedWriterFeatures: Set[String] =
    Set("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
      "generatedColumns", "columnMapping", "identityColumns",
      "deletionVectors", "v2Checkpoint", "timestampNtz", "typeWidening",
      "inCommitTimestamp", "allowColumnDefaults",
      "rowTracking", "domainMetadata", "clustering", "variantType",
      "vacuumProtocolCheck")

  /** Checkpoint/sidecar `add` struct row → [[DeltaAddFile]] (tolerant of
    * absent optional fields across writer engines). */
  private def parseAddStruct(r: org.apache.spark.sql.Row): DeltaAddFile = {
    val fields = r.schema.fieldNames.toSet
    val dv: Option[DvDescriptor] =
      if (fields.contains("deletionVector") && !r.isNullAt(r.fieldIndex("deletionVector"))) {
        val d = r.getStruct(r.fieldIndex("deletionVector"))
        Some(DvDescriptor(
          d.getAs[String]("storageType"),
          d.getAs[String]("pathOrInlineDv"),
          if (d.isNullAt(d.fieldIndex("offset"))) None else Some(d.getAs[Int]("offset")),
          d.getAs[Int]("sizeInBytes"),
          d.getAs[Long]("cardinality")))
      } else None
    // foreign checkpoints (delta.checkpoint.writeStatsAsStruct, often with
    // writeStatsAsJson=false — the Databricks layout) carry typed
    // `stats_parsed` instead of the JSON string: re-serialize it so
    // stats-based file skipping keeps working on such tables instead of
    // silently degrading to scan-everything
    val statsJson: Option[String] =
      (if (fields.contains("stats")) Option(r.getAs[String]("stats")) else None)
        .orElse {
          if (!fields.contains("stats_parsed") ||
            r.isNullAt(r.fieldIndex("stats_parsed"))) None
          else Some(serializeParsedStats(r.getStruct(r.fieldIndex("stats_parsed"))))
        }
    def optLong(f: String): Option[Long] =
      if (fields.contains(f) && !r.isNullAt(r.fieldIndex(f))) Some(r.getAs[Long](f)) else None
    DeltaAddFile(
      r.getAs[String]("path"),
      Option(r.getAs[scala.collection.Map[String, String]]("partitionValues"))
        .map(_.toMap).getOrElse(Map.empty),
      r.getAs[Long]("size"),
      if (fields.contains("modificationTime")) r.getAs[Long]("modificationTime") else 0L,
      statsJson,
      dv,
      optLong("baseRowId"),
      optLong("defaultRowCommitVersion"),
      tags =
        if (fields.contains("tags") && !r.isNullAt(r.fieldIndex("tags")))
          r.getAs[scala.collection.Map[String, String]]("tags").toMap
        else Map.empty)
  }

  /** Typed `stats_parsed` struct → this engine's JSON stats string
    * (numRecords / minValues / maxValues / nullCount). Nested structs
    * recurse; temporal values render in the ISO forms the JSON-stats
    * readers parse. Unknown field classes fall back to toString — stats
    * are an optimization, a lossy value only weakens skipping, never
    * correctness (the skipping test is conservative on parse failure). */
  private def serializeParsedStats(row: org.apache.spark.sql.Row): String = {
    def valueNode(v: Any, target: com.fasterxml.jackson.databind.node.ObjectNode,
        key: String): Unit = v match {
      case null => ()
      case r: org.apache.spark.sql.Row =>
        val child = target.putObject(key)
        r.schema.fields.zipWithIndex.foreach { case (f, i) =>
          valueNode(if (r.isNullAt(i)) null else r.get(i), child, f.name)
        }
      case x: Boolean => target.put(key, x)
      case x: Byte => target.put(key, x.toInt)
      case x: Short => target.put(key, x.toInt)
      case x: Int => target.put(key, x)
      case x: Long => target.put(key, x)
      case x: Float => target.put(key, x)
      case x: Double => target.put(key, x)
      case x: java.math.BigDecimal => target.put(key, x)
      case x: String => target.put(key, x)
      case x: java.sql.Date => target.put(key, x.toString)
      case x: java.time.LocalDate => target.put(key, x.toString)
      // micros precision — a millis-truncated max bound makes stats
      // skipping unsound (see DeltaWriter.putStatValue)
      case x: java.sql.Timestamp =>
        target.put(key, x.toInstant.atZone(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
      case x: java.time.Instant =>
        target.put(key, x.atZone(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
      case x: java.time.LocalDateTime => target.put(key, x.toString)
      case other => target.put(key, other.toString)
    }
    val node = mapper.createObjectNode()
    row.schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) (f.name, row.get(i)) match {
        case ("numRecords", n: Long) => node.put("numRecords", n)
        case ("numRecords", n: Int) => node.put("numRecords", n.toLong)
        case (name, v) => valueNode(v, node, name)
      }
    }
    mapper.writeValueAsString(node)
  }

  /** `add.deletionVector` → descriptor (absent/null → None). */
  private def parseDv(add: JsonNode): Option[DvDescriptor] =
    if (!add.has("deletionVector") || add.get("deletionVector").isNull) None
    else {
      val d = add.get("deletionVector")
      Some(DvDescriptor(
        d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        if (d.has("offset") && !d.get("offset").isNull) Some(d.get("offset").asInt()) else None,
        d.get("sizeInBytes").asInt(),
        d.get("cardinality").asLong()))
    }

  private[delta] def jsonStringMap(node: JsonNode): Map[String, String] =
    if (node == null || node.isNull) Map.empty
    else node.properties().asScala.map { e =>
      e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
    }.toMap

  private[delta] def parseTimestampMillis(ts: String): Long =
    Math.floorDiv(parseTimestampMicros(ts), 1000L)

  /** Full-precision (microsecond) parse — the stats-skipping comparison
    * domain. A millis-truncating parse systematically UNDER-estimates a
    * file's max bound (e.g. delta-rs stats carry micros), which makes
    * pruning unsound: a literal between the truncated and true max would
    * skip a file that contains its row. */
  private[delta] def parseTimestampMicros(ts: String): Long = {
    val normalized = ts.trim.replace(' ', 'T')
    def micros(i: java.time.Instant): Long =
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    try micros(java.time.LocalDateTime.parse(normalized)
      .atZone(java.time.ZoneOffset.UTC).toInstant)
    catch {
      case _: Exception =>
        try micros(java.time.LocalDate.parse(ts.trim)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
        catch {
          case _: Exception => micros(java.time.Instant.parse(normalized))
        }
    }
  }

  /** Atomically publish `_delta_log/<version>.json` with `content`.
    * Returns false when that version already exists (concurrent writer —
    * caller re-reads state and retries at version+1). Two planes:
    * local-FS commit via hard-link-from-temp (atomic create-exclusive on
    * POSIX); object stores via `create(path, overwrite=false)`, which
    * [[graft.sources.S3FileSystem]] maps to a conditional PUT
    * (`If-None-Match: *`) — S3-native mutual exclusion, no external lock
    * table (S3StoreSuite pins the race). */
  def tryCommit(spark: SparkSession, tablePath: String, version: Long, content: String): Boolean = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dir)
    val isLocal = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (isLocal) {
      // POSIX plane (file:// and local-backed test schemes): hard-link
      // publish — atomic create-if-absent at the filesystem level
      val target = new java.io.File(new Path(dir, f"$version%020d.json").toUri.getPath)
      val tmp = new java.io.File(target.getParentFile, s".tmp-${java.util.UUID.randomUUID()}.json")
      java.nio.file.Files.write(tmp.toPath, content.getBytes("UTF-8"))
      try {
        java.nio.file.Files.createLink(target.toPath, tmp.toPath)
        DeltaChecksum.write(spark, tablePath, version) // best-effort, post-commit
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        tmp.delete()
      }
    } else {
      // object-store plane: `create(path, overwrite = false)` must be the
      // store's atomic create-if-absent (the S3 store maps it to a
      // conditional PUT `If-None-Match: *`; losers surface
      // FileAlreadyExistsException — possibly at close(), where the PUT
      // actually happens)
      val target = new Path(dir, f"$version%020d.json")
      try {
        val out = fs.create(target, false)
        out.write(content.getBytes("UTF-8"))
        out.close()
        DeltaChecksum.write(spark, tablePath, version) // best-effort, post-commit
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    }
  }
}
