package graft.sources.delta

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Row tracking (Delta `rowTracking` writer feature): every physical row
  * gets a STABLE `row_id` and a `row_commit_version`, surviving
  * compaction and DML rewrites — the protocol plane incremental/MERGE
  * pipelines and CDC consumers key on.
  *
  * Mechanics (the published spec's, implemented first-party):
  *
  *  - every `add` on a row-tracked table carries `baseRowId`; a row's
  *    FRESH id is `baseRowId + row_index` (its physical position). Ranges
  *    are allocated from a table-wide high water mark kept in the
  *    `delta.rowTracking` domain (`{"rowIdHighWaterMark":N}`) — the
  *    domainMetadata plane, NOT table config, so concurrent writers
  *    conflict-resolve on it explicitly (see below).
  *  - a rewrite (OPTIMIZE, copy-on-write DML/MERGE) must PRESERVE ids:
  *    rewritten files store them in MATERIALIZED physical columns (names
  *    parked in `delta.rowTracking.materializedRowIdColumnName` /
  *    `…RowCommitVersionColumnName` — physical-only, never part of the
  *    logical schema). A reader computes
  *    `coalesce(materialized, baseRowId + row_index)`.
  *  - `defaultRowCommitVersion` on each add dates unmaterialized rows.
  *
  * Concurrency: two concurrent commits allocating from the same hwm would
  * hand out overlapping ids. [[ConflictChecker.checkTableState]] exempts
  * the `delta.rowTracking` domain from its abort rule precisely so the
  * commit LOOPS can re-base: every attempt re-reads the latest snapshot
  * and re-allocates from ITS hwm (allocation is O(adds) arithmetic over
  * stats — no data rewrite), which is how production resolves this
  * conflict class instead of starving row-tracked appenders.
  *
  * Scale posture: allocation is driver-side arithmetic over the commit's
  * add list (the same O(files) plane as the commit JSON itself);
  * assignment to ROWS never happens at write time — ids are implied by
  * file position until a rewrite materializes them executor-side. The
  * read join is a broadcast of O(live files) (path → baseRowId), the
  * same cardinality the scan's file index already holds. */
object RowTracking {

  val Feature = "rowTracking"
  val DomainFeature = "domainMetadata"
  val Domain = "delta.rowTracking"
  val EnableKey = "delta.enableRowTracking"
  val MatRowIdKey = "delta.rowTracking.materializedRowIdColumnName"
  val MatRowVersionKey = "delta.rowTracking.materializedRowCommitVersionColumnName"
  /** Logical output columns of [[readWithRowIds]]. */
  val RowIdCol = "_row_id"
  val RowVersionCol = "_row_commit_version"

  private val mapper = new ObjectMapper()

  /** The protocol demands row tracking be MAINTAINED (every commit must
    * carry baseRowIds) — true for any table whose writer features list
    * it, whether or not ids are exposed to readers yet. */
  def supported(snap: DeltaSnapshot): Boolean =
    snap.protocol.impliedWriterFeatures.contains(Feature)

  /** Row tracking is on: ids are maintained AND the table declares them
    * stable/readable. */
  def enabled(snap: DeltaSnapshot): Boolean =
    supported(snap) && snap.metadata.configuration
      .get(EnableKey).exists(_.trim.equalsIgnoreCase("true"))

  /** Highest row id ever allocated (-1 on a fresh table — the first file
    * starts at 0). */
  def highWaterMark(snap: DeltaSnapshot): Long =
    snap.domainMetadata.get(Domain).flatMap { conf =>
      try {
        val n = mapper.readTree(conf)
        if (n.has("rowIdHighWaterMark")) Some(n.get("rowIdHighWaterMark").asLong())
        else None
      } catch { case _: Exception => None }
    }.getOrElse(-1L)

  /** A `domainMetadata` action line (live, not a removal tombstone). */
  def domainLineOf(domain: String, configuration: String): String = {
    val node = mapper.createObjectNode()
    val d = node.putObject("domainMetadata")
    d.put("domain", domain)
    d.put("configuration", configuration)
    d.put("removed", false)
    mapper.writeValueAsString(node)
  }

  /** The `domainMetadata` action line recording a new high water mark. */
  def domainLine(hwm: Long): String =
    domainLineOf(Domain, s"""{"rowIdHighWaterMark":$hwm}""")

  /** Allocate contiguous baseRowId ranges for files of `counts` physical
    * rows each, continuing past `fromHwm`. Returns (per-file baseRowId,
    * new hwm). */
  def allocate(fromHwm: Long, counts: Seq[Long]): (Seq[Long], Long) = {
    var acc = fromHwm
    val bases = counts.map { c => val b = acc + 1; acc += math.max(c, 0L); b }
    (bases, acc)
  }

  /** numRecords out of an add's stats JSON. */
  def numRecordsOf(statsJson: Option[String]): Option[Long] = statsJson.flatMap { s =>
    try {
      val n = mapper.readTree(s)
      if (n.has("numRecords")) Some(n.get("numRecords").asLong()) else None
    } catch { case _: Exception => None }
  }

  /** The table's materialized (row id, row commit version) column names —
    * present iff row tracking is maintained. A row-tracked table whose
    * config lacks them cannot be REWRITTEN preservingly; fail loudly
    * rather than silently breaking id stability. */
  def materializedColumnsOf(snap: DeltaSnapshot): Option[(String, String)] =
    if (!supported(snap)) None
    else Some((
      snap.metadata.configuration.getOrElse(MatRowIdKey,
        throw new UnsupportedOperationException(
          s"${snap.tablePath} maintains row tracking but declares no " +
            s"$MatRowIdKey — rewrites cannot preserve row ids; run " +
            "RowTracking.enable() to complete the table's state")),
      snap.metadata.configuration.getOrElse(MatRowVersionKey,
        throw new UnsupportedOperationException(
          s"${snap.tablePath} maintains row tracking but declares no " +
            s"$MatRowVersionKey"))))

  /** Resolve every row's CURRENT id / commit version into the
    * materialized columns of `df` (which must already carry them from the
    * parquet read, NULL where never materialized):
    * `coalesce(materialized, baseRowId + row_index)` /
    * `coalesce(materialized, defaultRowCommitVersion)`. The per-file side
    * is a broadcast of O(files in `snapFiles`). */
  private[delta] def withCurrentIds(
      spark: SparkSession,
      tablePath: String,
      snapFiles: Seq[DeltaAddFile],
      df: DataFrame,
      matId: String,
      matVer: String): DataFrame = {
    val noBase = snapFiles.filter(_.baseRowId.isEmpty)
    require(noBase.isEmpty,
      s"${noBase.size} file(s) lack baseRowId (e.g. " +
        s"${noBase.headOption.map(_.path).getOrElse("")}) — row-tracking " +
        "state is incomplete; re-run RowTracking.enable()")
    import spark.implicits._
    val byFile = snapFiles.map { f =>
      (DeltaDml.normalize(
        new Path(tablePath, DeltaMaintenance.decodeRel(f.path)).toString),
        f.baseRowId.get, f.defaultRowCommitVersion.getOrElse(-1L))
    }
    val fileDf = byFile.toDF("_graft_fp", "_graft_base", "_graft_ver")
    val normalizeUdf = udf((s: String) => DeltaDml.normalize(s))
    df.withColumn("_graft_fp", normalizeUdf(col("_metadata.file_path")))
      .withColumn("_graft_idx", col("_metadata.row_index"))
      .join(broadcast(fileDf), "_graft_fp")
      .withColumn(matId, coalesce(col(s"`$matId`"), col("_graft_base") + col("_graft_idx")))
      .withColumn(matVer, coalesce(col(s"`$matVer`"), col("_graft_ver")))
      .drop("_graft_fp", "_graft_base", "_graft_ver", "_graft_idx")
  }

  /** Stamp freshly-allocated `baseRowId`/`defaultRowCommitVersion` onto
    * a commit's adds and return them with the hwm domain line to append —
    * the adds unchanged and None when the table does not maintain row
    * tracking. MUST be called per commit attempt: `current` is the
    * snapshot this attempt commits on top of, so a retry re-bases the
    * allocation on the concurrent winner's hwm (see the class doc). */
  def stampAdds(
      current: Option[DeltaSnapshot],
      adds: Seq[DeltaAddFile],
      commitVersion: Long): (Seq[DeltaAddFile], Option[String]) = {
    val snap = current.filter(supported).getOrElse(return (adds, None))
    if (adds.isEmpty) return (adds, None)
    val counts = adds.map(f => numRecordsOf(f.stats))
    require(counts.forall(_.isDefined),
      "row tracking requires numRecords stats on every written file")
    val (bases, hwm) = allocate(highWaterMark(snap), counts.map(_.get))
    (adds.zip(bases).map { case (f, base) =>
      f.copy(baseRowId = Some(base), defaultRowCommitVersion = Some(commitVersion))
    }, Some(domainLine(hwm)))
  }

  /** Enable row tracking on an existing table (also the creation path —
    * call right after the first commit): ONE commit that (1) upgrades the
    * protocol to writer features `rowTracking` + `domainMetadata`
    * (reader version untouched — both are writer-only), (2) re-emits
    * every live add with a backfilled `baseRowId` (`dataChange=false` —
    * no data moves; files missing numRecords stats are counted in one
    * distributed job), (3) parks the materialized-column names and the
    * enablement flag in the table config, and (4) records the hwm domain.
    * Idempotent; retries past concurrent commits. */
  def enable(spark: SparkSession, tablePath: String): Unit =
    DeltaCommit.run(spark, tablePath, "ALTER TABLE (row tracking)") {
      val snap = DeltaLog.snapshot(spark, tablePath)
      if (enabled(snap) && snap.files.forall(_.baseRowId.isDefined)) Left(snap.version)
      else {
        snap.assertWritable("ALTER TABLE (row tracking)")
        val version = snap.version + 1

        // physical row counts: stats numRecords, else ONE distributed count
        // over the uncounted files (foreign/converted tables may lack stats)
        val known: Seq[Option[Long]] = snap.files.map(f => numRecordsOf(f.stats))
        val missing = snap.files.zip(known).collect { case (f, None) => f.path }
        val counted: Map[String, Long] =
          if (missing.isEmpty) Map.empty
          else {
            val abs = missing.map(rel =>
              new Path(tablePath, DeltaMaintenance.decodeRel(rel)).toString)
            val byAbs = spark.read.parquet(abs: _*)
              .groupBy(input_file_name().as("f")).count()
              .collect().map(r => DeltaDml.normalize(r.getString(0)) -> r.getLong(1)).toMap
            missing.zip(abs).map { case (rel, a) =>
              rel -> byAbs.getOrElse(DeltaDml.normalize(a), 0L)
            }.toMap
          }
        val counts: Seq[Long] = snap.files.zip(known).map {
          case (f, Some(n)) => n
          case (f, None) => counted(f.path)
        }
        val (bases, hwm) = allocate(highWaterMark(snap), counts)

        // config: enablement + materialized column names (generated ONCE —
        // rewrites key their physical columns on these forever after)
        val cfg = snap.metadata.configuration ++
          Map(EnableKey -> "true") ++
          (if (snap.metadata.configuration.contains(MatRowIdKey)) Map.empty
           else Map(
             MatRowIdKey -> s"_row-id-col-${java.util.UUID.randomUUID()}",
             MatRowVersionKey -> s"_row-commit-version-col-${java.util.UUID.randomUUID()}"))
        // backfill: re-emit every live add with its allocated baseRowId —
        // a log-only pass (dataChange=false), no data file moves
        val backfill = snap.files.zip(bases).map { case (f, base) =>
          DeltaCommit.addLine(f.copy(baseRowId = Some(base),
            defaultRowCommitVersion = Some(version)), dataChange = false)
        }
        Right(DeltaCommit.Txn(Some(snap), "SET TBLPROPERTIES",
          parameters = Seq("properties" -> s"""{"$EnableKey":"true"}"""),
          isBlindAppend = Some(false),
          protocol = Some(snap.protocol.withWriterFeatures(Set(Feature, DomainFeature))),
          metadata = Some(snap.metadata.copy(configuration = cfg)),
          actions = backfill :+ domainLine(hwm)))
      }
    }

  /** Read the table WITH its row ids: the logical columns plus
    * [[RowIdCol]] / [[RowVersionCol]], each
    * `coalesce(materialized, baseRowId + row_index)` — fresh ids for
    * never-rewritten files (cheap: position arithmetic), materialized for
    * rewritten ones. The per-file (path → baseRowId) side is a broadcast
    * of O(live files), the cardinality the file index already holds. */
  def readWithRowIds(
      spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = DeltaLog.snapshot(spark, tablePath, versionAsOf = versionAsOf)
    require(supported(snap),
      s"$tablePath does not maintain row tracking (enable it first)")
    val noBase = snap.files.filter(_.baseRowId.isEmpty)
    require(noBase.isEmpty,
      s"${noBase.size} live file(s) lack baseRowId (e.g. ${noBase.headOption.map(_.path).getOrElse("")}) — " +
        "the table's row-tracking state is incomplete; re-run enable()")
    val (matId, matVer) = materializedColumnsOf(snap).get

    // relation over the SAME index/format as the provider read, with the
    // materialized physical columns appended to the read schema — files
    // written before any rewrite simply lack them and read NULL
    val dataSchema = StructType(snap.dataSchema.fields ++ Seq(
      StructField(matId, LongType, nullable = true),
      StructField(matVer, LongType, nullable = true)))
    val rel = new org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = new DeltaFileIndex(spark, snap),
      partitionSchema = snap.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = GraftParquetFileFormat.forSnapshot(tablePath, snap),
      options = Map("path" -> tablePath))(spark)
    val df = withCurrentIds(spark, tablePath, snap.files,
      spark.baseRelationToDataFrame(rel), matId, matVer)
    df.withColumn(RowIdCol, col(s"`$matId`"))
      .withColumn(RowVersionCol, col(s"`$matVer`"))
      .select((snap.schema.fieldNames.toSeq :+ RowIdCol :+ RowVersionCol)
        .map(c => col(s"`$c`")): _*)
  }
}
