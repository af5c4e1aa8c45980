package graft.sources.delta

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, InsertableRelation, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** `format("delta")` entry point, registered via
  * META-INF/services/org.apache.spark.sql.sources.DataSourceRegister.
  *
  * Reference parity (SURVEY.md §2.1): the reference registers a
  * `TableProviderFactory` keyed `"DELTA"` (`src/lib.rs:37`) reachable as
  * `CREATE EXTERNAL TABLE … STORED AS DELTA LOCATION …` (`tests/local.rs:48`)
  * — here the same surface is `CREATE TABLE c USING delta LOCATION '…'` and
  * `spark.read.format("delta").load(path)`. The read path hands Catalyst a
  * [[HadoopFsRelation]] over a [[DeltaFileIndex]], so FileSourceStrategy
  * drives partition pruning / stats skipping / vectorized parquet scan
  * natively; the write path ([[DeltaWriter]]) EXCEEDS the reference's
  * documented INSERT gap (`tests/local.rs:92-103`).
  *
  * Time travel: `.option("versionAsOf", n)` / `.option("timestampAsOf", ts)`.
  */
class DeltaDataSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "delta"

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    // scanSnapshot: on job-plane tables the live file set stays a
    // DISTRIBUTED frame (deferred) and listFiles prunes executor-side with
    // the pushed filters — planning heap O(survivors) at 10M-file tables.
    // Column-mapped tables defer for free; DV tables defer with only their
    // DV-carrying adds in snap.files (forSnapshot's dvByPath input). Small
    // tables get the eager snapshot (deferred = None), byte-identical to
    // the pre-deferral behavior.
    val (snap, deferred) = DeltaLog.scanSnapshot(
      spark, path,
      versionAsOf = caseGet(parameters, "versionAsOf").map(_.toLong),
      timestampAsOf = caseGet(parameters, "timestampAsOf"))
    // InsertableRelation is mixed in so `INSERT INTO tbl …` at the SQL
    // level routes through DataSourceAnalysis's InsertIntoDataSourceCommand
    // (which calls insert() below → a log-aware ACID commit) instead of the
    // HadoopFsRelation fallback, InsertIntoHadoopFsRelationCommand, which
    // would drop raw parquet files into the directory BEHIND the delta log.
    // This turns the reference's negative test (`tests/local.rs:92-103`:
    // INSERT fails by design) into a positive at the SQL level too, not
    // just via df.write.format("delta"). NB DSv1 caveat: the session
    // catalog caches the resolved plan per table name — a reader that
    // resolved the table BEFORE the insert must `REFRESH TABLE` to see the
    // new snapshot (same contract as any DSv1 file source).
    // Snapshots carrying deletion vectors or column mapping scan through
    // the Graft format; everything else stays on the stock (batch-capable)
    // one — forSnapshot picks, and rejects unreadable mapping modes loudly.
    new HadoopFsRelation(
      location = new DeltaFileIndex(spark, snap, deferred),
      partitionSchema = snap.partitionSchema,
      dataSchema = snap.dataSchema,
      bucketSpec = None,
      fileFormat = GraftParquetFileFormat.forSnapshot(path, snap),
      options = parameters)(spark) with InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit =
        DeltaWriter.write(
          data, path,
          if (overwrite) SaveMode.Overwrite else SaveMode.Append,
          snap.partitionColumns)
    }
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    // Batch idempotent writes (production's txnAppId/txnVersion options):
    // a redelivered batch — same appId, version at or below the recorded
    // SetTransaction high-water mark — is a no-op, the retry contract an
    // orchestrator (Airflow re-run, speculative retry) relies on. Same
    // protocol `txn` action the streaming sink keys exactly-once on.
    val txn: Option[(String, Long)] =
      (caseGet(parameters, "txnAppId"), caseGet(parameters, "txnVersion")) match {
        case (Some(a), Some(v)) => Some((a, v.trim.toLong))
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "txnAppId and txnVersion must be set together")
      }
    caseGet(parameters, "replaceWhere") match {
      case Some(cond) =>
        require(mode == SaveMode.Overwrite,
          "replaceWhere requires SaveMode.Overwrite")
        require(txn.isEmpty,
          "txnAppId/txnVersion is not supported with replaceWhere")
        DeltaMaintenance.replaceWhere(sqlContext.sparkSession, path, data, cond)
      case None =>
        DeltaWriter.write(data, path, mode, partitionColumnsOf(parameters),
          mergeSchema = caseGet(parameters, "mergeSchema").exists(_.toBoolean),
          txn = txn)
    }
    createRelation(sqlContext, parameters)
  }

  // ---- streaming source (readStream.format("delta")) ----

  private def cdfRequested(parameters: Map[String, String]): Boolean =
    caseGet(parameters, "readChangeFeed").exists(_.trim.equalsIgnoreCase("true"))

  private def streamSchema(
      sqlContext: SQLContext, parameters: Map[String, String]): StructType = {
    // metadata-only: schema resolution never needs the live set
    val base = DeltaLog.metadataSnapshot(sqlContext.sparkSession, pathOf(parameters)).schema
    if (!cdfRequested(parameters)) base
    else base.add(DeltaCdf.TypeCol, "string")
      .add(DeltaCdf.VersionCol, "bigint")
      .add(DeltaCdf.TimestampCol, "timestamp")
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(streamSchema(sqlContext, parameters)))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val path = pathOf(parameters)
    val s = schema.getOrElse(streamSchema(sqlContext, parameters))
    val fromVersion = caseGet(parameters, "startingVersion")
    val fromTimestamp = caseGet(parameters, "startingTimestamp")
    require(fromVersion.isEmpty || fromTimestamp.isEmpty,
      "specify startingVersion OR startingTimestamp, not both")
    new DeltaStreamingSource(sqlContext, path, s,
      caseGet(parameters, "ignoreDataChangeRemoves").exists(_.toBoolean),
      changeFeed = cdfRequested(parameters),
      startingVersion = fromVersion.map { v =>
        // "latest" (production surface): only commits AFTER stream start
        if (v.trim.equalsIgnoreCase("latest"))
          DeltaLog.latestVersion(sqlContext.sparkSession, path) + 1
        else v.trim.toLong
      }.orElse(fromTimestamp.map(ts =>
        // commits at or after ts (the production startingTimestamp)
        DeltaLog.earliestVersionAtOrAfter(sqlContext.sparkSession, path, ts))),
      maxFilesPerTrigger = caseGet(parameters, "maxFilesPerTrigger").map { v =>
        val n = v.trim.toInt
        require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
        n
      },
      maxBytesPerTrigger = caseGet(parameters, "maxBytesPerTrigger").map { v =>
        // accepts "10m"/"1g" size strings like production
        val n = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v.trim)
        require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
        n
      })
  }

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val parts =
      if (partitionColumns.nonEmpty) partitionColumns else partitionColumnsOf(parameters)
    new DeltaStreamingSink(sqlContext, pathOf(parameters), parts, outputMode,
      caseGet(parameters, "txnAppId"),
      caseGet(parameters, "mergeSchema").exists(_.trim.toBoolean))
  }

  private def pathOf(parameters: Map[String, String]): String =
    caseGet(parameters, "path").getOrElse(
      throw new IllegalArgumentException("'path' is required for the delta source"))

  private def caseGet(parameters: Map[String, String], key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** DataFrameWriter.partitionBy arrives JSON-encoded under
    * `__partition_columns` (DataSourceUtils.PARTITIONING_COLUMNS_KEY);
    * `option("partitionBy", "a,b")` is accepted as a convenience too. */
  private def partitionColumnsOf(parameters: Map[String, String]): Seq[String] =
    caseGet(parameters, "__partition_columns") match {
      case Some(json) =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        import scala.jdk.CollectionConverters._
        node.elements().asScala.map(_.asText()).toSeq
      case None =>
        caseGet(parameters, "partitionBy").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
    }
}

/** Scala-friendly facade mirroring the reference's session-builder surface
  * (`custom_session_state`, `src/lib.rs:30-42`): one call registers nothing
  * globally — the format is service-loaded — but gives a typed read/write
  * API with time travel. */
object DeltaTable {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("delta").load(path)

  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.format("delta").option("versionAsOf", version).load(path)

  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Append,
      partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None): Unit =
    DeltaWriter.write(df, path, mode, partitionBy, mergeSchema, txn = txn)

  def snapshot(spark: SparkSession, path: String): DeltaSnapshot =
    DeltaLog.snapshot(spark, path)

  /** Incremental change read (append-level CDC): the rows ADDED in
    * versions (fromExclusive, toInclusive], each tagged with
    * `_commit_version`. Compaction rewrites (dataChange=false) are
    * excluded, so polling this in a loop — or from a foreachBatch driver —
    * consumes each row exactly once WHILE the range is append-only; a
    * data-removing commit (Overwrite/DELETE) in the range fails fast
    * unless `ignoreDataChangeRemoves=true` (production Delta's
    * `ignoreChanges` analog — consumer accepts reprocessed rows). */
  def readChanges(
      spark: SparkSession,
      path: String,
      fromExclusive: Long,
      toInclusive: Long,
      ignoreDataChangeRemoves: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // schema/partitioning/mapping only — the per-version file lists come
    // from the range's commit JSONs below, so a streaming consumer's
    // per-batch call must not pay a live-set materialization here
    val snap = DeltaLog.metadataSnapshot(spark, path)
    val outSchema = snap.schema.add("_commit_version", "bigint")
    // a DV attach's re-add serves only the rows its vector leaves visible
    val perVersion = for {
      (version, adds) <- DeltaLog.changes(spark, path, fromExclusive, toInclusive,
        ignoreDataChangeRemoves)
      if adds.nonEmpty
    } yield {
      readFiles(spark, path, snap, adds)
        .withColumn("_commit_version", lit(version))
        .select(outSchema.fieldNames.map(col).toIndexedSeq: _*)
    }
    perVersion.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema))
  }

  /** `files` (add descriptors of `snap`'s table) through the provider's
    * own relation over a file-subset copy of the snapshot: deletion
    * vectors, column mapping and partition values apply exactly as in a
    * full scan. */
  private[delta] def readFiles(
      spark: SparkSession, path: String, snap: DeltaSnapshot,
      files: Seq[DeltaAddFile]): DataFrame = {
    val slice = snap.copy(files = files)
    spark.baseRelationToDataFrame(
      new org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        location = new DeltaFileIndex(spark, slice),
        partitionSchema = snap.partitionSchema,
        dataSchema = snap.dataSchema,
        bucketSpec = None,
        fileFormat = GraftParquetFileFormat.forSnapshot(path, slice),
        options = Map.empty)(spark))
  }

  /** Change Data Feed read (row-level CDC — requires
    * `delta.enableChangeDataFeed=true`): the change rows of versions
    * (fromExclusive, toInclusive], tagged `_change_type`
    * (insert / delete / update_preimage / update_postimage),
    * `_commit_version`, `_commit_timestamp`. SQL form:
    * `SELECT … FROM table_changes('/path', startVersion[, endVersion])`. */
  def readCdf(
      spark: SparkSession,
      path: String,
      fromExclusive: Long,
      toInclusive: Long): DataFrame =
    DeltaCdf.read(spark, path, fromExclusive, toInclusive)
}
