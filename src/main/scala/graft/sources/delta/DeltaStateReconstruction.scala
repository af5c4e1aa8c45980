package graft.sources.delta

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-JOB snapshot state reconstruction — the scale path past the
  * driver-side replay ceiling.
  *
  * [[DeltaLog.snapshot]]'s default replay parses every checkpoint row and
  * commit-JSON line on the DRIVER into a mutable map. That is the plane
  * classic Delta clients use and it is comfortable to ~1M live files; past
  * that the driver heap and single-thread JSON parse become the incident
  * (production delta-spark moved snapshot state reconstruction into Spark
  * jobs for exactly this reason; delta-rs replays through DataFusion —
  * reference capability via `/root/reference/Cargo.toml:16`).
  *
  * This path re-expresses the same replay as ONE declarative plan:
  *
  *   checkpoint parquet (∪ v2 sidecars) ∪ parsed tail commit JSON
  *     → normalized (version, isAdd, add-fields) action frame
  *     → last-action-wins per path (`max_by` over (version, isAdd) — a
  *       partial-aggregating hash agg, so the shuffle carries one candidate
  *       per (path, map-partition), not every historical action)
  *     → live set = winners whose final action is an add
  *
  * Tie-break correctness: within one commit version a remove and an add of
  * the same path net to ADD (the protocol's in-commit ordering) — encoded
  * by `isAdd` as the secondary sort key (false < true). Across versions the
  * later action wins unconditionally.
  *
  * The executors do all O(actions) parsing and deduplication. The winners
  * frame ([[addWinnersFrame]]) is the frame plane's live set:
  * [[DeferredDeltaFiles]] persists it and materializes only what a
  * consumer asks for (the eager snapshot collects all of it). [[replay]]
  * collects only the O(1)/O(appIds) protocol, metaData, txn and domain
  * rows.
  */
private[delta] object DeltaStateReconstruction {

  private val dvType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  private val pvType = MapType(StringType, StringType)

  /** Commit-JSON line schema — only the action fields replay consumes
    * (PERMISSIVE parse ignores the rest: commitInfo, cdc, foreign
    * extensions). */
  private val commitLineType = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", pvType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", pvType),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("stats", StringType),
      StructField("deletionVector", dvType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType),
      StructField("tags", pvType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      // replay ignores it; the distributed VACUUM tombstone plane needs
      // the removal clock (retention starts at REMOVAL, not creation)
      StructField("deletionTimestamp", LongType)))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))),
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))

  /** The checkpoint side of the ADD plane: cp parquet (∪ v2 sidecars)
    * normalized to the action-frame shape, for [[addWinnersFrame]]. Its v2
    * gates (declared version, sidecars carrying `add`) run here, when the
    * frame is built. Removes in a checkpoint are vacuum tombstones, not
    * live state — skipped exactly like the driver path. */
  private[delta] def checkpointAddsFrame(
      spark: SparkSession, tablePath: String,
      cpVersion: Long, parts: Seq[FileStatus]): DataFrame = {
    val cpDf = spark.read.parquet(parts.map(_.getPath.toString): _*)
    DeltaLog.replayReads.addAndGet(parts.size.toLong)
    val cols = cpDf.schema.fieldNames.toSet
    // v2 self-description + sidecar names are O(sidecars) rows — driver
    // plane, same as the commit JSON itself
    if (cols.contains("checkpointMetadata")) {
      cpDf.filter(col("checkpointMetadata").isNotNull)
        .select(col("checkpointMetadata.version")).collect().foreach { r =>
          val declared = r.getLong(0)
          if (declared != cpVersion) throw new IllegalStateException(
            s"$tablePath: v2 checkpoint file named $cpVersion declares version $declared")
        }
    }
    val sidecarNames: Seq[String] =
      if (!cols.contains("sidecar")) Nil
      else cpDf.filter(col("sidecar").isNotNull)
        .select(col("sidecar.path")).collect().map(_.getString(0)).toSeq
    val sidecarDf: Option[DataFrame] =
      if (sidecarNames.isEmpty) None
      else {
        val sidecarDir = new Path(DeltaLog.logDir(tablePath), "_sidecars")
        val abs = sidecarNames.map { p =>
          if (p.contains("/")) p else new Path(sidecarDir, p).toString
        }
        val df = spark.read.parquet(abs: _*)
        DeltaLog.replayReads.addAndGet(abs.size.toLong)
        if (!df.schema.fieldNames.contains("add")) throw new IllegalStateException(
          s"$tablePath: v2 checkpoint sidecars carry no 'add' column " +
            s"(${abs.take(2).mkString(", ")})")
        Some(df)
      }
    (Seq(cpDf) ++ sidecarDf)
      .map(df => checkpointAdds(df, cpVersion))
      .reduce(_ unionByName _)
  }

  /** The metadata planes of `checkpoint ∪ tail commits`, replayed
    * distributed: protocol, metaData, txn and domainMetadata. The live set
    * is the frame plane's ([[addWinnersFrame]], held by
    * [[DeferredDeltaFiles]]); [[DeltaLog]] finishes the snapshot with the
    * gates shared with the driver path. */
  def replay(
      spark: SparkSession,
      tablePath: String,
      cp: Option[(Long, Seq[FileStatus])],
      tailCommits: Seq[(Long, FileStatus)])
      : (Option[DeltaProtocol], Option[DeltaMetadata], Map[String, Long], Map[String, String]) = {

    // ---- checkpoint side: column-pruned reads of the checkpoint parquet
    // (the ADD plane reads it separately through [[checkpointAddsFrame]])
    val cpFrames: Seq[(DataFrame, DataFrame, DataFrame, DataFrame)] = cp.toSeq.map { case (cpVersion, parts) =>
      DeltaLog.replayReads.addAndGet(parts.size.toLong)
      val cpDf = spark.read.parquet(parts.map(_.getPath.toString): _*)
      val cols = cpDf.schema.fieldNames.toSet
      val metas =
        if (!cols.contains("metaData")) emptyMeta(spark)
        else cpDf.filter(col("metaData").isNotNull).select(
          lit(cpVersion).as("version"),
          col("metaData.id").as("id"),
          col("metaData.schemaString").as("schemaString"),
          col("metaData.partitionColumns").as("partitionColumns"),
          col("metaData.configuration").as("configuration"))
      val protos =
        if (!cols.contains("protocol")) emptyProto(spark)
        else {
          val pFields = cpDf.schema("protocol").dataType
            .asInstanceOf[StructType].fieldNames.toSet
          def feat(f: String) =
            if (pFields.contains(f)) col(s"protocol.$f")
            else lit(null).cast(ArrayType(StringType))
          cpDf.filter(col("protocol").isNotNull).select(
            lit(cpVersion).as("version"),
            col("protocol.minReaderVersion").as("minReaderVersion"),
            col("protocol.minWriterVersion").as("minWriterVersion"),
            feat("readerFeatures").as("readerFeatures"),
            feat("writerFeatures").as("writerFeatures"))
        }
      // txn frame from the SAME cpDf (parquet column pruning keeps the
      // txn-only job cheap; a separate read.parquet here would re-list
      // the files and dodge the replayReads accounting)
      val txns =
        if (!cols.contains("txn")) emptyTxn(spark)
        else cpDf.filter(col("txn").isNotNull).select(
          lit(cpVersion).as("version"),
          col("txn.appId").as("appId"),
          col("txn.version").as("txnVersion"))
      val doms =
        if (!cols.contains("domainMetadata")) emptyDomain(spark)
        else {
          val dFields = cpDf.schema("domainMetadata").dataType
            .asInstanceOf[StructType].fieldNames.toSet
          val removed =
            if (dFields.contains("removed"))
              coalesce(col("domainMetadata.removed"), lit(false))
            else lit(false)
          cpDf.filter(col("domainMetadata").isNotNull).select(
            lit(cpVersion).as("version"),
            col("domainMetadata.domain").as("domain"),
            col("domainMetadata.configuration").as("configuration"),
            removed.as("removed"))
        }
      (metas, protos, txns, doms)
    }

    val jsonRaw: Option[DataFrame] = tailActionsFrame(spark, tailCommits)

    // ---- protocol / metaData: last emission wins; one row each
    val jsonMetas = jsonRaw.map(_.filter(col("a.metaData").isNotNull).select(
      col("version"),
      col("a.metaData.id").as("id"),
      col("a.metaData.schemaString").as("schemaString"),
      col("a.metaData.partitionColumns").as("partitionColumns"),
      col("a.metaData.configuration").as("configuration")))
    val metadata: Option[DeltaMetadata] =
      (cpFrames.map(_._1) ++ jsonMetas).reduceOption(_ unionByName _).flatMap {
        _.orderBy(col("version").desc).limit(1).collect().headOption.map { r =>
          DeltaMetadata(
            Option(r.getAs[String]("id")).getOrElse(""),
            r.getAs[String]("schemaString"),
            Option(r.getAs[scala.collection.Seq[String]]("partitionColumns"))
              .map(_.toSeq).getOrElse(Nil),
            Option(r.getAs[scala.collection.Map[String, String]]("configuration"))
              .map(_.toMap).getOrElse(Map.empty))
        }
      }
    val jsonProtos = jsonRaw.map(_.filter(col("a.protocol").isNotNull).select(
      col("version"),
      col("a.protocol.minReaderVersion").as("minReaderVersion"),
      col("a.protocol.minWriterVersion").as("minWriterVersion"),
      col("a.protocol.readerFeatures").as("readerFeatures"),
      col("a.protocol.writerFeatures").as("writerFeatures")))
    val protocol: Option[DeltaProtocol] =
      (cpFrames.map(_._2) ++ jsonProtos).reduceOption(_ unionByName _).flatMap {
        _.orderBy(col("version").desc).limit(1).collect().headOption.map { r =>
          def feat(i: Int): Set[String] =
            Option(r.getAs[scala.collection.Seq[String]](i)).map(_.toSet).getOrElse(Set.empty)
          DeltaProtocol(r.getInt(1), r.getInt(2), feat(3), feat(4))
        }
      }

    // ---- txn: latest SetTransaction per appId (O(appIds) rows collected)
    val cpTxns = cpFrames.map(_._3)
    val jsonTxns = jsonRaw.map(_.filter(col("a.txn").isNotNull).select(
      col("version"),
      col("a.txn.appId").as("appId"),
      col("a.txn.version").as("txnVersion")))
    val txns: Map[String, Long] =
      (cpTxns ++ jsonTxns).reduceOption(_ unionByName _).map {
        _.groupBy(col("appId"))
          .agg(max_by(col("txnVersion"), struct(col("version"), col("txnVersion"))).as("v"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }.getOrElse(Map.empty)

    // ---- domainMetadata: last action per domain wins; removal tombstones
    // drop the domain (O(domains) rows collected, like txn)
    val cpDomains = cpFrames.map(_._4)
    val jsonDomains = jsonRaw.map(_.filter(col("a.domainMetadata").isNotNull).select(
      col("version"),
      col("a.domainMetadata.domain").as("domain"),
      col("a.domainMetadata.configuration").as("configuration"),
      coalesce(col("a.domainMetadata.removed"), lit(false)).as("removed")))
    val domains: Map[String, String] =
      (cpDomains ++ jsonDomains).reduceOption(_ unionByName _).map {
        _.groupBy(col("domain"))
          .agg(max_by(struct(col("configuration"), col("removed")), col("version")).as("w"))
          .filter(!col("w.removed"))
          .select(col("domain"), col("w.configuration"))
          .collect().map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("")).toMap
      }.getOrElse(Map.empty)

    (protocol, metadata, txns, domains)
  }

  /** The JSON tail of the ADD/metadata planes: every action line parsed
    * EXECUTOR-side (a single bulk-load commit can carry millions of adds —
    * the driver path pays that parse single-threaded; this one fans it
    * across the cluster). */
  private[delta] def tailActionsFrame(
      spark: SparkSession, tailCommits: Seq[(Long, FileStatus)]): Option[DataFrame] =
    if (tailCommits.isEmpty) None
    else {
      DeltaLog.replayReads.addAndGet(tailCommits.size.toLong)
      Some(spark.read.text(tailCommits.map(_._2.getPath.toString): _*)
        .filter(length(trim(col("value"))) > 0)
        .select(
          regexp_extract(input_file_name(), """(\d{20})\.json""", 1)
            .cast(LongType).as("version"),
          // FAILFAST: a malformed line (truncated object-store write)
          // must fail the replay LOUDLY like the driver path's
          // mapper.readTree does — the default PERMISSIVE mode would
          // return a null struct and every action filter below would
          // silently drop the line, vanishing a live file or metadata
          // update purely because the table crossed the job-plane size
          // cutover. Valid-but-foreign lines (commitInfo, cdc) still
          // parse fine: missing fields are null, not malformed.
          from_json(col("value"), commitLineType,
            Map("mode" -> "FAILFAST").asJava).as("a")))
    }

  private def jsonAddsOf(jsonRaw: DataFrame): DataFrame =
    jsonRaw.filter(col("a.add").isNotNull).select(
      col("version"), lit(true).as("isAdd"),
      col("a.add.path").as("path"),
      col("a.add.partitionValues").as("partitionValues"),
      col("a.add.size").as("size"),
      coalesce(col("a.add.modificationTime"), lit(0L)).as("modificationTime"),
      col("a.add.stats").as("stats"),
      col("a.add.deletionVector").as("deletionVector"),
      col("a.add.baseRowId").as("baseRowId"),
      col("a.add.defaultRowCommitVersion").as("defaultRowCommitVersion"),
      col("a.add.tags").as("tags"))

  private def jsonRemovesOf(jsonRaw: DataFrame): DataFrame =
    jsonRaw.filter(col("a.remove").isNotNull).select(
      col("version"), lit(false).as("isAdd"),
      col("a.remove.path").as("path"),
      lit(null).cast(pvType).as("partitionValues"),
      lit(0L).as("size"),
      lit(0L).as("modificationTime"),
      lit(null).cast(StringType).as("stats"),
      lit(null).cast(dvType).as("deletionVector"),
      lit(null).cast(LongType).as("baseRowId"),
      lit(null).cast(LongType).as("defaultRowCommitVersion"),
      lit(null).cast(pvType).as("tags"))

  /** Last-action-wins per path over the normalized action frames → the
    * LIVE add set as a still-distributed frame (no driver materialization
    * here — [[collectLive]] decides how much of it reaches the driver). */
  private[delta] def winnersFrame(actionFrames: Seq[DataFrame]): Option[DataFrame] =
    if (actionFrames.isEmpty) None
    else Some(actionFrames.reduce(_ unionByName _)
      .groupBy(col("path"))
      .agg(max_by(
        struct(col("isAdd"), col("partitionValues"), col("size"),
          col("modificationTime"), col("stats"), col("deletionVector"),
          col("baseRowId"), col("defaultRowCommitVersion"), col("tags")),
        struct(col("version"), col("isAdd"))).as("w"))
      .filter(col("w.isAdd"))
      .select(col("path"), col("w.partitionValues"), col("w.size"),
        col("w.modificationTime"), col("w.stats"), col("w.deletionVector"),
        col("w.baseRowId"), col("w.defaultRowCommitVersion"), col("w.tags")))

  /** The whole ADD plane of `checkpoint ∪ tail commits` as ONE deferred
    * frame — the scan path's entry: [[graft.sources.delta.DeferredDeltaFiles]]
    * holds this and materializes only what a pruner lets through. */
  private[delta] def addWinnersFrame(
      spark: SparkSession,
      tablePath: String,
      cp: Option[(Long, Seq[FileStatus])],
      tailCommits: Seq[(Long, FileStatus)]): Option[DataFrame] = {
    val cpAdds = cp.toSeq.map { case (v, parts) =>
      checkpointAddsFrame(spark, tablePath, v, parts)
    }
    val jsonRaw = tailActionsFrame(spark, tailCommits)
    winnersFrame(cpAdds ++ jsonRaw.map(jsonAddsOf) ++ jsonRaw.map(jsonRemovesOf))
  }

  /** Materialize a winners frame into driver-side [[DeltaAddFile]]s,
    * OPTIONALLY pruned EXECUTOR-side first: the pruner runs the exact
    * partition-predicate + stats-skipping logic the driver-side
    * [[DeltaFileIndex]] applies (same code, shipped in the closure), so at
    * a 10M-file table a selective scan materializes only surviving file
    * descriptors instead of the whole live set — the driver-plane bound
    * the r16 verdict flagged. `pruner = None` is the unchanged full-table
    * path. */
  private[delta] def collectLive(
      winners: Option[DataFrame],
      pruner: Option[ScanPruner]): Seq[DeltaAddFile] =
    winners match {
      case None => Nil
      case Some(df) =>
        val pruned = pruner match {
          case None => df
          case Some(p) =>
            val keep = udf((pv: Map[String, String], stats: String) =>
              p.keep(Option(pv).getOrElse(Map.empty), Option(stats)))
            df.filter(keep(col("partitionValues"), col("stats")))
        }
        decodeAddRows(
          pruned
            .sort("path") // deterministic snapshot order across runs
            .collect())
    }

  /** Winners-frame rows (the 9 add columns, in [[winnersFrame]] order) →
    * driver-side [[DeltaAddFile]]s — shared by [[collectLive]] and the
    * streaming pacing plane's slices ([[OrderedSnapshotIndex]]) so the
    * decoding cannot drift between them. */
  private[delta] def decodeAddRows(
      rows: Array[org.apache.spark.sql.Row]): Seq[DeltaAddFile] =
    rows.toSeq.map { r =>
      val dv =
        if (r.isNullAt(5)) None
        else {
          val d = r.getStruct(5)
          Some(DvDescriptor(
            d.getAs[String]("storageType"),
            d.getAs[String]("pathOrInlineDv"),
            if (d.isNullAt(d.fieldIndex("offset"))) None
            else Some(d.getAs[Int]("offset")),
            d.getAs[Int]("sizeInBytes"),
            d.getAs[Long]("cardinality")))
        }
      DeltaAddFile(
        r.getString(0),
        Option(r.getAs[scala.collection.Map[String, String]](1))
          .map(_.toMap).getOrElse(Map.empty),
        r.getLong(2), r.getLong(3),
        Option(r.getAs[String](4)), dv,
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        Option(r.getAs[scala.collection.Map[String, String]](8))
          .map(_.toMap).getOrElse(Map.empty))
    }

  /** A checkpoint/sidecar frame's adds, normalized to the action-frame
    * shape — tolerant of absent optional columns across writer engines,
    * and converting foreign typed `stats_parsed` (the Databricks
    * writeStatsAsStruct layout) back to the JSON string form executor-side
    * via `to_json`, so stats skipping survives on such tables. */
  private def checkpointAdds(df: DataFrame, cpVersion: Long): DataFrame = {
    val addFields = df.schema("add").dataType.asInstanceOf[StructType].fieldNames.toSet
    val statsJson =
      if (addFields.contains("stats")) col("add.stats") else lit(null).cast(StringType)
    val stats =
      if (!addFields.contains("stats_parsed")) statsJson
      else coalesce(statsJson, to_json(col("add.stats_parsed"),
        // micros precision: truncating a max bound to millis makes
        // downstream stats skipping unsound (see DeltaWriter.putStatValue)
        Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
          "timeZone" -> "UTC").asJava))
    val dv =
      if (!addFields.contains("deletionVector")) lit(null).cast(dvType)
      else when(col("add.deletionVector").isNotNull, struct(
        col("add.deletionVector.storageType").as("storageType"),
        col("add.deletionVector.pathOrInlineDv").as("pathOrInlineDv"),
        col("add.deletionVector.offset").cast(IntegerType).as("offset"),
        col("add.deletionVector.sizeInBytes").cast(IntegerType).as("sizeInBytes"),
        col("add.deletionVector.cardinality").cast(LongType).as("cardinality")))
    def optLong(f: String) =
      if (addFields.contains(f)) col(s"add.$f").cast(LongType)
      else lit(null).cast(LongType)
    df.filter(col("add").isNotNull).select(
      lit(cpVersion).as("version"), lit(true).as("isAdd"),
      col("add.path").as("path"),
      (if (addFields.contains("partitionValues")) col("add.partitionValues")
       else lit(null).cast(pvType)).as("partitionValues"),
      col("add.size").cast(LongType).as("size"),
      (if (addFields.contains("modificationTime"))
        coalesce(col("add.modificationTime").cast(LongType), lit(0L))
       else lit(0L)).as("modificationTime"),
      stats.as("stats"),
      dv.as("deletionVector"),
      optLong("baseRowId").as("baseRowId"),
      optLong("defaultRowCommitVersion").as("defaultRowCommitVersion"),
      (if (addFields.contains("tags")) col("add.tags")
       else lit(null).cast(pvType)).as("tags"))
  }

  private def emptyMeta(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("version", LongType),
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", pvType))))

  private def emptyTxn(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("version", LongType),
        StructField("appId", StringType),
        StructField("txnVersion", LongType))))

  private def emptyDomain(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("version", LongType),
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))

  private def emptyProto(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("version", LongType),
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))))
}
