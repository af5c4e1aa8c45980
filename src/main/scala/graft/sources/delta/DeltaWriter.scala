package graft.sources.delta

import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta writer (protocol writer v2): parquet files under hive partition
  * dirs + an atomically-published JSON commit with `add`/`remove`/
  * `commitInfo` actions and per-file min/max/nullCount stats, plus a parquet
  * checkpoint every [[DeltaWriter.CheckpointInterval]] commits.
  *
  * This EXCEEDS the reference, where INSERT over the distributed engine is
  * a documented failure (`examples/local_standalone.rs:38-47`,
  * `tests/local.rs:100-103` asserts the error): Spark ships closures to
  * executors natively, so the provider-serialization problem that blocked
  * delta-rs over Ballista does not exist here.
  *
  * Scale posture: the data files are written by Spark's distributed parquet
  * writer (one task per partition) through the one staging write
  * ([[stage]]); per-file stats come from the parquet footers, with one
  * distributed pass grouped by `input_file_name()` only for files footers
  * cannot serve; only the O(#files) commit-JSON assembly is driver-side,
  * same as any Delta writer.
  */
object DeltaWriter {

  val CheckpointInterval = 10
  private val mapper = new ObjectMapper()

  /** Upgrade `proto` with the reader-writer table features the schema's
    * column TYPES demand (spec): TIMESTAMP_NTZ → `timestampNtz` (a reader
    * without it decodes the column with a UTC adjustment — silently wrong
    * values), VARIANT → `variantType` (a reader without it cannot decode
    * the binary encoding at all). Applied at table creation AND on every
    * schema evolution, so a mergeSchema append that introduces such a
    * column upgrades the protocol in the same commit. */
  private def withTypedColumnFeatures(
      proto: DeltaProtocol,
      schema: StructType,
      mappingActive: Boolean = false): DeltaProtocol = {
    def has(dt: DataType)(pred: DataType => Boolean): Boolean = dt match {
      case t if pred(t) => true
      case s: StructType => s.fields.exists(f => has(f.dataType)(pred))
      case a: ArrayType => has(a.elementType)(pred)
      case m: MapType => has(m.keyType)(pred) || has(m.valueType)(pred)
      case _ => false
    }
    var out = proto
    if (has(schema)(_ == TimestampNTZType))
      out = out.withReaderWriterFeature("timestampNtz", mappingActive)
    if (has(schema)(_ == VariantType))
      out = out.withReaderWriterFeature("variantType", mappingActive)
    out
  }

  /** On a column-mapped table EVERYTHING below the log speaks physical
    * names: parquet column names, stats keys, hive partition directories
    * and `partitionValues` keys. Rewrite/append paths call these just
    * before staging a write (the DataFrame stays logical until then). */
  private[delta] def physicalized(df: DataFrame, meta: DeltaMetadata): DataFrame =
    if (!meta.hasColumnMapping && meta.columnMappingMode != "id") df
    else if (DeltaMetadata.nestedPhysicalPaths(meta.schema).nonEmpty)
      // reads translate nested names (GraftParquetFileFormat); writes would
      // need the recursion on every staging path — refuse loudly rather
      // than stage files whose NESTED names silently disagree with the log
      throw new UnsupportedOperationException(
        "writing to a table that maps NESTED column names is not " +
          "supported (reads are); rewrite via a foreign writer or flatten")
    else if (meta.columnMappingMode != "id")
      df.toDF(df.columns.map(meta.physicalOf).toIndexedSeq: _*)
    else {
      // id mode: besides the physical rename, stamp each column's parquet
      // field id (parquet.field.id metadata → Spark writes it into the
      // file footer) so field-id-matching readers resolve our files
      val byName = meta.schema.fields.map(f => f.name -> f).toMap
      df.select(df.columns.map { c =>
        byName.get(c).filter(_.metadata.contains(DeltaMetadata.ColumnIdKey)) match {
          case Some(f) =>
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", f.metadata.getLong(DeltaMetadata.ColumnIdKey))
              .build()
            org.apache.spark.sql.functions.col(c).as(meta.physicalOf(c), md)
          case None => org.apache.spark.sql.functions.col(c).as(meta.physicalOf(c))
        }
      }.toIndexedSeq: _*)
    }

  private[delta] def physicalSchema(schema: StructType, meta: DeltaMetadata): StructType =
    if (!meta.hasColumnMapping) schema
    else StructType(schema.fields.map(f => f.copy(name = meta.physicalOf(f.name))))

  val GenerationExpressionKey = "delta.generationExpression"

  // Column defaults (allowColumnDefaults): Spark's own field-metadata key.
  // Production semantics — the default applies to FUTURE writes only (the
  // writer materializes it for columns omitted from a write); rows in
  // files older than the default read NULL.
  val CurrentDefaultKey = "CURRENT_DEFAULT"

  // Identity columns (GENERATED ALWAYS AS IDENTITY — the protocol's
  // identityColumns capability, legacy writer v6): declaration + high
  // water mark live in field metadata, exactly where production puts them.
  val IdentityStartKey = "delta.identity.start"
  val IdentityStepKey = "delta.identity.step"
  val IdentityHwmKey = "delta.identity.highWaterMark"

  private[delta] def identityFieldsOf(schema: StructType): Seq[StructField] =
    schema.fields.filter(_.metadata.contains(IdentityStartKey)).toSeq

  private[delta] def identityHwm(f: StructField): Long =
    if (f.metadata.contains(IdentityHwmKey)) f.metadata.getLong(IdentityHwmKey)
    else f.metadata.getLong(IdentityStartKey) - f.metadata.getLong(IdentityStepKey)

  /** Assign identity values to every row of `df` (which must OMIT the
    * identity columns), continuing from `fromHwm`. Shared by the append
    * path and MERGE INSERT — both hand out ids the same way, and both
    * verify at commit time that the hwm they assigned from is still
    * current. Scale posture: per-partition range allocation entirely in
    * the DataFrame/codegen path — `monotonically_increasing_id` gives
    * each row a stable (partition, local-index) pair; ONE codegen'd
    * aggregate counts rows per partition; driver-side prefix sums
    * (O(partitions)) become per-partition start offsets broadcast-joined
    * back, so ids are contiguous hwm+step, hwm+2·step, ….
    *
    * Returns (frame with identity columns appended, new hwm per column,
    * row count, pinned frame the CALLER must unpersist after its terminal
    * action — the counts job and the assignment must read one
    * materialization). */
  private[delta] def assignIdentityValues(
      df: DataFrame,
      identityFields: Seq[StructField],
      fromHwm: Map[String, Long]): (DataFrame, Map[String, Long], Long, Option[DataFrame]) = {
    if (identityFields.isEmpty) return (df, Map.empty, -1L, None)
    val spark = df.sparkSession
    val mid = "_graft_mid"
    val withMid = df.withColumn(mid, monotonically_increasing_id()).persist()
    val counts = withMid.groupBy(shiftright(col(mid), 33).as("_graft_pid"))
      .count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    val newHwm = identityFields.map { f =>
      val step = f.metadata.getLong(IdentityStepKey)
      f.name -> (fromHwm(f.name) + step * n)
    }.toMap
    val offsetRows = {
      var acc = 0L
      counts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
    }
    val offsetsDf = spark.createDataFrame(
      java.util.Arrays.asList(offsetRows.map(t =>
        org.apache.spark.sql.Row(t._1, t._2)): _*),
      StructType(Seq(StructField("_graft_pid", LongType),
        StructField("_graft_off", LongType))))
    val joined = withMid
      .withColumn("_graft_pid", shiftright(col(mid), 33))
      .join(broadcast(offsetsDf), "_graft_pid")
    val localIdx = col(mid).bitwiseAND(lit((1L << 33) - 1))
    val outCols = df.columns.map(col) ++ identityFields.map { f =>
      val step = f.metadata.getLong(IdentityStepKey)
      (lit(fromHwm(f.name) + step) +
        (col("_graft_off") + localIdx) * lit(step)).as(f.name)
    }
    (joined.select(outCols.toIndexedSeq: _*), newHwm, n, Some(withMid))
  }

  /** Stamp advanced identity high water marks into `schema` ahead of a
    * metaData re-emission; `decls` carry the start/step declarations the
    * stamped metadata must preserve. */
  private[delta] def stampIdentityHwm(
      schema: StructType,
      decls: Seq[StructField],
      newHwm: Map[String, Long]): StructType =
    if (newHwm.isEmpty) schema
    else StructType(schema.fields.map { f =>
      newHwm.get(f.name) match {
        case Some(hwm) =>
          val decl = decls.find(_.name == f.name).get
          f.copy(nullable = false, metadata = new MetadataBuilder()
            .withMetadata(decl.metadata).putLong(IdentityHwmKey, hwm).build())
        case None => f
      }
    })

  /** Generation expressions declared in a schema's field metadata —
    * exactly where the Delta protocol's generated-columns feature puts
    * them. */
  private[delta] def generationExprsOf(schema: StructType): Map[String, String] =
    schema.fields.collect {
      case f if f.metadata.contains(GenerationExpressionKey) =>
        f.name -> f.metadata.getString(GenerationExpressionKey)
    }.toMap

  /** @param identityColumns creation-time identity declarations
    *        (column → (start, step)); GENERATED ALWAYS — later writes must
    *        OMIT the column and get values assigned (existing tables
    *        declare via their schema metadata, not this parameter) */
  def write(
      data: DataFrame,
      tablePath: String,
      mode: SaveMode,
      partitionByOpt: Seq[String],
      mergeSchema: Boolean = false,
      optimizeWrite: Boolean = false,
      generatedColumns: Map[String, String] = Map.empty,
      identityColumns: Map[String, (Long, Long)] = Map.empty,
      txn: Option[(String, Long)] = None): Unit = {
    val spark = data.sparkSession
    val exists = try DeltaLog.isDeltaTable(spark, tablePath) catch { case _: Exception => false }

    // metadata planes only (schema/config/protocol/txns): the write path
    // never consults `existing.files` — Overwrite's removes come from the
    // commit loop's per-attempt `current` — so the hot append path of a
    // job-plane table must not pay a live-set materialization per write
    val existing: Option[DeltaSnapshot] =
      if (exists) Some(DeltaLog.metadataSnapshot(spark, tablePath)) else None
    existing.foreach(_.assertWritable("WRITE"))

    existing match {
      case Some(_) if mode == SaveMode.ErrorIfExists =>
        throw new IllegalArgumentException(s"Delta table already exists at $tablePath (mode=ErrorIfExists)")
      case Some(_) if mode == SaveMode.Ignore => return
      case Some(snap) if mode == SaveMode.Overwrite =>
        // overwriting an existing table removes its files with
        // dataChange=true — forbidden on an append-only table
        snap.assertRemovable("OVERWRITE")
      case _ =>
    }

    // SetTransaction idempotence (protocol `txn` action): a redelivered
    // batch — same appId, version at or below the recorded one — is a
    // NO-OP before any data is staged. Streaming sinks key exactly-once
    // on this (appId = query id, version = batchId).
    txn.foreach { case (appId, v) =>
      if (existing.exists(_.transactions.get(appId).exists(_ >= v))) return
    }

    // Generated columns (`GENERATED ALWAYS AS (expr)`): the expressions
    // come from the table's schema metadata once it exists — the creating
    // write declares them via `generatedColumns`. A write that OMITS a
    // generated column gets it computed; a write that PROVIDES one is
    // validated value-by-value against the expression (production Delta's
    // contract — silently diverging materialized values would corrupt
    // every downstream pruning decision on them).
    val genExprs: Map[String, String] = existing match {
      case Some(snap) =>
        val declared = generationExprsOf(snap.schema)
        if (generatedColumns.nonEmpty && generatedColumns != declared)
          throw new IllegalArgumentException(
            s"generatedColumns ${generatedColumns.mkString(",")} does not match " +
              s"the table's declared generation expressions ${declared.mkString(",")}")
        declared
      case None => generatedColumns
    }
    val data1 = genExprs.foldLeft(data) { case (df, (c, e)) =>
      if (df.columns.contains(c)) df
      else {
        val computed = df.withColumn(c, expr(e))
        existing.foldLeft(computed)((d, snap) =>
          d.withColumn(c, col(c).cast(snap.schema(c).dataType)))
      }
    }
    val toValidate = genExprs.filter { case (c, _) => data.columns.contains(c) }
    if (toValidate.nonEmpty) {
      val aggs = toValidate.toSeq.map { case (c, e) =>
        count(when(!(col(c) <=> expr(e)), 1)).as(c)
      }
      val row = data1.agg(aggs.head, aggs.tail: _*).collect()(0)
      toValidate.toSeq.zipWithIndex.foreach { case ((c, e), i) =>
        if (row.getLong(i) > 0) throw new IllegalArgumentException(
          s"provided values for generated column $c do not match its " +
            s"generation expression ($e): ${row.getLong(i)} row(s)")
      }
    }

    val partitionCols: Seq[String] = existing match {
      case Some(snap) =>
        if (partitionByOpt.nonEmpty && partitionByOpt != snap.partitionColumns)
          throw new IllegalArgumentException(
            s"partitionBy ${partitionByOpt.mkString(",")} does not match existing " +
              s"table partitioning ${snap.partitionColumns.mkString(",")}")
        snap.partitionColumns
      case None => partitionByOpt
    }

    // Identity declarations resolve BEFORE the schema-drift check: an
    // identity column is expected absent from the write, and providing one
    // must fail as GENERATED ALWAYS, not as drift.
    require(existing.isEmpty || identityColumns.isEmpty,
      "identityColumns may only be declared at table creation")
    // Column defaults (allowColumnDefaults writer feature): a write that
    // OMITS a column carrying CURRENT_DEFAULT metadata gets the default
    // materialized (production semantics) — BEFORE the drift check below,
    // so omission is never a schema mismatch. A write that PROVIDES the
    // column keeps its values (explicit NULL stays NULL).
    val data1d = existing.map(_.schema).map { sch =>
      sch.fields.filter(f =>
        f.metadata.contains(CurrentDefaultKey) && !data1.columns.contains(f.name))
        .foldLeft(data1) { (df, f) =>
          df.withColumn(f.name,
            expr(f.metadata.getString(CurrentDefaultKey)).cast(f.dataType))
        }
    }.getOrElse(data1)

    val identityFields: Seq[StructField] = existing match {
      case Some(snap) => identityFieldsOf(snap.schema)
      case None => identityColumns.toSeq.map { case (c, (st, sp)) =>
        require(sp != 0, s"identity step of $c must be non-zero")
        StructField(c, LongType, nullable = false,
          metadata = new MetadataBuilder()
            .putLong(IdentityStartKey, st).putLong(IdentityStepKey, sp).build())
      }
    }
    val providedIdentity = identityFields.map(_.name).filter(data1d.columns.contains)
    require(providedIdentity.isEmpty,
      s"identity column(s) ${providedIdentity.mkString(",")} are GENERATED " +
        "ALWAYS — remove them from the write")

    // Schema evolution (writer v2 metadata update): with mergeSchema, a
    // write whose columns are a SUPERSET of the table's appends the new
    // columns (nullable) to the log schema — existing files simply read
    // NULL for them (the parquet reader fills missing columns). Anything
    // else stays a hard error: silent drift is how data lakes rot.
    val evolvedSchema: Option[StructType] = existing.flatMap { snap =>
      // identity columns are expected to be ABSENT from the write (they
      // are assigned below) — not a schema mismatch
      val want = snap.schema.fieldNames.toSet -- identityFieldsOf(snap.schema).map(_.name)
      val have = data1d.schema.fieldNames.toSet
      if (want == have) None
      else if (mergeSchema && (want -- have).isEmpty) {
        if (snap.metadata.hasColumnMapping) throw new UnsupportedOperationException(
          "mergeSchema on a column-mapped table is not supported: new columns " +
            "need mapping ids — use ALTER TABLE … ADD COLUMNS instead")
        val added = data1d.schema.filter(f => !want.contains(f.name)).map(_.copy(nullable = true))
        Some(StructType(snap.schema.fields ++ added))
      } else throw new IllegalArgumentException(
        s"schema mismatch: table has ${want.toSeq.sorted.mkString(",")}, " +
          s"write has ${have.toSeq.sorted.mkString(",")}" +
          (if (!mergeSchema && (want -- have).isEmpty)
            " (set mergeSchema=true to add the new columns)" else ""))
    }

    // ---- identity columns: assign values for writes that (correctly)
    // omit them. Scale posture: per-partition range allocation, entirely
    // in the DataFrame/codegen path — monotonically_increasing_id gives
    // each row a stable (partition, local-index) pair (pid in the upper
    // bits, a contiguous per-partition counter in the lower 33); ONE
    // codegen'd aggregate counts rows per partition (and the total for the
    // new high water mark — zipWithIndex's extra count job and its RDD
    // round-trip are both gone); driver-side prefix sums (O(partitions))
    // become per-partition start offsets, broadcast-joined back so ids are
    // contiguous hwm+step, hwm+2·step, … exactly as before. Persisted so
    // the counts job and the assignment read the SAME materialization.
    // hwm the assignment is based on — the commit loop verifies it is
    // still current at commit time (a concurrent identity write would
    // otherwise hand out duplicate ids)
    val assignedFromHwm: Map[String, Long] =
      identityFields.map(f => f.name -> identityHwm(f)).toMap
    val (data1i, identityNewHwm, _, identityPinned) =
      assignIdentityValues(data1d, identityFields, assignedFromHwm)

    // CHECK constraints of the existing table apply to every incoming row
    // (validated AFTER identity assignment — constraints may reference it).
    // A violation throwing HERE is a routine path and runs before the
    // staging block's finally — unpersist the identity frame on the way out
    val data1g = try {
      existing.foreach(snap => DeltaConstraints.validate(data1i, snap, "WRITE"))
      // NOT NULL invariants (the `invariants` writer capability): inline
      // raise-on-null guards on the table's non-nullable columns — the
      // incoming frame's own nullability says nothing about its VALUES
      existing
        .map(snap => DeltaConstraints.notNullGuarded(data1i, snap.schema, "WRITE"))
        .getOrElse(data1i)
    } catch {
      case e: Throwable => identityPinned.foreach(_.unpersist()); throw e
    }

    // ---- 1. stage + publish the data files (one distributed parquet
    // write). optimizeWrite: one shuffle by the partition columns so each
    // hive partition is written by one task -> ~one file per partition per
    // commit (prevents the small-files problem OPTIMIZE exists to cure).
    // Column-mapped tables stage under PHYSICAL names (parquet columns,
    // hive dirs, stats keys); everything above this point stays logical.
    val meta = existing.map(_.metadata)
    val physOf: String => String = n => meta.map(_.physicalOf(n)).getOrElse(n)
    val data2 = meta.map(m => physicalized(data1g, m)).getOrElse(data1g)
    val physPartitionCols = partitionCols.map(physOf)
    val toWrite =
      if (optimizeWrite && physPartitionCols.nonEmpty)
        data2.repartition(physPartitionCols.map(col): _*)
      else data2
    val published =
      try stage(spark, tablePath, toWrite, physPartitionCols,
        StructType(data2.schema.filterNot(f => physPartitionCols.contains(f.name))),
        meta.map(_.configuration).getOrElse(Map.empty))
      finally identityPinned.foreach(_.unpersist())
    val adds = published.files
    val dropStaged = () => published.discard()

    // ---- 2. commit (retry on concurrent-writer version conflict)
    // the last table config this loop replayed — reused by the
    // auto-compact flag check so a disabled flag costs no extra replay
    var lastKnownConfig: Option[Map[String, String]] = None
    val outcome = DeltaCommit.run(spark, tablePath, "WRITE", dropStaged) {
      // Overwrite is the ONE mode that needs the live set here (its
      // remove lines, emitted below — O(files) commit content by
      // definition); every other mode re-reads metadata planes only
      val current: Option[DeltaSnapshot] =
        if (!DeltaLog.isDeltaTable(spark, tablePath)) None
        else if (mode == SaveMode.Overwrite) Some(DeltaLog.snapshot(spark, tablePath))
        else Some(DeltaLog.metadataSnapshot(spark, tablePath))
      lastKnownConfig = current.map(_.metadata.configuration)
      // identity safety: the ids were assigned from `assignedFromHwm`; a
      // concurrent identity write that advanced the hwm since would make
      // this commit hand out DUPLICATE ids — abort instead of retrying
      current.foreach { cur =>
        identityFieldsOf(cur.schema).foreach { f =>
          if (assignedFromHwm.get(f.name).exists(_ != identityHwm(f))) {
            // same cleanup as every other abort path: the staged files
            // were already published into the table dir and would orphan
            dropStaged()
            throw new java.util.ConcurrentModificationException(
              s"identity column ${f.name} advanced concurrently " +
                s"(${assignedFromHwm(f.name)} -> ${identityHwm(f)}); rerun the write")
          }
        }
      }
      // concurrent same-app redelivery: another writer committed this
      // (appId, version) between our snapshot and this commit attempt —
      // drop the published-but-never-referenced files, succeed as a no-op
      if (txn.exists { case (appId, v) =>
            current.exists(_.transactions.get(appId).exists(_ >= v)) }) {
        dropStaged()
        Left(current.get.version)
      } else {
        // logical conflict check (WriteSerializable): a blind append
        // tolerates ANY concurrent file activity — appends, DML, OPTIMIZE
        // on other files all interleave — but not a metadata or protocol
        // change (schema/constraints/CDF this write validated against no
        // longer hold), nor a concurrent CREATION of the table it was
        // about to create (committing v1 blind on a stranger's v0 schema).
        (existing, current) match {
          case (Some(base), Some(cur)) =>
            ConflictChecker.checkTableState("WRITE", base, cur, dropStaged)
          case (None, Some(_)) =>
            dropStaged()
            throw new java.util.ConcurrentModificationException(
              s"WRITE aborted on $tablePath: the table was created by a " +
                "concurrent writer; rerun the write against the existing table")
          case _ => ()
        }
        // identity hwm stamped into the schema a metaData emission carries
        def withIdentityHwm(schema: StructType): StructType =
          stampIdentityHwm(schema, identityFields, identityNewHwm)
        val (protocol, metadata) = current match {
          case None =>
            val schema0 = withIdentityHwm(withGenMetadata(data1i.schema, genExprs))
            // identity columns are legacy writer v6 — older writers would
            // append without maintaining the high water mark
            val legacy = DeltaProtocol(1, if (identityFields.nonEmpty) 6 else 2)
            (Some(withTypedColumnFeatures(legacy, StructType(schema0.fields))),
              Some(DeltaMetadata(UUID.randomUUID().toString, schema0.json,
                partitionCols, Map.empty)))
          case Some(cur) =>
            // metaData re-emission (same table id — replay is
            // last-metaData-wins): schema evolution and/or identity hwm
            // advance
            val base = evolvedSchema.getOrElse(cur.metadata.schema)
            // schema evolution can INTRODUCE typed columns the table's
            // current protocol cannot describe (mergeSchema adding a
            // TIMESTAMP_NTZ or VARIANT column to a legacy (1,2) table): the
            // same commit must upgrade the protocol, or a spec-conforming
            // foreign reader would decode ntz with a UTC shift / refuse the
            // table entirely
            val wanted = withTypedColumnFeatures(cur.protocol, base,
              mappingActive = cur.metadata.hasColumnMapping)
            (Some(wanted).filter(_ != cur.protocol),
              if (evolvedSchema.isEmpty && identityNewHwm.isEmpty) None
              else Some(cur.metadata.copy(schemaString = withIdentityHwm(base).json)))
        }
        val version = current.map(_.version + 1).getOrElse(0L)
        val removes =
          if (mode != SaveMode.Overwrite) Nil
          else current.toSeq.flatMap(_.files.map(f => DeltaCommit.removeLine(f.path)))
        // row tracking: allocate baseRowIds from THIS attempt's snapshot
        // hwm (a retry re-bases on the concurrent winner's hwm)
        Right(DeltaCommit.Txn(current, "WRITE",
          parameters = Seq(
            "mode" -> mode.toString,
            "partitionBy" -> mapper.writeValueAsString(
              partitionCols.foldLeft(mapper.createArrayNode())((a, c) => a.add(c)))),
          metrics = Map(
            "numFiles" -> adds.size.toLong,
            "numOutputRows" -> adds.flatMap(_._5)
              .flatMap(n => Option(n.get("numRecords")).map(_.asLong())).sum),
          // production Delta's read-set exemption signal: an append reads
          // nothing, so concurrent readers need not conflict with it
          // (ConflictChecker.checkReadSet / DeltaLog.nonBlindDataAdds key on
          // this the way delta-spark keys on its own isBlindAppend)
          isBlindAppend = Some(mode == SaveMode.Append),
          // SetTransaction: records (appId, version) in THIS commit so
          // replay exposes it via snapshot.transactions for redelivery
          setTransaction = txn,
          protocol = protocol,
          metadata = metadata,
          actions = removes ++ DeltaCommit.stagedAddLines(current, adds, version)))
      }
    }
    if (outcome.isLeft) return
    maybeAutoCompact(spark, tablePath, lastKnownConfig)
  }

  /** Auto compaction (`delta.autoOptimize.autoCompact=true`): after a
    * successful write, bin-pack any partition that has accumulated
    * `spark.graft.delta.autoCompact.minNumFiles` (default 50) small files
    * — the production steady-state answer to streaming/micro-batch
    * small-file creep, without a scheduled OPTIMIZE job. The compaction is
    * the standard `dataChange=false` commit; concurrent-writer aborts
    * inside it are swallowed (compaction is best-effort by design — the
    * NEXT write retries). */
  private def maybeAutoCompact(
      spark: SparkSession, tablePath: String,
      knownConfig: Option[Map[String, String]]): Unit = {
    // the flag is checked from the commit loop's ALREADY-REPLAYED config
    // when available — the common disabled case must not pay a fresh full
    // log replay per append just to read one key
    val enabled = knownConfig
      .getOrElse(DeltaLog.metadataSnapshot(spark, tablePath).metadata.configuration)
      .get("delta.autoOptimize.autoCompact")
      .exists(_.trim.equalsIgnoreCase("true"))
    if (!enabled) return
    val minN = spark.conf.getOption("spark.graft.delta.autoCompact.minNumFiles")
      .map(_.trim.toInt).getOrElse(50)
    val target = 128L << 20
    // "any partition with >= minN small files?" — a distributed agg on
    // job-plane tables (one boolean to the driver), the in-memory group
    // on small ones: the post-append trigger check must not cost O(files)
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath, withDvAdds = false)
    val creeping = deferred match {
      case Some(d) => d.aggregate(fr =>
        fr.filter(col("size") < target)
          .groupBy(col("partitionValues")).count()
          .filter(col("count") >= minN.toLong)
          .limit(1).count() > 0, false)
      case None => snap.files.filter(_.size < target)
        .groupBy(_.partitionValues).exists(_._2.size >= minN)
    }
    if (creeping)
      try DeltaMaintenance.optimize(spark, tablePath, target)
      catch { case _: java.util.ConcurrentModificationException => () }
  }

  /** Hadoop-committer options for every staging parquet write ([[stage]]
    * and the checkpoint's part files): a staging dir is private to one
    * statement — its files are published by our own rename loop and the
    * whole dir is deleted however the write ends — so the default v1
    * committer's two-phase rename (task → `_temporary/<job>`, then a
    * SEQUENTIAL driver-side rename pass at job commit) buys no atomicity
    * here and costs an extra O(files) driver rename pass per commit: at
    * production file counts that pass, not the data, bounds commit latency
    * (and on object stores each rename is a copy). Algorithm v2 renames
    * straight to the staging dir at task commit; the `_SUCCESS` marker is
    * skipped because the only consumer is our own recursive `.parquet`
    * lister. */
  private[delta] val StagingWriteOptions: Map[String, String] = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** The files one [[stage]] call published into the table dir. */
  private[delta] final class Published(
      val files: Seq[DeltaCommit.Staged], fs: org.apache.hadoop.fs.FileSystem, tablePath: String) {
    /** Delete every published file: the abort path of a commit, or a later
      * step of the same statement that failed. Best effort per file. */
    def discard(): Unit = files.foreach { case (rel, _, _, _, _) =>
      try fs.delete(new Path(tablePath, rel), false) catch { case _: Exception => () }
    }
    /** Run `next` (a later step of the same statement, e.g. staging its
      * change files); if it throws, these files are discarded first. */
    def guarding[T](next: => T): T =
      try next catch { case e: Throwable => discard(); throw e }
  }

  /** The one way a data or change file enters a table. `physical` is
    * already physical (column-mapped names) and already shaped by the
    * caller (repartition, coalesce, guards); it is written ONCE under a
    * private staging dir in the table root, hive-partitioned by
    * `partitionCols`. Per-file stats are collected against `statsSchema`,
    * the physical data schema (an empty one records the row count only —
    * change files).
    * Zero-row files (Spark writes one schema-only part for an empty frame;
    * a partition a rewrite emptied) are dropped; the rest are renamed to
    * `<tablePath>/<under>/<relative staged path>`, hive dirs and Spark's
    * part names kept. However the write ends, the staging dir goes; on
    * any failure every file already renamed goes too, before the error
    * propagates — nothing this call wrote outlives a failed call. */
  private[delta] def stage(
      spark: SparkSession,
      tablePath: String,
      physical: DataFrame,
      partitionCols: Seq[String],
      statsSchema: StructType,
      configuration: Map[String, String],
      under: String = ""): Published = {
    val stagingDir = new Path(tablePath, s"_staging-${UUID.randomUUID()}")
    val fs = stagingDir.getFileSystem(spark.sessionState.newHadoopConf())
    val published = Seq.newBuilder[DeltaCommit.Staged]
    try {
      val writer = physical.write.mode(SaveMode.Overwrite).options(StagingWriteOptions)
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(stagingDir.toString)
      val stagedFiles = listParquetFilesRecursively(fs, stagingDir)
      val stats = collectFileStats(spark, stagedFiles.map(_.toString), statsSchema, configuration)
      stagedFiles.foreach { staged =>
        val st = stats.get(staged.toString)
        if (!st.exists(_.get("numRecords").asLong() == 0L)) {
          val rel = (if (under.isEmpty) "" else s"$under/") + relativize(stagingDir, staged)
          val target = new Path(tablePath, rel)
          fs.mkdirs(target.getParent)
          if (!fs.rename(staged, target))
            throw new java.io.IOException(s"failed to publish $staged -> $target")
          val status = fs.getFileStatus(target)
          published += ((rel, partitionValuesOf(rel, partitionCols), status.getLen,
            status.getModificationTime, st))
        }
      }
      new Published(published.result(), fs, tablePath)
    } catch { case e: Throwable =>
      new Published(published.result(), fs, tablePath).discard()
      throw e
    } finally try fs.delete(stagingDir, true) catch { case _: Exception => () }
  }

  private[delta] def listParquetFilesRecursively(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Path] = {
    // PLAIN statuses, never fs.listFiles: located statuses eagerly load
    // block locations + permissions, and on RawLocalFileSystem the
    // permission load fork-execs a shell PER FILE (~ms each — sampled at
    // 13% of dl06's driver wall through this lister). The r19
    // stagedListing lesson, applied to the staging-dir walk; ordering is
    // unchanged (depth-first in listStatus order, as listFiles iterates).
    // A staged write that produced ZERO rows creates no objects: with the
    // v2 committer suppressing _SUCCESS, the staging prefix does not exist
    // at all on object stores (local FS still has the mkdir'd directory).
    // Absent prefix == zero staged files; the empty-adds path downstream
    // already handles it. Guard both the root and mid-walk races.
    val out = Seq.newBuilder[Path]
    def walk(d: Path): Unit = {
      val statuses =
        try fs.listStatus(d)
        catch { case _: java.io.FileNotFoundException => return }
      statuses.foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) out += st.getPath
      }
    }
    walk(dir)
    out.result()
  }

  private[delta] def relativize(base: Path, file: Path): String = {
    val baseUri = base.toUri.getPath
    val fileUri = file.toUri.getPath
    require(fileUri.startsWith(baseUri), s"$file not under $base")
    fileUri.stripPrefix(baseUri).stripPrefix("/")
  }

  private[delta] def encodePath(rel: String): String =
    try new java.net.URI(null, null, rel, null).toASCIIString
    catch { case _: Exception => rel }

  private[delta] def partitionValuesOf(rel: String, partitionCols: Seq[String]): Map[String, String] = {
    val dirs = rel.split('/').dropRight(1)
    val fromPath = dirs.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val k = seg.substring(0, i)
        val raw = seg.substring(i + 1)
        val v = if (raw == "__HIVE_DEFAULT_PARTITION__") null
        else java.net.URLDecoder.decode(raw, "UTF-8")
        Some(k -> v)
      }
    }.toMap
    partitionCols.map(c => c -> fromPath.getOrElse(c, null)).toMap
  }

  /** Test seams: files whose add-action stats came from parquet footers
    * vs the fallback distributed scan (FooterStatsSuite pins the split). */
  private[graft] val footerStatsServed = new java.util.concurrent.atomic.AtomicLong
  private[graft] val scanStatsServed = new java.util.concurrent.atomic.AtomicLong

  /** Up to this many files, footers are read by a driver thread pool;
    * beyond it by one executor job. */
  private val FooterDriverMax = 1024

  /** The columns add-action stats cover: the first
    * `delta.dataSkippingNumIndexedCols` (default 32, production parity; -1
    * = all) of `dataSchema` — at 100s of columns, min/max on every one
    * bloats each add action and the stats pass itself — that have a
    * stats-capable type. */
  private[graft] def statsColumns(
      dataSchema: StructType, configuration: Map[String, String]): Array[StructField] = {
    val limit = configuration.get("delta.dataSkippingNumIndexedCols")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(32)
    val indexed = if (limit < 0) dataSchema.fields else dataSchema.fields.take(limit)
    indexed.filter(f => isStatsType(f.dataType))
  }

  /** Per-file add-action stats (numRecords, min/max/nullCount per
    * [[statsColumns]] column) of just-written files.
    *
    * @param driverMax footer reads beyond this many files run as one
    *        executor job (a test reaches that path with 0) */
  private[graft] def collectFileStats(
      spark: SparkSession,
      files: Seq[String],
      dataSchema: StructType,
      configuration: Map[String, String] = Map.empty,
      driverMax: Int = FooterDriverMax): Map[String, ObjectNode] = {
    val statable = statsColumns(dataSchema, configuration)

    // ---- primary path: aggregate the stats the parquet writer already
    // recorded per row group (FooterStats scaladoc: exactness contract,
    // per-file fallback). The scan below — a SECOND full read of every
    // just-written byte — now runs only for files the footers cannot
    // serve bit-exactly (guide §1.2: don't recompute what you have).
    // Footer reads are O(files) metadata I/O, the same class as the
    // publish loop's per-file renames directly after this call on the
    // write path; beyond `driverMax` they run as one executor job
    // (no exchange) instead of the driver pool.
    val statableSeq: Seq[StructField] = statable.toSeq
    val footerOf: Map[String, FooterStats.FileStats] =
      if (files.isEmpty) Map.empty
      else if (files.size <= driverMax) {
        val hconf = spark.sessionState.newHadoopConf()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, math.max(1, files.size)))
        try {
          import scala.jdk.CollectionConverters._
          val tasks: java.util.List[java.util.concurrent.Callable[
            (String, Option[FooterStats.FileStats])]] =
            files.map { f =>
              new java.util.concurrent.Callable[(String, Option[FooterStats.FileStats])] {
                override def call() = f -> FooterStats.tryExtract(hconf, f, statableSeq)
              }
            }.asJava
          pool.invokeAll(tasks).asScala
            .flatMap { fut => val (f, r) = fut.get(); r.map(f -> _) }.toMap
        } finally pool.shutdownNow()
      } else {
        val sconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        spark.sparkContext
          .parallelize(files, math.max(1, math.min(files.size, 64)))
          .map(f => f -> FooterStats.tryExtract(sconf.value, f, statableSeq))
          .collect().collect { case (f, Some(r)) => f -> r }.toMap
      }
    val needScan = files.filterNot(footerOf.contains)
    footerStatsServed.addAndGet(footerOf.size)
    scanStatsServed.addAndGet(needScan.size)
    val fromFooters: Map[String, ObjectNode] = footerOf.map { case (f, r) =>
      val node = mapper.createObjectNode()
      node.put("numRecords", r.numRecords)
      val mins = node.putObject("minValues")
      val maxs = node.putObject("maxValues")
      val nulls = node.putObject("nullCount")
      if (r.numRecords > 0L) statable.foreach { fld =>
        val (mn, mx, nc) = r.cols(fld.name)
        putStatValue(mins, fld, mn)
        putStatValue(maxs, fld, mx)
        nulls.put(fld.name, nc)
      }
      f -> node
    }
    if (needScan.isEmpty) return files.map(f => f -> fromFooters(f)).toMap
    fromFooters ++ scanFileStats(spark, needScan, dataSchema, statable)
  }

  /** The original distributed-aggregate stats pass — now the per-file
    * fallback behind [[FooterStats]] (and the reference semantics its
    * parity suite compares against). */
  private[graft] def scanFileStats(
      spark: SparkSession,
      files: Seq[String],
      dataSchema: StructType,
      statable: Array[StructField]): Map[String, ObjectNode] = {
    val df = spark.read.schema(dataSchema).parquet(files: _*)
    val aggs =
      statable.flatMap { f =>
        Seq(
          min(col(f.name)).as(s"min__${f.name}"),
          max(col(f.name)).as(s"max__${f.name}"),
          sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nulls__${f.name}"))
      } :+ count(lit(1L)).as("numRecords")
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byPath: Map[String, ObjectNode] = rows.map { row =>
      val node = mapper.createObjectNode()
      node.put("numRecords", row.getAs[Long]("numRecords"))
      val mins = node.putObject("minValues")
      val maxs = node.putObject("maxValues")
      val nulls = node.putObject("nullCount")
      statable.foreach { f =>
        putStatValue(mins, f, row.getAs[Any](s"min__${f.name}"))
        putStatValue(maxs, f, row.getAs[Any](s"max__${f.name}"))
        nulls.put(f.name, row.getAs[Long](s"nulls__${f.name}"))
      }
      // input_file_name returns a URI ("file:///..."); key by raw fs path
      val uri = row.getAs[String]("__file")
      new Path(new java.net.URI(uri)).toUri.getPath -> node
    }.toMap
    // TOTAL map: a requested file absent from the grouped scan contributed
    // zero rows (input_file_name groups actual rows only) — record it as
    // numRecords=0 explicitly. Leaving it out let Spark's empty part files
    // slip past every "drop zero-row staged files" filter (they key on
    // exists(numRecords==0)) and publish stats-less empty adds; row
    // tracking turned that silent wart into a hard error (every stamped
    // add needs a row count).
    files.map { f =>
      f -> byPath.getOrElse(new Path(f).toUri.getPath, {
        val n = mapper.createObjectNode()
        n.put("numRecords", 0L)
        n.putObject("minValues")
        n.putObject("maxValues")
        n.putObject("nullCount")
        n
      })
    }.toMap
  }

  private def isStatsType(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType | TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** `stats_parsed.minValues`/`maxValues` schema for a table: the statable
    * leaf columns typed as themselves — the from_json target that turns
    * the JSON stats string into the typed struct foreign
    * writeStatsAsJson=false readers consume. Fields beyond the
    * dataSkippingNumIndexedCols limit simply parse to NULL. */
  private def statsValueSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields.filter(f => isStatsType(f.dataType))
      .map(f => StructField(f.name, f.dataType, nullable = true)))

  /** `stats_parsed.nullCount` schema: same field names, LongType. */
  private def statsCountSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields.filter(f => isStatsType(f.dataType))
      .map(f => StructField(f.name, LongType, nullable = true)))

  private def putStatValue(node: ObjectNode, f: StructField, v: Any): Unit = v match {
    case null => ()
    case x: Byte => node.put(f.name, x.toInt)
    case x: Short => node.put(f.name, x.toInt)
    case x: Int => node.put(f.name, x)
    case x: Long => node.put(f.name, x)
    // ±0.0 render as the one canonical 0.0: Spark's min/max keeps
    // whichever zero it met first and the footer path may hold the other
    // (FooterStats scaladoc) — one rendering keeps the two byte-identical
    case x: Float => node.put(f.name, if (x == 0.0f) 0.0f else x)
    case x: Double => node.put(f.name, if (x == 0.0d) 0.0d else x)
    case x: java.math.BigDecimal => node.put(f.name, x)
    case x: String => node.put(f.name, x)
    case x: Boolean => node.put(f.name, x)
    case x: java.sql.Date => node.put(f.name, x.toString)
    case x: java.time.LocalDate => node.put(f.name, x.toString)
    // FULL microsecond precision (Spark timestamps are micros): a
    // millis-truncated max stat UNDER-estimates the bound, and a reader
    // pruning on it skips files whose rows sit between the truncated and
    // true max — silently missing rows
    case x: java.sql.Timestamp =>
      node.put(f.name, x.toInstant.atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
    case x: java.time.Instant =>
      node.put(f.name, x.atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
    case x: java.time.LocalDateTime => node.put(f.name, x.toString)
    case other => node.put(f.name, other.toString)
  }

  /** Stamp generation expressions into the schema's field metadata (the
    * protocol location) before it is serialized into the v0 metaData. */
  private def withGenMetadata(schema: StructType, genExprs: Map[String, String]): StructType =
    if (genExprs.isEmpty) schema
    else StructType(schema.fields.map { f =>
      genExprs.get(f.name) match {
        case Some(e) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putString(GenerationExpressionKey, e).build())
        case None => f
      }
    })

  /** Aggregate the full live state into a checkpoint + `_last_checkpoint`,
    * bounding future replay to commits-after-checkpoint. Classic
    * single-file form (`<v>.checkpoint.parquet`) by default; with table
    * property `delta.checkpointPolicy=v2`, the v2 form
    * (`<v>.checkpoint.<uuid>.parquet` with a `checkpointMetadata`
    * self-description action) — both replayed by [[DeltaLog.snapshot]]. */
  def writeCheckpoint(spark: SparkSession, tablePath: String, version: Long): Unit =
    checkpoint(spark, tablePath, version)

  /** [[writeCheckpoint]], returning the driver-plane snapshot the
    * checkpoint's rows were written from when a replay of the checkpoint
    * reads back exactly that state: None on the frame plane, and when the
    * stats went out typed-only (they read back re-serialized). */
  private[delta] def checkpoint(
      spark: SparkSession, tablePath: String, version: Long): Option[DeltaSnapshot] = {
    // scanSnapshot: on job-plane tables the ADD plane of the checkpoint is
    // written DISTRIBUTED from the winners frame — the eager snapshot here
    // made every checkpoint-interval-th deferred-plane commit collect the
    // full live set (O(files) driver heap, ~340 MB/1M files), exactly the
    // bound the deferred DML plane removed from the statements themselves.
    // Small tables keep the driver-built rows (deferred = None).
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath,
      versionAsOf = Some(version), withDvAdds = false)
    val v2Policy = snap.metadata.configuration
      .get("delta.checkpointPolicy").exists(_.trim.equalsIgnoreCase("v2"))
    val mapT = MapType(StringType, StringType)
    val v2Field =
      if (!v2Policy) Nil
      else Seq(
        StructField("checkpointMetadata", StructType(Seq(
          StructField("version", LongType)))),
        StructField("sidecar", StructType(Seq(
          StructField("path", StringType),
          StructField("sizeInBytes", LongType),
          StructField("modificationTime", LongType)))))
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", mapT)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", mapT)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", mapT),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType),
        StructField("tags", mapT)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))) ++ v2Field)
    def dvRow(f: DeltaAddFile): Row = f.deletionVector.map(d =>
      Row(d.storageType, d.pathOrInlineDv, d.offset.map(Int.box).orNull,
        d.sizeInBytes, d.cardinality)).orNull
    val addStructOf = (f: DeltaAddFile) =>
      Row(f.path, f.partitionValues, f.size, f.modificationTime, true, f.stats.orNull, dvRow(f),
        f.baseRowId.map(Long.box).orNull, f.defaultRowCommitVersion.map(Long.box).orNull,
        if (f.tags.isEmpty) null else f.tags)
    // the ADD plane: a distributed frame on job-plane tables, driver rows
    // on small ones — either way a single-column ("add") DataFrame
    val addOnlySchema = StructType(Seq(schema("add")))
    val (addOnlyDf, addCount): (org.apache.spark.sql.DataFrame, Long) = deferred match {
      case Some(d) =>
        (d.checkpointAdds().getOrElse(
          spark.createDataFrame(Seq.empty[Row].asJava, addOnlySchema)),
          d.fileCount)
      case None =>
        (spark.createDataFrame(
          snap.files.map(f => Row(addStructOf(f))).asJava, addOnlySchema),
          snap.files.size.toLong)
    }
    val metaRows3: Seq[Row] =
      Row(Row(snap.protocol.minReaderVersion, snap.protocol.minWriterVersion,
        if (snap.protocol.readerFeatures.isEmpty) null else snap.protocol.readerFeatures.toSeq.sorted,
        if (snap.protocol.writerFeatures.isEmpty) null else snap.protocol.writerFeatures.toSeq.sorted),
        null, null, null, null) +:
      Row(null, Row(snap.metadata.id, Row("parquet", Map.empty[String, String]),
        snap.metadata.schemaString, snap.metadata.partitionColumns,
        snap.metadata.configuration), null, null, null) +:
      // the latest SetTransaction per appId is checkpoint state (spec):
      // dropping one would let a retired commit's redelivery double-apply
      (snap.transactions.toSeq.sortBy(_._1).map { case (appId, v) =>
        Row(null, null, null, Row(appId, v), null)
      } ++
       // live domainMetadata is checkpoint state (spec): dropping a domain
       // would roll a row-id high water mark (or a foreign engine's
       // clustering state) back to whatever the pre-checkpoint JSON said —
       // or lose it entirely once those commits age out
       snap.domainMetadata.toSeq.sortBy(_._1).map { case (domain, conf) =>
         Row(null, null, null, null, Row(domain, conf, false))
       })
    // metadata-plane rows in the full checkpoint schema (v2 appends the
    // checkpointMetadata self-description)
    val metaRows: Seq[Row] =
      if (!v2Policy) metaRows3
      else metaRows3.map(r => Row(r(0), r(1), r(2), r(3), r(4), null, null)) :+
        Row(null, null, null, null, null, Row(version), null)
    // the add-only frame null-padded to the full schema (positional union
    // with the driver metadata rows — field order fixed by `schema`)
    def fullOf(addDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val cols = schema.fields.map { f =>
        if (f.name == "add") col("add") else lit(null).cast(f.dataType).as(f.name)
      }
      addDf.select(cols.toIndexedSeq: _*)
    }
    val tmp = new Path(tablePath, s"_cp-${UUID.randomUUID()}")
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    // Typed stats on the WRITE side (production's
    // delta.checkpoint.writeStatsAsStruct / writeStatsAsJson): foreign
    // readers that only consume `stats_parsed` (writeStatsAsJson=false
    // deployments) keep typed-stats skipping over OUR checkpoints too —
    // the mirror of the read-side re-serialization in DeltaLog /
    // DeltaStateReconstruction. stats_parsed is derived from the JSON
    // string with from_json against the table's data schema, so the two
    // forms can never disagree.
    val statsAsStruct = snap.metadata.configuration
      .get("delta.checkpoint.writeStatsAsStruct").exists(_.trim.equalsIgnoreCase("true"))
    val statsAsJson = !snap.metadata.configuration
      .get("delta.checkpoint.writeStatsAsJson").exists(_.trim.equalsIgnoreCase("false"))
    require(statsAsJson || statsAsStruct,
      "delta.checkpoint.writeStatsAsJson=false requires " +
        "delta.checkpoint.writeStatsAsStruct=true — dropping both forms " +
        "would silently lose stats skipping for every reader")
    def withTypedStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      if ((!statsAsStruct && statsAsJson) || !df.schema.fieldNames.contains("add")) df
      else {
        // stats JSON keys are PHYSICAL column names (the stats pass runs
        // over the physicalized staged files), so the from_json target
        // must be too — with logical names every field would parse NULL
        // on a column-mapped table
        val statsSchema = StructType(Seq(
          StructField("numRecords", LongType),
          StructField("minValues", statsValueSchema(snap.physicalDataSchema)),
          StructField("maxValues", statsValueSchema(snap.physicalDataSchema)),
          StructField("nullCount", statsCountSchema(snap.physicalDataSchema))))
        val addFields = df.schema("add").dataType.asInstanceOf[StructType].fieldNames
        val kept = addFields.toSeq
          .filter(f => statsAsJson || f != "stats")
          .map(f => col(s"add.$f").as(f))
        val grown =
          if (!statsAsStruct) kept
          else kept :+ from_json(col("add.stats"), statsSchema).as("stats_parsed")
        df.withColumn("add", when(col("add").isNotNull, struct(grown: _*)))
      }
    }
    /** Stage `df` to the tmp dir as `parts` parquet files, returning them
      * name-sorted (deterministic part order). */
    def stageParts(df: org.apache.spark.sql.DataFrame, parts: Int): Seq[Path] = {
      withTypedStats(df).repartition(math.max(1, parts))
        .write.mode(SaveMode.Overwrite).options(StagingWriteOptions).parquet(tmp.toString)
      fs.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).toSeq
    }
    def publish(src: Path, targetName: String): Unit = {
      val target = new Path(DeltaLog.logDir(tablePath), targetName)
      // a false return here (dest exists from a crashed prior attempt, or
      // HDFS-style no-throw semantics) would otherwise silently skip a
      // part — exactly the partial multipart set replay must never see
      if (!fs.rename(src, target)) {
        fs.delete(target, false)
        if (!fs.rename(src, target))
          throw new java.io.IOException(s"failed to publish checkpoint $target")
      }
    }
    def writeOne(df: org.apache.spark.sql.DataFrame, targetName: String): Unit =
      publish(stageParts(df, 1).headOption.getOrElse(
        throw new IllegalStateException("checkpoint write produced no parquet")),
        targetName)
    val metaDf = spark.createDataFrame(metaRows.asJava, schema)
    // classic multipart checkpoints (`delta.checkpoint.partSize` actions
    // per part — production's escape hatch when a single checkpoint file
    // of a 10M-file table outgrows comfortable single-object writes):
    // `<v>.checkpoint.<i>.<n>.parquet`, every part required at replay.
    // v2 policy ignores partSize — its scale mechanism is sidecars.
    val partSize = snap.metadata.configuration.get("delta.checkpoint.partSize")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0)
    val totalRows = addCount + metaRows.size
    val nParts: Int =
      if (v2Policy && partSize.exists(addCount > _)) {
        // v2 SIDECAR layout (production's v2 scale mechanism): the add
        // frame is written DISTRIBUTED as ceil(adds/partSize) parquet
        // files moved into _delta_log/_sidecars/<uuid>.parquet; the
        // UUID-named manifest carries only protocol/metaData/txn/
        // checkpointMetadata plus one `sidecar` action per file. partSize
        // is advisory sizing (round-robin repartition distributes evenly);
        // replay unions whatever sidecars the manifest lists.
        val sidecarDir = new Path(DeltaLog.logDir(tablePath), "_sidecars")
        fs.mkdirs(sidecarDir)
        val n = math.max(1, math.ceil(addCount.toDouble / partSize.get).toInt)
        val sidecarRows = stageParts(addOnlyDf, n).map { p =>
          val name = s"${UUID.randomUUID()}.parquet"
          val target = new Path(sidecarDir, name)
          if (!fs.rename(p, target))
            throw new java.io.IOException(s"failed to publish sidecar $target")
          val st = fs.getFileStatus(target)
          Row(null, null, null, null, null, null,
            Row(name, st.getLen, st.getModificationTime))
        }
        writeOne(spark.createDataFrame((metaRows ++ sidecarRows).asJava, schema),
          f"$version%020d.checkpoint.${UUID.randomUUID()}.parquet")
        1
      } else if (v2Policy || partSize.forall(totalRows <= _)) {
        writeOne(metaDf.union(fullOf(addOnlyDf)),
          if (v2Policy) f"$version%020d.checkpoint.${UUID.randomUUID()}.parquet"
          else f"$version%020d.checkpoint.parquet")
        1
      } else {
        // classic multipart: the adds distributed over ceil(adds/partSize)
        // parts, the metadata rows as the final part — partSize is
        // advisory sizing; COMPLETENESS (every i of 1..n present) is the
        // replay contract and each staged file becomes exactly one part
        val nAdd = math.max(1, math.ceil(addCount.toDouble / partSize.get).toInt)
        val staged = stageParts(fullOf(addOnlyDf), nAdd)
        val n = staged.size + 1
        staged.zipWithIndex.foreach { case (p, i) =>
          publish(p, f"$version%020d.checkpoint.${i + 1}%010d.$n%010d.parquet")
        }
        writeOne(metaDf, f"$version%020d.checkpoint.$n%010d.$n%010d.parquet")
        n
      }
    fs.delete(tmp, true)
    val last = mapper.createObjectNode()
    last.put("version", version)
    last.put("size", totalRows)
    if (nParts > 1) last.put("parts", nParts)
    val lastPath = new Path(DeltaLog.logDir(tablePath), "_last_checkpoint")
    val out = fs.create(lastPath, true)
    out.write(mapper.writeValueAsString(last).getBytes("UTF-8"))
    out.close()
    // production cadence: expired-log cleanup piggybacks on checkpointing
    // (delta.enableExpiredLogCleanup, default on; 30-day retention means
    // young tables never lose a byte)
    if (!snap.metadata.configuration.get("delta.enableExpiredLogCleanup")
        .exists(_.trim.equalsIgnoreCase("false")))
      DeltaMaintenance.cleanupMetadata(spark, tablePath, snap.metadata.configuration)
    if (deferred.isEmpty && statsAsJson) Some(snap) else None
  }

  private implicit class SeqAsJava[T](s: Seq[T]) {
    def asJava: java.util.List[T] = {
      val l = new java.util.ArrayList[T](s.size)
      s.foreach(l.add)
      l
    }
  }
}
