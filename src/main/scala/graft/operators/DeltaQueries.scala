package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.TempDirs
import graft.sources.delta.{DeltaTable, DeltaWriter}

/** Delta-provider queries INSIDE the driver's correctness gate: each one
  * writes a scratch Delta table from a fixture table, reads it back through
  * the `delta` source, and aggregates — the DuckDB oracle computes the same
  * aggregate over the RAW parquet fixture, so a bug anywhere in the
  * write → log → replay → scan → partition-injection pipeline shows up as a
  * hash mismatch (the reference's own golden test is the 5-row fixture in
  * DeltaSuite; these add driver-checked value parity at fixture scale). */
object DeltaQueries {

  private def scratch(): String =
    TempDirs.create("graft-delta-q")

  /** Write supplier partitioned by nation → read back via the provider →
    * aggregate. Exercises partition-value injection end to end. */
  private def dl01Roundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    Tables.read(s, dir, "supplier")
      .write.format("delta").partitionBy("s_nationkey").save(path)
    DeltaTable.read(s, path)
      .groupBy(col("s_nationkey").cast("int").as("s_nationkey"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("s_nationkey"))
  }

  /** Two commits (even keys, then odd keys appended); VERSION AS OF 0 must
    * see only the first commit. */
  private def dl02TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 0), path, SaveMode.Append, Nil)
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 1), path, SaveMode.Append, Nil)
    DeltaTable.readVersion(s, path, 0L)
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
  }

  /** Partition-pruned read through the provider (the pruning itself is
    * plan-checked in DeltaSuite; this pins the values). */
  private def dl03PrunedRead(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    Tables.read(s, dir, "supplier")
      .write.format("delta").partitionBy("s_nationkey").save(path)
    DeltaTable.read(s, path)
      .filter(col("s_nationkey") === 3)
      .select(col("s_suppkey"), col("s_name"), round(col("s_acctbal"), 2).as("bal"))
      .orderBy(col("s_suppkey"))
  }

  /** SQL-level `INSERT INTO` (the reference's documented negative,
    * `tests/local.rs:92-103`, turned positive): seed half of nation via the
    * DataFrame writer, CREATE TABLE … USING delta over it, INSERT the other
    * half through SQL, REFRESH (DSv1 plan-cache contract), aggregate the
    * union. The oracle aggregates the whole raw fixture, so a missing or
    * doubled commit shows as a row/hash mismatch. */
  private def dl04SqlInsert(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    // table name unique per invocation: bench/verify may run this repeatedly
    val tbl = "graft_dl04_" + java.lang.Long.toHexString(
      java.util.UUID.randomUUID().getMostSignificantBits & Long.MaxValue)
    Tables.read(s, dir, "nation").filter(col("n_nationkey") < 10)
      .write.format("delta").save(path)
    s.sql(s"CREATE TABLE $tbl USING delta LOCATION '$path'")
    s.sql(s"INSERT INTO $tbl SELECT * FROM parquet.`$dir/nation.parquet` WHERE n_nationkey >= 10")
    s.sql(s"REFRESH TABLE $tbl")
    s.table(tbl)
      .groupBy(col("n_regionkey").cast("int").as("n_regionkey"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_nationkey")).as("key_sum"),
        max(col("n_name")).as("name_max"))
      .orderBy(col("n_regionkey"))
  }

  /** RESTORE in the gate: seed even suppliers (v0), overwrite with odd
    * ones (v1), RESTORE to v0 (v2), aggregate — the oracle aggregates the
    * even slice of the raw fixture, so a restore that leaks post-restore
    * rows or loses pre-restore ones hash-mismatches. */
  private def dl05Restore(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 0), path, SaveMode.Append, Nil)
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 1), path, SaveMode.Overwrite, Nil)
    graft.sources.delta.DeltaMaintenance.restore(s, path, 0L)
    DeltaTable.read(s, path)
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
  }

  /** Copy-on-write DELETE in the gate: write supplier partitioned by
    * nation, DELETE a predicate that spans a partition column AND a data
    * column (exercising partition pruning + stats skipping in the find
    * phase and the rewrite of only touched files), aggregate the survivors.
    * The oracle aggregates the raw fixture under NOT(predicate). */
  private def dl06Delete(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    Tables.read(s, dir, "supplier")
      .write.format("delta").partitionBy("s_nationkey").save(path)
    graft.sources.delta.DeltaDml.delete(
      s, path, "s_nationkey = 3 OR s_acctbal < 0")
    DeltaTable.read(s, path)
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
  }

  /** Copy-on-write UPDATE in the gate: SET is evaluated against the
    * pre-update row (simultaneous assignment); +100.0 on a double is
    * bit-exact cross-engine (no rounding parity needed until the terminal
    * decimal-domain sum). The oracle replays the UPDATE as CASE WHEN over
    * the raw fixture. */
  private def dl07Update(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    Tables.read(s, dir, "supplier").write.format("delta").save(path)
    graft.sources.delta.DeltaDml.update(
      s, path, "s_suppkey % 10 = 0",
      Map("s_acctbal" -> "s_acctbal + 100.0", "s_name" -> "upper(s_name)"))
    DeltaTable.read(s, path)
      .groupBy((col("s_suppkey") % 10 === 0).cast("int").as("updated"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"),
        max(col("s_name")).as("name_max"))
      .orderBy(col("updated"))
  }

  /** MERGE (upsert) in the gate: target = even-key suppliers; source =
    * suppliers with key % 4 == 0 (matched → UPDATE bal + name) plus odd
    * keys (not matched → INSERT). The oracle replays the merge over the
    * raw fixture: evens get the CASE-WHEN update, odds union in. */
  private def dl08Merge(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    supplier.filter(col("s_suppkey") % 2 === 0)
      .write.format("delta").save(path)
    val source = supplier.filter(col("s_suppkey") % 4 === 0 || col("s_suppkey") % 2 === 1)
    graft.sources.delta.DeltaMerge.merge(
      s, path, source,
      condition = "t.s_suppkey = s.s_suppkey",
      matchedUpdate = Some(Map(
        "s_acctbal" -> "s.s_acctbal + 50.0",
        "s_name" -> "upper(s.s_name)")),
      matchedDelete = false,
      notMatchedInsert = Some(
        supplier.columns.map(c => c -> s"s.$c").toMap))
    DeltaTable.read(s, path)
      .groupBy((col("s_suppkey") % 2).cast("int").as("parity"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"),
        max(col("s_name")).as("name_max"))
      .orderBy(col("parity"))
  }

  /** replaceWhere selective overwrite in the gate: overwrite nation 3's
    * slice with a doubled-balance version; every other nation's rows (and
    * files) must come through untouched. The oracle replays the arithmetic
    * over the raw fixture, so a replaceWhere that leaks into other
    * partitions, drops survivors, or double-writes shows as a mismatch. */
  private def dl09ReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    supplier.write.format("delta").partitionBy("s_nationkey").save(path)
    supplier.filter(col("s_nationkey") === 3)
      .withColumn("s_acctbal", col("s_acctbal") * 2)
      .write.format("delta").mode(SaveMode.Overwrite)
      .option("replaceWhere", "s_nationkey = 3").save(path)
    DeltaTable.read(s, path)
      .groupBy(col("s_nationkey").cast("int").as("s_nationkey"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("s_nationkey"))
  }

  /** Merge-on-read DELETE (deletion vectors, reader v3) in the gate: two
    * successive DV deletes — the second merges bitmaps into files the first
    * already marked — then a filtered read back through the DV-filtering
    * scan (the filter is pushed into parquet, exercising the row-index /
    * pushdown interplay). The oracle applies both predicates' complements
    * to the raw fixture; a resurrected or doubly-hidden row mismatches. */
  private def dl10DvDelete(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    Tables.read(s, dir, "supplier").write.format("delta").save(path)
    graft.sources.delta.DeltaDml.deleteWithDv(
      s, path, "s_acctbal < 0 OR s_suppkey % 7 = 0")
    graft.sources.delta.DeltaDml.deleteWithDv(s, path, "s_suppkey % 11 = 0")
    DeltaTable.read(s, path)
      .filter(col("s_nationkey") < 20)
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
  }

  /** Column mapping (reader v2, `name` mode) in the gate: write even-key
    * suppliers, RENAME s_acctbal → account_balance (metadata-only — the
    * existing parquet keeps the physical name), append the odd keys
    * through the mapped write path (physical parquet columns + stats
    * keys), then read back filtered on the renamed column (translated
    * pushdown + stats skipping). The oracle replays it over the raw
    * fixture; a reader that resolves the wrong physical column NULLs or
    * misfilters and hash-mismatches. */
  private def dl11ColumnMapping(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 0), path, SaveMode.Append, Nil)
    graft.sources.delta.DeltaSchema.renameColumn(s, path, "s_acctbal", "account_balance")
    DeltaWriter.write(
      supplier.filter(col("s_suppkey") % 2 === 1)
        .withColumnRenamed("s_acctbal", "account_balance"),
      path, SaveMode.Append, Nil)
    DeltaTable.read(s, path)
      .filter(col("account_balance") > 0)
      .groupBy((col("s_suppkey") % 2).cast("int").as("parity"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("account_balance").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("parity"))
  }

  /** SQL time travel in the gate: two commits (even keys at v0, odd keys
    * appended at v1), then one statement reads BOTH the v0 snapshot
    * (`VERSION AS OF 0`) and the latest (`FOR TIMESTAMP AS OF` a cutoff
    * after every commit) through the parser's rewrite path. The oracle
    * recomputes each snapshot from the raw fixture, so a travel that
    * resolves the wrong version — or leaks latest rows into v0 — shows as
    * a hash mismatch. */
  private def dl12SqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 0), path, SaveMode.Append, Nil)
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 1), path, SaveMode.Append, Nil)
    s.sql(
      s"""SELECT 'v0' AS snap, count(*) AS n,
                 CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
                 CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
          FROM delta.`$path` VERSION AS OF 0
          UNION ALL
          SELECT 'latest' AS snap, count(*) AS n,
                 CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
                 CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
          FROM delta.`$path` FOR TIMESTAMP AS OF '2099-01-01 00:00:00'
          ORDER BY snap""")
  }

  /** DROP COLUMN in the gate: drop s_name (metadata-only), re-add the
    * SAME logical name, read back — the re-added column must be NULL for
    * every pre-existing row (count(s_comment) = 0). A mapping bug that
    * reuses the dropped physical name resurrects the old strings and
    * mismatches. */
  private def dl13DropColumn(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    Tables.read(s, dir, "supplier").write.format("delta").save(path)
    graft.sources.delta.DeltaSchema.dropColumn(s, path, "s_name")
    s.sql(s"ALTER TABLE delta.`$path` ADD COLUMNS (s_name STRING)")
    DeltaTable.read(s, path)
      .agg(
        count(lit(1)).as("n"),
        count(col("s_name")).as("n_name"),
        sum(col("s_suppkey")).as("key_sum"))
  }

  /** Change Data Feed in the gate: enable CDF, UPDATE one disjoint slice,
    * DELETE another, then aggregate the change rows BY change type over
    * the whole post-enable range. The oracle recomputes each image class
    * from the raw fixture — a CDF writer that emits wrong pre/post images,
    * leaks derived whole-file rows into a cdc commit, or mis-versions the
    * range shows up as a mismatch. */
  private def dl14Cdf(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    Tables.read(s, dir, "supplier").write.format("delta").save(path) // v0
    s.sql(s"ALTER TABLE delta.`$path` SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')") // v1
    graft.sources.delta.DeltaDml.update(
      s, path, "s_suppkey % 10 = 0", Map("s_acctbal" -> "s_acctbal + 100.0")) // v2
    graft.sources.delta.DeltaDml.delete(
      s, path, "s_acctbal < 0 AND s_suppkey % 10 <> 0") // v3 (no-op at tiny SF)
    val latest = graft.sources.delta.DeltaLog.snapshot(s, path).version
    DeltaTable.readCdf(s, path, 1L, latest)
      .groupBy(col("_change_type").as("change_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("change_type"))
  }

  /** Type widening in the gate: write supplier with NARROW types (int
    * keys, float balance), widen to bigint/double via SQL, read back and
    * aggregate — the values must be exactly the narrow-typed ones upcast
    * (the oracle replays the same float round-trip on the raw fixture), so
    * a scan that NULLs, truncates, or re-reads the wrong physical type
    * mismatches. */
  private def dl15TypeWidening(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    Tables.read(s, dir, "supplier")
      .select(
        col("s_suppkey").cast("int").as("s_suppkey"),
        col("s_nationkey").cast("int").as("s_nationkey"),
        col("s_acctbal").cast("float").as("s_acctbal"))
      .write.format("delta").save(path)
    s.sql(s"ALTER TABLE delta.`$path` ALTER COLUMN s_suppkey TYPE BIGINT")
    s.sql(s"ALTER TABLE delta.`$path` ALTER COLUMN s_acctbal TYPE DOUBLE")
    DeltaTable.read(s, path)
      .groupBy((col("s_nationkey") % 5).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("grp"))
  }

  /** Identity columns in the gate: two appends into a table with a
    * GENERATED ALWAYS identity column (start 1000, step 10). WHICH row got
    * WHICH id depends on partition order, but the assigned id SET is a
    * deterministic arithmetic series over the row count — so count/min/
    * max/sum of the ids (plus a data aggregate proving the rows landed)
    * are oracle-checkable. A writer that duplicates, skips, or restarts
    * ids across commits mismatches. */
  private def dl16IdentityColumns(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 0), path,
      SaveMode.Append, Nil, identityColumns = Map("rid" -> (1000L, 10L)))
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 1), path,
      SaveMode.Append, Nil)
    DeltaTable.read(s, path)
      .agg(
        count(lit(1)).as("n"),
        min(col("rid")).as("rid_min"),
        max(col("rid")).as("rid_max"),
        sum(col("rid")).as("rid_sum"),
        sum(col("s_suppkey")).as("key_sum"))
  }

  /** Column mapping `id` mode in the gate: a hand-built id-mode table
    * whose parquet file stores column names that match NEITHER the logical
    * nor the delta physical names — only the parquet field ids line up
    * (the exact decoupling `id` mode exists for; Databricks-written tables
    * carry it). A second append goes through [[DeltaWriter]], proving the
    * write side stamps field ids foreign readers can resolve. A reader
    * that matches by any name NULLs every column and hash-mismatches. */
  private def dl17IdModeMapping(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    def fid(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    // v0 data file: "foreign" column names, field ids 1/2 in the footer
    supplier.filter(col("s_suppkey") % 2 === 0)
      .select(col("s_suppkey").as("k_foreign", fid(1)),
        col("s_acctbal").as("b_foreign", fid(2)))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val st = fs.getFileStatus(dataFile)
    // delta schema: logical names, DIFFERENT physical names, same ids
    def f(name: String, dt: DataType, id: Long, phys: String) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())
    val schema = StructType(Seq(
      f("s_suppkey", LongType, 1, "col-key"),
      f("s_acctbal", DoubleType, 2, "col-bal")))
    val commit =
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"${java.util.UUID.randomUUID()}","format":{"provider":"parquet","options":{}},"schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}}}
         |{"add":{"path":"${dataFile.getName}","partitionValues":{},"size":${st.getLen},"modificationTime":${st.getModificationTime},"dataChange":true}}"""
        .stripMargin
    require(graft.sources.delta.DeltaLog.tryCommit(s, path, 0L, commit),
      s"id-mode fixture commit failed at $path")
    // v1: odd keys appended through the engine's own write path
    DeltaWriter.write(
      supplier.filter(col("s_suppkey") % 2 === 1)
        .select(col("s_suppkey"), col("s_acctbal")),
      path, SaveMode.Append, Nil)
    DeltaTable.read(s, path)
      .filter(col("s_acctbal") > 0)
      .groupBy((col("s_suppkey") % 2).cast("int").as("parity"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("parity"))
  }

  /** TIMESTAMP_NTZ (wall-clock, no zone — the `timestampNtz` table
    * feature) through the whole Delta pipeline: write a table with an ntz
    * column (creation stamps the (3,7) feature protocol), read it back
    * through the provider (stats on the ntz column included), aggregate to
    * min/max ntz VALUES. DuckDB TIMESTAMP is likewise zone-less, so the
    * values must agree bit-for-bit; a reader that applies a UTC adjustment
    * anywhere shifts them and hash-mismatches. */
  private def dl18TimestampNtz(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    val df = supplier.select(
      col("s_suppkey"),
      expr("timestampadd(MINUTE, CAST(s_suppkey % 720 AS INT), " +
        "TIMESTAMP_NTZ'2021-03-04 05:06:07')").as("ts"))
    DeltaWriter.write(df, path, SaveMode.Append, Nil)
    val got = DeltaTable.read(s, path)
    require(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType,
      "ts must round-trip as TIMESTAMP_NTZ")
    got
      .filter(col("ts") >= expr("TIMESTAMP_NTZ'2021-03-04 06:00:00'"))
      .agg(
        count(lit(1)).as("n"),
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"),
        sum(col("s_suppkey")).as("key_sum"))
  }

  /** Native streaming sink (`writeStream.format("delta")`) with
    * SetTransaction exactly-once: supplier flows through a MemoryStream in
    * two micro-batches into a delta table, then the LAST batch is
    * REDELIVERED through the same write path with its (appId, batchId)
    * tag — the crash window production streaming must absorb (table commit
    * landed, streaming checkpoint didn't advance). The `txn` high-water
    * mark turns the redelivery into a no-op; a double-applied batch
    * doubles every sum against the raw-fixture oracle. */
  private def dl19StreamingSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch()
    val cp = TempDirs.create("graft-delta-q-cp")
    implicit val ctx = s.sqlContext
    // dim-scale fixture rows drive the MemoryStream (test-harness plane —
    // the sink's own write path stays fully distributed)
    val rows = Tables.read(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").cast("long"), col("s_acctbal"))
      .as[(Long, Long, Double)].collect()
    val (even, odd) = rows.partition(_._1 % 2 == 0)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double)]
    val appId = "graft-dl19-" + java.util.UUID.randomUUID()
    val q = in.toDF().toDF("s_suppkey", "s_nationkey", "s_acctbal")
      .writeStream.format("delta")
      .option("checkpointLocation", cp)
      .option("txnAppId", appId)
      .option("path", path)
      .start()
    try {
      in.addData(even.toIndexedSeq)
      q.processAllAvailable()
      in.addData(odd.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    DeltaWriter.write(
      odd.toSeq.toDF("s_suppkey", "s_nationkey", "s_acctbal"),
      path, SaveMode.Append, Nil, txn = Some((appId, 1L)))
    DeltaTable.read(s, path)
      .groupBy((col("s_nationkey") % 5).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("grp"))
  }

  /** CONVERT TO DELTA: a hive-partitioned RAW parquet copy of supplier is
    * converted in place (no rewrite — version 0 registers the existing
    * files with path-parsed partition values and one distributed stats
    * pass), then proven to be a LIVE delta table by appending a shifted
    * copy of the rows through the normal write path and aggregating the
    * union. A conversion that drops files, mis-parses partition dirs or
    * breaks the table for subsequent commits diverges from the oracle. */
  private def dl20ConvertToDelta(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    supplier.write.mode("overwrite").partitionBy("s_nationkey").parquet(path)
    graft.sources.delta.DeltaMaintenance.convertToDelta(s, path, Seq("s_nationkey"))
    DeltaWriter.write(
      supplier.select(
        (col("s_suppkey") + 100000L).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal")),
      path, SaveMode.Append, Nil)
    DeltaTable.read(s, path)
      .groupBy((col("s_nationkey") % 4).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("grp"))
  }

  /** Full-surface MERGE in the gate: two conditional MATCHED clauses
    * (first-match-wins DELETE, then UPDATE), a conditional INSERT, and a
    * conditional NOT MATCHED BY SOURCE UPDATE — the oracle replays all
    * four clause semantics over the raw fixture. Target = even-key
    * suppliers, source = keys divisible by 3, so matched = keys % 6 == 0. */
  private def dl21MergeClauses(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    supplier.filter(col("s_suppkey") % 2 === 0).write.format("delta").save(path)
    val source = supplier.filter(col("s_suppkey") % 3 === 0)
    import graft.sources.delta.MergeClause._
    graft.sources.delta.DeltaMerge.merge(
      s, path, source, "t.s_suppkey = s.s_suppkey",
      matched = Seq(
        Matched(None, Some("t.s_acctbal < 0")),
        Matched(Some(Map(
          "s_acctbal" -> "s.s_acctbal + 10.0",
          "s_name" -> "upper(s.s_name)")))),
      notMatched = Seq(NotMatched(
        supplier.columns.map(c => c -> s"s.$c").toMap,
        Some("s.s_acctbal >= 0"))),
      bySource = Seq(NotMatchedBySource(
        Some(Map("s_acctbal" -> "0.0")), Some("t.s_nationkey < 5"))),
      schemaEvolution = false)
    DeltaTable.read(s, path)
      .groupBy((col("s_suppkey") % 3).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"),
        max(col("s_name")).as("name_max"))
      .orderBy(col("grp"))
  }

  /** Generated-partition pruning in the gate: events land in a Delta table
    * partitioned by `d GENERATED ALWAYS AS (CAST(ts AS DATE))` — the
    * production time-partitioning shape; the read filters on the SOURCE
    * timestamp only, so the derived d-filter (GeneratedPartitionPruning)
    * prunes partitions while the oracle replays the same filter over the
    * raw fixture. A wrong or unsound derivation shows as missing/extra
    * rows in the hash. */
  private def dl22GeneratedPrune(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    // events.ts: [[Tables.events]] normalizes all fixture generations to
    // session-tz TIMESTAMP(MICROS)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("ts"), col("user_id"), col("value"))
    DeltaWriter.write(ev, path, SaveMode.Append, Seq("d"),
      generatedColumns = Map("d" -> "CAST(ts AS DATE)"))
    DeltaTable.read(s, path)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))
      .groupBy(col("d"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("user_id")).as("uid_sum"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("val_sum"))
      .orderBy(col("d"))
  }

  /** Column defaults in the gate (allowColumnDefaults, PRODUCTION
    * semantics — future writes only): evens land before the ALTER (their
    * files predate the default → read NULL, coalesced to 'none'), odds
    * land after WITHOUT the column (CURRENT_DEFAULT materialized at
    * write), a shifted slice lands WITH an explicit tier. The oracle
    * replays all three populations over the raw fixture. */
  private def dl23ColumnDefaults(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    supplier.filter(col("s_suppkey") % 2 === 0).write.format("delta").save(path)
    s.sql(s"ALTER TABLE delta.`$path` ADD COLUMN tier STRING DEFAULT 'std'")
    DeltaWriter.write(
      supplier.filter(col("s_suppkey") % 2 === 1), path, SaveMode.Append, Nil)
    DeltaWriter.write(
      supplier.filter(col("s_suppkey") % 7 === 0)
        .select((col("s_suppkey") + 100000L).as("s_suppkey"),
          col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .withColumn("tier", lit("prem")),
      path, SaveMode.Append, Nil)
    DeltaTable.read(s, path)
      .groupBy(coalesce(col("tier"), lit("none")).as("tier"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("tier"))
  }

  /** Batch idempotent writes (`txnAppId`/`txnVersion`): deliver the even
    * suppliers twice through the options path (second is a SetTransaction
    * no-op), then upsert the odd suppliers twice via an idempotence-keyed
    * MERGE (second is a no-op). Any failure of the redelivery contract
    * doubles rows and breaks the hash against the raw fixture. */
  private def dl24IdempotentWrite(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.delta.{DeltaMerge, MergeClause}
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    val evens = supplier.filter(col("s_suppkey") % 2 === 0)
    def deliverBatch(): Unit = evens.write.format("delta")
      .mode(SaveMode.Append)
      .option("txnAppId", "dl24-loader").option("txnVersion", "1")
      .save(path)
    deliverBatch()
    deliverBatch() // redelivery: same (appId, version) → no-op
    val odds = supplier.filter(col("s_suppkey") % 2 === 1)
    def upsert(): Unit = DeltaMerge.merge(
      s, path, odds, "t.s_suppkey = s.s_suppkey",
      matched = Nil,
      notMatched = Seq(MergeClause.NotMatched(
        odds.columns.map(c => c -> s"s.$c").toMap)),
      bySource = Nil,
      schemaEvolution = false,
      txn = Some(("dl24-upsert", 1L)))
    upsert()
    upsert() // redelivered merge → no-op
    DeltaTable.read(s, path)
      .groupBy((col("s_suppkey") % 5).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .orderBy(col("grp"))
  }

  /** Checkpoint-crossing replay in the VALUE gate (dl25): 12 appends
    * cross the default 10-commit checkpoint cadence, so the
    * latest-snapshot read must reconstruct through checkpoint parquet +
    * JSON tail, while the VERSION AS OF 5 read must replay the
    * pre-checkpoint JSON range (checkpoint selection bounded by the
    * requested version). The oracle recomputes both aggregates from the
    * raw fixture — a checkpoint that drops, duplicates or reorders
    * actions breaks the hash. The mechanism itself (cadence, multipart,
    * v2 sidecars, _last_checkpoint preference) is spec-pinned in
    * DeltaCheckpointSuite; this row puts checkpoint-replayed VALUES
    * through the driver's hash gate, closing the one §2 row that was
    * spec-verified only. */
  private def dl25CheckpointReplay(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val nation = Tables.read(s, dir, "nation")
    (0 until 12).foreach { i =>
      DeltaWriter.write(nation.filter(col("n_nationkey") % 12 === i),
        path, SaveMode.Append, Nil)
    }
    def agg(df: DataFrame, stage: String): DataFrame =
      df.agg(
        count(lit(1)).as("n"),
        sum(col("n_nationkey")).as("key_sum"),
        countDistinct(col("n_regionkey")).as("n_regions"))
        .withColumn("stage", lit(stage))
    // this row GATES checkpoint-crossing replay — drop the incremental
    // snapshot state the 12 writes warmed so the reads below reconstruct
    // from checkpoint parquet + JSON tail on disk, exactly the claim the
    // oracle hashes (values are identical either way by the memo's
    // contract; DriverSnapshotMemoSuite pins that separately)
    graft.sources.delta.SnapshotCache.clear(path)
    agg(DeltaTable.read(s, path), "full")
      .unionByName(agg(DeltaTable.readVersion(s, path, 5L), "v5"))
      .select(col("stage"), col("n"), col("key_sum"), col("n_regions"))
      .orderBy(col("stage"))
  }

  /** Identity columns through MERGE and RESTORE in the gate (dl26): the
    * round-15 extension of dl16. v0 seeds the `%3==0` slice with
    * `rid GENERATED ALWAYS AS IDENTITY (START 1 STEP 1)`; a MERGE updates
    * every matched row (identity values must ride through the
    * copy-on-write rewrite untouched) and inserts the `%3==1` slice
    * WITHOUT the identity column — generated ids continue from the high
    * water mark, n0+1..n0+n1. RESTORE to v0 then rolls the DATA back but
    * must NOT roll back the hwm (ids handed to the merge's rows may live
    * downstream), so the closing append's ids start at n0+n1+1, never
    * re-issuing the retired range. Both stages aggregate rid_min/max/sum —
    * arithmetic the oracle replays from the raw fixture's slice counts; a
    * merge that drops/duplicates identity values, or a restore that
    * re-issues ids, breaks the hash. */
  private def dl26IdentityMergeRestore(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 3 === 0), path,
      SaveMode.Append, Nil, identityColumns = Map("rid" -> (1L, 1L)))
    graft.sources.delta.DeltaMerge.merge(
      s, path, supplier.filter(col("s_suppkey") % 3 =!= 2),
      condition = "t.s_suppkey = s.s_suppkey",
      matchedUpdate = Some(Map("s_acctbal" -> "s.s_acctbal + 100.0")),
      matchedDelete = false,
      notMatchedInsert = Some(supplier.columns.map(c => c -> s"s.$c").toMap))
    def agg(df: DataFrame, stage: String): DataFrame =
      df.agg(
        count(lit(1)).as("n"),
        min(col("rid")).as("rid_min"),
        max(col("rid")).as("rid_max"),
        sum(col("rid")).as("rid_sum"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2)
          .cast("double").as("bal"))
        .withColumn("stage", lit(stage))
    val merged = agg(DeltaTable.read(s, path), "merged")
    graft.sources.delta.DeltaMaintenance.restore(s, path, 0L)
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 3 === 2), path,
      SaveMode.Append, Nil)
    merged.unionByName(agg(DeltaTable.read(s, path), "final"))
      .select(col("stage"), col("n"), col("rid_min"), col("rid_max"),
        col("rid_sum"), col("key_sum"), col("bal"))
      .orderBy(col("stage"))
  }

  /** Row tracking end-to-end in the gate (dl27): nation is written as ONE
    * sorted file, so after [[graft.sources.delta.RowTracking.enable]] every
    * row's fresh id equals its physical position equals `n_nationkey`
    * (25 keys, 0..24, at every SF). The copy-on-write UPDATE materializes
    * ids and redates the `%4==1` rows to its commit (v2); the ZORDER
    * rewrite physically REORDERS rows — ids must follow the rows through
    * the clustered rewrite; the DV delete drops the `%5==4` rows without
    * rewriting (surviving ids untouched). The oracle replays the whole
    * ledger arithmetically: `row_id = n_nationkey`,
    * `row_commit_version = 2 where %4==1 else 1` — any id drift,
    * re-numbering, lost materialization or mis-dated rewrite breaks the
    * hash. */
  private def dl27RowTracking(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    DeltaWriter.write(
      Tables.read(s, dir, "nation").repartition(1).sortWithinPartitions("n_nationkey"),
      path, SaveMode.Append, Nil)                                       // v0
    graft.sources.delta.RowTracking.enable(s, path)                     // v1
    graft.sources.delta.DeltaDml.update(
      s, path, "n_nationkey % 4 = 1", Map("n_name" -> "lower(n_name)")) // v2
    graft.sources.delta.DeltaMaintenance.zorder(
      s, path, Seq("n_name", "n_regionkey"))                            // v3
    graft.sources.delta.DeltaDml.deleteWithDv(
      s, path, "n_nationkey % 5 = 4")                                   // v4
    graft.sources.delta.RowTracking.readWithRowIds(s, path)
      .select(col("n_nationkey"), col("n_name"),
        col(graft.sources.delta.RowTracking.RowIdCol).as("row_id"),
        col(graft.sources.delta.RowTracking.RowVersionCol).as("row_commit_version"))
      .orderBy(col("n_nationkey"))
  }

  /** Clustered tables in the VALUE gate (dl28): the full liquid-clustering
    * lifecycle — declare `CLUSTER BY (s_suppkey)` on an interleaved
    * multi-file seed of the even keys (every file spans the whole key
    * range: pre-clustering stats prune nothing), auto-cluster via plain
    * OPTIMIZE at a toy target so the run emits a MULTI-file ZCube, append
    * the odd keys, OPTIMIZE again. Three structural invariants ride the
    * hash as boolean columns the oracle pins to TRUE:
    *   - `clustered`: every live file carries ZCube provenance tags;
    *   - `stats_tight`: within each ZCube, per-file [min,max] of the
    *     clustering column are pairwise DISJOINT — the stats-skipping
    *     property the feature exists to buy (single-key clustering is a
    *     range sort, so overlap means the sort or the stats are wrong);
    *   - `incremental`: the second OPTIMIZE rewrote exactly the appended
    *     files and left the stable first cube untouched — the
    *     O(new data), never O(table), maintenance contract at 100 TB.
    * The value plane (count/sum/bal per key-group over the reassembled
    * table) catches any row lost or doubled by the two rewrites. */
  private def dl28ClusteredTable(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.delta.{Clustering, DeltaLog, DeltaMaintenance}
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    (0 until 4).foreach { i =>
      DeltaWriter.write(supplier.filter(col("s_suppkey") % 8 === i * 2),
        path, SaveMode.Append, Nil)
    }
    Clustering.clusterBy(s, path, Seq("s_suppkey"))
    // toy-scale stability bound: any committed cube counts as done
    s.sql(s"ALTER TABLE delta.`$path` SET TBLPROPERTIES " +
      "('delta.clustering.minCubeSize'='1')")
    DeltaMaintenance.optimize(s, path, targetFileBytes = 4096)
    val cube1 = DeltaLog.snapshot(s, path).files.map(_.path).toSet
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 1),
      path, SaveMode.Append, Nil)
    val appended = DeltaLog.snapshot(s, path).files.map(_.path).toSet -- cube1
    val m2 = DeltaMaintenance.optimize(s, path, targetFileBytes = 4096)
    val finalSnap = DeltaLog.snapshot(s, path)
    val incremental = m2.filesRemoved == appended.size &&
      cube1.subsetOf(finalSnap.files.map(_.path).toSet)
    val clustered = finalSnap.files.forall(_.tags.contains(Clustering.TagZcubeId))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tight = finalSnap.files.groupBy(_.tags.get(Clustering.TagZcubeId))
      .forall { case (_, fs) =>
        fs.forall(_.stats.nonEmpty) && {
          val ranges = fs.map(f => mapper.readTree(f.stats.get))
            .filter(_.path("numRecords").asLong() > 0)
            .map(n => (n.path("minValues").path("s_suppkey").asLong(),
              n.path("maxValues").path("s_suppkey").asLong()))
            .sortBy(_._1)
          ranges.sliding(2).forall {
            case Seq((_, max1), (min2, _)) => max1 < min2
            case _ => true
          }
        }
      }
    DeltaTable.read(s, path)
      .groupBy((col("s_suppkey") % 4).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .withColumn("clustered", lit(clustered))
      .withColumn("stats_tight", lit(tight))
      .withColumn("incremental", lit(incremental))
      .orderBy(col("grp"))
  }

  /** Multi-column clustering tightness in the VALUE gate (dl30): dl28 pins
    * single-key clustering, whose layout is a plain range sort — it never
    * exercises the z-curve's actual value, MULTI-dimensional locality. This
    * gate measures it: supplier keys become a dense (x, y) grid
    * (`x = s_suppkey % 16`, `y = (s_suppkey / 16) % 16`), seeded as 4
    * hash-interleaved single-part files so every seed file's per-file
    * [min,max] hyper-rectangle covers ~the whole plane (stats prune
    * nothing). `CLUSTER BY (x, y)` + OPTIMIZE at a toy target then rewrites
    * into z-contiguous files, and the oracle pins two structural booleans
    * alongside the usual value plane:
    *   - `clustered`: every live file carries ZCube provenance;
    *   - `volume_shrunk`: the mean per-file 2-D hyper-rectangle volume
    *     (x-span × y-span from each file's OWN stats) is at most HALF the
    *     seed layout's — the measured stats-skipping win the z-curve
    *     exists to buy on both dimensions at once (ZOrderSuite's
    *     measured-tightness pattern, promoted to an oracle-pinned
    *     boolean). A rewrite that sorted on x alone, ignored y, or lost
    *     the interleave would leave y-spans at full width and fail the
    *     ×2 margin. */
  private def dl30Clustered2d(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.delta.{Clustering, DeltaLog, DeltaMaintenance}
    val path = scratch()
    val grid = Tables.read(s, dir, "supplier")
      .withColumn("x", (col("s_suppkey") % 16).cast("int"))
      .withColumn("y", ((col("s_suppkey") / 16).cast("long") % 16).cast("int"))
      .select("s_suppkey", "x", "y", "s_acctbal")
    (0 until 4).foreach { i =>
      DeltaWriter.write(grid.filter(pmod(hash(col("s_suppkey")), lit(4)) === i)
        .repartition(1), path, SaveMode.Append, Nil)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def meanVolume(files: Seq[graft.sources.delta.DeltaAddFile]): Double = {
      val vols = files.flatMap(_.stats.map { st =>
        val n = mapper.readTree(st)
        def span(c: String): Double =
          n.path("maxValues").path(c).asDouble() -
            n.path("minValues").path(c).asDouble() + 1
        span("x") * span("y")
      })
      if (vols.isEmpty) 0.0 else vols.sum / vols.size
    }
    val before = meanVolume(DeltaLog.snapshot(s, path).files)
    Clustering.clusterBy(s, path, Seq("x", "y"))
    DeltaMaintenance.optimize(s, path, targetFileBytes = 2048)
    val finalSnap = DeltaLog.snapshot(s, path)
    val clustered = finalSnap.files.forall(_.tags.contains(Clustering.TagZcubeId))
    val after = meanVolume(finalSnap.files)
    val shrunk = after > 0 && after * 2 <= before
    DeltaTable.read(s, path)
      .groupBy((col("s_suppkey") % 4).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        sum(col("x") + col("y") * 16).as("xy_sum"),
        round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("double").as("bal"))
      .withColumn("clustered", lit(clustered))
      .withColumn("volume_shrunk", lit(shrunk))
      .orderBy(col("grp"))
  }

  /** VARIANT columns in the VALUE gate (dl29, `variantType` table feature
    * — beyond delta-rs 0.29.4, which predates variant): semi-structured
    * per-row metadata is THE 100 TB training-data shape (crawl headers,
    * provenance blobs, per-doc labels) and VARIANT stores it binary-encoded
    * without exploding the schema. Lifecycle exercised: v0 is a LEGACY
    * (1,2)-protocol table; a mergeSchema append INTRODUCES the variant
    * column, which must upgrade the protocol to reader3/writer7 +
    * variantType in the SAME commit (a foreign reader without the feature
    * cannot decode the binary encoding — spec); a copy-on-write DELETE
    * then rewrites variant-carrying files (parquet re-encode roundtrip).
    * The oracle replays the arithmetic from the raw fixture: rows from the
    * legacy half have NULL meta, rows from the variant half carry
    * `{"key":k,"nation":n,"tags":["a","b"]}` — `variant_get` sums and the
    * tag-presence count break the hash on any encode/decode/rewrite
    * drift. */
  private def dl29Variant(s: SparkSession, dir: String): DataFrame = {
    val path = scratch()
    val supplier = Tables.read(s, dir, "supplier")
    DeltaWriter.write(supplier.filter(col("s_suppkey") % 2 === 0),
      path, SaveMode.Append, Nil)
    val withV = supplier.filter(col("s_suppkey") % 2 === 1)
      .withColumn("meta", expr(
        """parse_json(concat('{"key":', s_suppkey, ',"nation":', s_nationkey,
           ',"tags":["a","b"]}'))"""))
    DeltaWriter.write(withV, path, SaveMode.Append, Nil, mergeSchema = true)
    graft.sources.delta.DeltaDml.delete(s, path, "s_suppkey % 10 = 3")
    DeltaTable.read(s, path)
      .groupBy((col("s_suppkey") % 4).cast("int").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("key_sum"),
        sum(expr("variant_get(meta, '$.key', 'bigint')")).as("vkey_sum"),
        sum(expr("variant_get(meta, '$.nation', 'bigint')")).as("vnation_sum"),
        count(expr("variant_get(meta, '$.tags[1]', 'string')")).as("n_tagged"))
      .orderBy(col("grp"))
  }

  val oracleSql: Map[String, String] = Map(
    "dl30_clustered_2d" -> """
      SELECT CAST(s_suppkey % 4 AS INT) AS grp, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(sum(s_suppkey % 16 + ((s_suppkey // 16) % 16) * 16)
               AS BIGINT) AS xy_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal,
             TRUE AS clustered, TRUE AS volume_shrunk
      FROM supplier GROUP BY 1 ORDER BY 1""",
    "dl29_variant" -> """
      SELECT CAST(s_suppkey % 4 AS INT) AS grp, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(sum(CASE WHEN s_suppkey % 2 = 1 THEN s_suppkey END) AS BIGINT) AS vkey_sum,
             CAST(sum(CASE WHEN s_suppkey % 2 = 1 THEN s_nationkey END) AS BIGINT) AS vnation_sum,
             count(CASE WHEN s_suppkey % 2 = 1 THEN 1 END) AS n_tagged
      FROM supplier WHERE s_suppkey % 10 <> 3 GROUP BY 1 ORDER BY 1""",
    "dl28_clustered_table" -> """
      SELECT CAST(s_suppkey % 4 AS INT) AS grp, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal,
             TRUE AS clustered, TRUE AS stats_tight, TRUE AS incremental
      FROM supplier GROUP BY 1 ORDER BY 1""",
    "dl27_row_tracking" -> """
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 4 = 1 THEN lower(n_name) ELSE n_name END
               AS n_name,
             CAST(n_nationkey AS BIGINT) AS row_id,
             CAST(CASE WHEN n_nationkey % 4 = 1 THEN 2 ELSE 1 END AS BIGINT)
               AS row_commit_version
      FROM nation
      WHERE n_nationkey % 5 <> 4
      ORDER BY n_nationkey
    """,
    "dl26_identity_merge_restore" -> """
      WITH c AS (
        SELECT
          count(*) FILTER (WHERE s_suppkey % 3 = 0) AS n0,
          count(*) FILTER (WHERE s_suppkey % 3 = 1) AS n1,
          count(*) FILTER (WHERE s_suppkey % 3 = 2) AS n2,
          sum(s_suppkey) FILTER (WHERE s_suppkey % 3 = 0) AS k0,
          sum(s_suppkey) FILTER (WHERE s_suppkey % 3 = 1) AS k1,
          sum(s_suppkey) FILTER (WHERE s_suppkey % 3 = 2) AS k2,
          sum(CAST(s_acctbal AS DECIMAL(18,6)))
            FILTER (WHERE s_suppkey % 3 = 0) AS b0,
          sum(CAST(s_acctbal AS DECIMAL(18,6)))
            FILTER (WHERE s_suppkey % 3 = 1) AS b1,
          sum(CAST(s_acctbal AS DECIMAL(18,6)))
            FILTER (WHERE s_suppkey % 3 = 2) AS b2
        FROM supplier)
      SELECT * FROM (
        SELECT 'merged' AS stage,
               n0 + n1 AS n,
               CAST(1 AS BIGINT) AS rid_min,
               CAST(n0 + n1 AS BIGINT) AS rid_max,
               CAST((n0 + n1) * (n0 + n1 + 1) / 2 AS BIGINT) AS rid_sum,
               CAST(k0 + k1 AS BIGINT) AS key_sum,
               CAST(round(b0 + b1 + 100 * n0, 2) AS DOUBLE) AS bal
        FROM c
        UNION ALL
        SELECT 'final' AS stage,
               n0 + n2 AS n,
               CAST(1 AS BIGINT) AS rid_min,
               CAST(n0 + n1 + n2 AS BIGINT) AS rid_max,
               CAST(n0 * (n0 + 1) / 2
                    + n2 * (n0 + n1) + n2 * (n2 + 1) / 2 AS BIGINT) AS rid_sum,
               CAST(k0 + k2 AS BIGINT) AS key_sum,
               CAST(round(b0 + b2, 2) AS DOUBLE) AS bal
        FROM c)
      ORDER BY stage""",
    "dl25_checkpoint_replay" -> """
      WITH f AS (
        SELECT 'full' AS stage, count(*) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
               count(DISTINCT n_regionkey) AS n_regions
        FROM nation),
      v AS (
        SELECT 'v5' AS stage, count(*) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
               count(DISTINCT n_regionkey) AS n_regions
        FROM nation WHERE n_nationkey % 12 <= 5)
      SELECT stage, n, key_sum, n_regions FROM (
        SELECT * FROM f UNION ALL SELECT * FROM v)
      ORDER BY stage""",
    "dl24_idempotent_write" -> """
      SELECT CAST(s_suppkey % 5 AS INT) AS grp, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier GROUP BY 1 ORDER BY 1""",
    "dl23_column_defaults" -> """
      WITH w AS (
        SELECT s_suppkey, s_acctbal, 'none' AS tier FROM supplier
        WHERE s_suppkey % 2 = 0
        UNION ALL
        SELECT s_suppkey, s_acctbal, 'std' FROM supplier
        WHERE s_suppkey % 2 = 1
        UNION ALL
        SELECT s_suppkey + 100000, s_acctbal, 'prem' FROM supplier
        WHERE s_suppkey % 7 = 0)
      SELECT tier, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM w GROUP BY 1 ORDER BY 1""",
    "dl22_generated_partition_prune" -> """
      SELECT CAST(ts AS DATE) AS d, count(*) AS n,
             CAST(sum(user_id) AS BIGINT) AS uid_sum,
             CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS val_sum
      FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
      GROUP BY 1 ORDER BY 1""",
    "dl21_merge_clauses" -> """
      WITH m AS (
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
               (s_suppkey % 3 = 0) AS matched
        FROM supplier WHERE s_suppkey % 2 = 0),
      kept AS (
        SELECT s_suppkey,
               CASE WHEN matched THEN upper(s_name) ELSE s_name END AS s_name,
               s_nationkey,
               CASE WHEN matched THEN s_acctbal + 10.0
                    WHEN NOT matched AND s_nationkey < 5 THEN 0.0
                    ELSE s_acctbal END AS s_acctbal
        FROM m WHERE NOT (matched AND s_acctbal < 0)),
      ins AS (
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
        WHERE s_suppkey % 3 = 0 AND s_suppkey % 2 = 1 AND s_acctbal >= 0),
      w AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
      SELECT CAST(s_suppkey % 3 AS INT) AS grp, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal,
             max(s_name) AS name_max
      FROM w GROUP BY 1 ORDER BY 1""",
    "dl20_convert_to_delta" -> """
      WITH w AS (
        SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        UNION ALL
        SELECT s_suppkey + 100000, s_nationkey, s_acctbal FROM supplier)
      SELECT CAST(s_nationkey % 4 AS INT) AS grp,
             count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM w GROUP BY 1 ORDER BY 1""",
    "dl19_streaming_sink" -> """
      SELECT CAST(s_nationkey % 5 AS INT) AS grp,
             count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier GROUP BY 1 ORDER BY 1""",
    "dl18_timestamp_ntz" -> """
      WITH w AS (
        SELECT s_suppkey,
               TIMESTAMP '2021-03-04 05:06:07'
                 + (s_suppkey % 720) * INTERVAL 1 MINUTE AS ts
        FROM supplier)
      SELECT count(*) AS n,
             min(ts) AS ts_min,
             max(ts) AS ts_max,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum
      FROM w WHERE ts >= TIMESTAMP '2021-03-04 06:00:00'""",
    "dl17_id_mode_mapping" -> """
      SELECT CAST(s_suppkey % 2 AS INT) AS parity,
             count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier WHERE s_acctbal > 0 GROUP BY 1 ORDER BY 1""",
    "dl16_identity_columns" -> """
      SELECT count(*) AS n,
             CAST(1000 AS BIGINT) AS rid_min,
             CAST(1000 + 10 * (count(*) - 1) AS BIGINT) AS rid_max,
             CAST(count(*) * 1000 + 10 * (count(*) * (count(*) - 1) / 2) AS BIGINT) AS rid_sum,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum
      FROM supplier""",
    "dl15_type_widening" -> """
      SELECT CAST(s_nationkey % 5 AS INT) AS grp,
             count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(CAST(CAST(s_acctbal AS REAL) AS DOUBLE)
                                 AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier GROUP BY 1 ORDER BY 1""",
    "dl14_change_data_feed" -> """
      SELECT * FROM (
        SELECT 'delete' AS change_type, count(*) AS n,
               CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
               CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
        FROM supplier WHERE s_acctbal < 0 AND s_suppkey % 10 <> 0
        HAVING count(*) > 0
        UNION ALL
        SELECT 'update_preimage', count(*),
               CAST(sum(s_suppkey) AS BIGINT),
               CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM supplier WHERE s_suppkey % 10 = 0
        HAVING count(*) > 0
        UNION ALL
        SELECT 'update_postimage', count(*),
               CAST(sum(s_suppkey) AS BIGINT),
               CAST(round(sum(CAST(s_acctbal + 100.0 AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM supplier WHERE s_suppkey % 10 = 0
        HAVING count(*) > 0)
      ORDER BY change_type""",
    "dl13_drop_column" -> """
      SELECT count(*) AS n,
             CAST(0 AS BIGINT) AS n_name,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum
      FROM supplier""",
    "dl11_column_mapping" -> """
      SELECT CAST(s_suppkey % 2 AS INT) AS parity,
             count(*) AS n,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier WHERE s_acctbal > 0
      GROUP BY 1 ORDER BY 1""",
    "dl12_sql_time_travel" -> """
      SELECT 'v0' AS snap, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier WHERE s_suppkey % 2 = 0
      UNION ALL
      SELECT 'latest' AS snap, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier
      ORDER BY snap""",
    "dl10_dv_delete" -> """
      SELECT count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier
      WHERE NOT (s_acctbal < 0 OR s_suppkey % 7 = 0)
        AND NOT (s_suppkey % 11 = 0)
        AND s_nationkey < 20""",
    "dl01_delta_roundtrip" -> """
      SELECT s_nationkey,
             count(*) AS n,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    "dl02_delta_time_travel" -> """
      SELECT count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier WHERE s_suppkey % 2 = 0""",
    "dl03_delta_pruned_read" -> """
      SELECT s_suppkey, s_name, round(s_acctbal, 2) AS bal
      FROM supplier WHERE s_nationkey = 3 ORDER BY s_suppkey""",
    "dl04_sql_insert" -> """
      SELECT CAST(n_regionkey AS INT) AS n_regionkey,
             count(*) AS n,
             CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
             max(n_name) AS name_max
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "dl05_restore" -> """
      SELECT count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier WHERE s_suppkey % 2 = 0""",
    "dl06_delete" -> """
      SELECT count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier WHERE NOT (s_nationkey = 3 OR s_acctbal < 0)""",
    "dl07_update" -> """
      SELECT CAST(s_suppkey % 10 = 0 AS INT) AS updated,
             count(*) AS n,
             CAST(round(sum(CAST(
               CASE WHEN s_suppkey % 10 = 0 THEN s_acctbal + 100.0 ELSE s_acctbal END
               AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal,
             max(CASE WHEN s_suppkey % 10 = 0 THEN upper(s_name) ELSE s_name END) AS name_max
      FROM supplier GROUP BY 1 ORDER BY 1""",
    "dl09_replace_where" -> """
      SELECT CAST(s_nationkey AS INT) AS s_nationkey, count(*) AS n,
             CAST(round(sum(CAST(CASE WHEN s_nationkey = 3 THEN s_acctbal * 2
                                      ELSE s_acctbal END AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal
      FROM supplier GROUP BY 1 ORDER BY 1""",
    "dl08_merge" -> """
      WITH merged AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 4 = 0 THEN s_acctbal + 50.0 ELSE s_acctbal END AS s_acctbal,
               CASE WHEN s_suppkey % 4 = 0 THEN upper(s_name) ELSE s_name END AS s_name
        FROM supplier WHERE s_suppkey % 2 = 0
        UNION ALL
        SELECT s_suppkey, s_acctbal, s_name FROM supplier WHERE s_suppkey % 2 = 1)
      SELECT CAST(s_suppkey % 2 AS INT) AS parity,
             count(*) AS n,
             CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS bal,
             max(s_name) AS name_max
      FROM merged GROUP BY 1 ORDER BY 1""")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dl01_delta_roundtrip" -> dl01Roundtrip,
    "dl02_delta_time_travel" -> dl02TimeTravel,
    "dl03_delta_pruned_read" -> dl03PrunedRead,
    "dl04_sql_insert" -> dl04SqlInsert,
    "dl05_restore" -> dl05Restore,
    "dl06_delete" -> dl06Delete,
    "dl07_update" -> dl07Update,
    "dl08_merge" -> dl08Merge,
    "dl09_replace_where" -> dl09ReplaceWhere,
    "dl10_dv_delete" -> dl10DvDelete,
    "dl11_column_mapping" -> dl11ColumnMapping,
    "dl12_sql_time_travel" -> dl12SqlTimeTravel,
    "dl13_drop_column" -> dl13DropColumn,
    "dl14_change_data_feed" -> dl14Cdf,
    "dl15_type_widening" -> dl15TypeWidening,
    "dl16_identity_columns" -> dl16IdentityColumns,
    "dl17_id_mode_mapping" -> dl17IdModeMapping,
    "dl18_timestamp_ntz" -> dl18TimestampNtz,
    "dl19_streaming_sink" -> dl19StreamingSink,
    "dl20_convert_to_delta" -> dl20ConvertToDelta,
    "dl21_merge_clauses" -> dl21MergeClauses,
    "dl22_generated_partition_prune" -> dl22GeneratedPrune,
    "dl23_column_defaults" -> dl23ColumnDefaults,
    "dl24_idempotent_write" -> dl24IdempotentWrite,
    "dl25_checkpoint_replay" -> dl25CheckpointReplay,
    "dl26_identity_merge_restore" -> dl26IdentityMergeRestore,
    "dl27_row_tracking" -> dl27RowTracking,
    "dl28_clustered_table" -> dl28ClusteredTable,
    "dl29_variant" -> dl29Variant,
    "dl30_clustered_2d" -> dl30Clustered2d)
}
