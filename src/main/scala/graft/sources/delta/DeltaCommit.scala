package graft.sources.delta

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** The Delta layer's one optimistic-commit transaction (Delta Lake's
  * protocol: read a snapshot, decide, publish `<version>.json` if nobody
  * else did, else re-read and decide again). Every commit path runs
  * through [[run]] — or, for a table's version 0, through [[create]] —
  * and every `commitInfo`/`add`/`remove`/`metaData`/`txn`/`protocol`
  * action line is serialized by the encoders below.
  *
  * What a caller keeps is its DECISION per attempt: which snapshot it
  * re-reads, its conflict rules, its no-op short-circuits, and the action
  * lines it wants committed. What the transaction owns:
  *
  *  - the attempt loop and its one retry cap ([[MaxAttempts]]);
  *  - the `commitInfo` line (timestamp, in-commit timestamp, operation,
  *    parameters, `isBlindAppend`, engineInfo, metrics);
  *  - the publish ([[DeltaLog.tryCommit]]) and the checkpoint cadence;
  *  - exhaustion: the caller's abort cleanup runs, then the commit fails;
  *  - ONE configuration rule: the in-commit timestamp and the checkpoint
  *    interval follow the configuration the committed version carries —
  *    the new `metaData`'s on a metadata commit, the read snapshot's
  *    otherwise. A commit that turns in-commit timestamps on records the
  *    enablement version/timestamp in that same `metaData`. */
private[graft] object DeltaCommit {

  val MaxAttempts = 20
  private val EngineInfo = "graft-spark/0.1.0"
  private val mapper = new ObjectMapper()

  /** A staged data file published into the table dir: (table-relative
    * path, partition values, size, modification time, stats). */
  type Staged = (String, Map[String, String], Long, Long, Option[ObjectNode])

  /** One attempt's commit.
    *
    * @param on the snapshot the attempt read (None: the table does not
    *        exist yet) — the commit lands at its version + 1
    * @param actions every line after commitInfo/txn/protocol/metaData
    *        (removes, adds, domain metadata, cdc), in commit order */
  final case class Txn(
      on: Option[DeltaSnapshot],
      operation: String,
      parameters: Seq[(String, Any)] = Nil,
      metrics: Map[String, Long] = Map.empty,
      isBlindAppend: Option[Boolean] = None,
      setTransaction: Option[(String, Long)] = None,
      protocol: Option[DeltaProtocol] = None,
      metadata: Option[DeltaMetadata] = None,
      actions: Seq[String] = Nil) {
    def version: Long = on.map(_.version + 1).getOrElse(0L)
    /** The configuration the committed version carries. */
    def configuration: Map[String, String] =
      metadata.orElse(on.map(_.metadata)).map(_.configuration).getOrElse(Map.empty)
  }

  /** The optimistic loop. `attempt` runs once per try: it re-reads the
    * table, applies the caller's conflict rules (which may throw after
    * their own cleanup), and returns `Left(version)` when there is nothing
    * to commit (the work is already at `version`) or `Right(txn)`.
    *
    * @param op names the operation in the exhaustion error
    * @param onAbort cleanup of everything the caller staged, run when every
    *        attempt lost its race
    * @return Left(version) for a no-op, Right(committed version) */
  def run(spark: SparkSession, tablePath: String, op: String,
      onAbort: () => Unit = () => ())(attempt: => Either[Long, Txn]): Either[Long, Long] = {
    var n = 0
    while (n < MaxAttempts) {
      attempt match {
        case Left(v) => return Left(v)
        case Right(txn) =>
          n += 1
          if (publish(spark, tablePath, txn)) return Right(txn.version)
      }
    }
    try onAbort() catch { case _: Exception => () }
    throw new java.io.IOException(s"$op could not commit to $tablePath after $n attempts")
  }

  /** A table's version 0 (clone, CONVERT): one attempt — losing the race
    * means another writer created the table. */
  def create(spark: SparkSession, tablePath: String, txn: Txn): Long = {
    require(txn.on.isEmpty, s"${txn.operation} creates a table; it reads no snapshot")
    if (!publish(spark, tablePath, txn))
      throw new java.io.IOException(s"${txn.operation} lost the race creating $tablePath")
    0L
  }

  /** Encode `txn` behind its commitInfo, try to publish it, and checkpoint
    * on the cadence when it won. */
  private def publish(spark: SparkSession, tablePath: String, txn: Txn): Boolean = {
    val readVersion = txn.version - 1
    val ciLine = mapper.createObjectNode()
    val ci = ciLine.putObject("commitInfo")
    ci.put("timestamp", System.currentTimeMillis())
    val ict = InCommitTimestamps.stamp(spark, tablePath, txn.configuration, readVersion, ci)
    ci.put("operation", txn.operation)
    txn.isBlindAppend.foreach(ci.put("isBlindAppend", _))
    val params = ci.putObject("operationParameters")
    txn.parameters.foreach {
      case (k, v: Long) => params.put(k, v)
      case (k, v: Int) => params.put(k, v)
      case (k, v: Boolean) => params.put(k, v)
      case (k, v) => params.put(k, v.toString)
    }
    ci.put("engineInfo", EngineInfo)
    if (txn.metrics.nonEmpty) {
      val m = ci.putObject("operationMetrics")
      txn.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v.toString) }
    }
    // newly enabling in-commit timestamps on an existing table: record
    // WHEN (version + ict) the series started — readers fall back to file
    // mtimes for earlier versions
    val metadata = txn.metadata.map { m =>
      val wasOn = txn.on.exists(s => InCommitTimestamps.enabled(s.metadata.configuration))
      if (txn.on.isEmpty || wasOn || ict.isEmpty) m
      else m.copy(configuration = m.configuration ++ Map(
        InCommitTimestamps.EnablementVersionKey -> txn.version.toString,
        InCommitTimestamps.EnablementTimestampKey -> ict.get.toString))
    }
    val lines = Seq.newBuilder[String]
    lines += mapper.writeValueAsString(ciLine)
    txn.setTransaction.foreach { case (appId, v) => lines += txnLine(appId, v) }
    txn.protocol.foreach(lines += protocolLine(_))
    metadata.foreach(lines += metaDataLine(_))
    lines ++= txn.actions
    val won = DeltaLog.tryCommit(spark, tablePath, txn.version, lines.result().mkString("\n"))
    if (won) maybeCheckpoint(spark, tablePath, txn.version, txn.configuration)
    won
  }

  /** Checkpoint on the cadence — every commit path goes through here, so
    * long maintenance chains bound replay cost the same way append chains
    * do. The cadence honors the table's `delta.checkpointInterval`
    * (default [[DeltaWriter.CheckpointInterval]]). The driver state the
    * checkpoint was written from seeds the snapshot cache, so the next
    * snapshot extends it instead of reading the checkpoint back. */
  private def maybeCheckpoint(
      spark: SparkSession, tablePath: String, version: Long,
      configuration: Map[String, String]): Unit = {
    val interval = configuration.get("delta.checkpointInterval")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0)
      .getOrElse(DeltaWriter.CheckpointInterval)
    if (version > 0 && version % interval == 0)
      DeltaWriter.checkpoint(spark, tablePath, version)
        .foreach(DeltaLog.seedCheckpointState(spark, tablePath, version, _))
  }

  // ---- encoders: one per action ----

  /** Staged files as `add` lines, followed on a row-tracked table by the
    * hwm domain line: baseRowIds are allocated from `on`'s high water
    * mark, so every attempt re-bases on the snapshot it read. */
  def stagedAddLines(
      on: Option[DeltaSnapshot], staged: Seq[Staged], version: Long,
      dataChange: Boolean = true, tags: Map[String, String] = Map.empty): Seq[String] = {
    val adds = staged.map { case (rel, pv, size, modTime, stats) =>
      DeltaAddFile(DeltaWriter.encodePath(rel), pv, size, modTime,
        stats.map(mapper.writeValueAsString), tags = tags)
    }
    val (stamped, domain) = RowTracking.stampAdds(on, adds, version)
    stamped.map(addLine(_, dataChange)) ++ domain
  }

  /** One `add` line: partition values, stats, deletion vector, row ids
    * and tags exactly as `f` carries them. */
  def addLine(f: DeltaAddFile, dataChange: Boolean = true): String = {
    val node = mapper.createObjectNode()
    val a = node.putObject("add")
    a.put("path", f.path)
    val pv = a.putObject("partitionValues")
    f.partitionValues.foreach { case (k, v) => if (v == null) pv.putNull(k) else pv.put(k, v) }
    a.put("size", f.size)
    a.put("modificationTime", f.modificationTime)
    a.put("dataChange", dataChange)
    f.stats.foreach(a.put("stats", _))
    f.deletionVector.foreach(DeletionVectors.putDvNode(a, _))
    f.baseRowId.foreach(a.put("baseRowId", _))
    f.defaultRowCommitVersion.foreach(a.put("defaultRowCommitVersion", _))
    // re-adds of unchanged files keep their provenance tags: dropping
    // ZCube tags would demote a clustered table to full-rewrite OPTIMIZE
    if (f.tags.nonEmpty) {
      val t = a.putObject("tags")
      f.tags.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
    }
    mapper.writeValueAsString(node)
  }

  /** One `remove` line. */
  def removeLine(path: String, dataChange: Boolean = true): String = {
    val node = mapper.createObjectNode()
    val r = node.putObject("remove")
    r.put("path", path)
    r.put("deletionTimestamp", System.currentTimeMillis())
    r.put("dataChange", dataChange)
    mapper.writeValueAsString(node)
  }

  /** One `metaData` line. It must carry the table's whole configuration:
    * replay is last-metaData-wins, so a partial map would silently wipe
    * CHECK constraints, CDF enablement and column-mapping keys.
    * `createdTime` is this action's creation time (spec). */
  private def metaDataLine(md: DeltaMetadata): String = {
    val node = mapper.createObjectNode()
    val m = node.putObject("metaData")
    m.put("id", md.id)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    m.put("schemaString", md.schemaString)
    val pc = m.putArray("partitionColumns")
    md.partitionColumns.foreach(pc.add)
    val cfg = m.putObject("configuration")
    md.configuration.foreach { case (k, v) => cfg.put(k, v) }
    m.put("createdTime", System.currentTimeMillis())
    mapper.writeValueAsString(node)
  }

  /** One `txn` (SetTransaction) line: replay exposes (appId, version)
    * through `snapshot.transactions` for redelivery checks. */
  private def txnLine(appId: String, version: Long): String = {
    val node = mapper.createObjectNode()
    val t = node.putObject("txn")
    t.put("appId", appId)
    t.put("version", version)
    t.put("lastUpdated", System.currentTimeMillis())
    mapper.writeValueAsString(node)
  }

  /** One `protocol` line (spec serialization: `readerFeatures` present
    * iff minReaderVersion ≥ 3, `writerFeatures` iff minWriterVersion ≥ 7,
    * both sorted). */
  private def protocolLine(proto: DeltaProtocol): String = {
    val node = mapper.createObjectNode()
    val p = node.putObject("protocol")
    p.put("minReaderVersion", proto.minReaderVersion)
    p.put("minWriterVersion", proto.minWriterVersion)
    if (proto.minReaderVersion >= 3) {
      val rf = p.putArray("readerFeatures")
      proto.readerFeatures.toSeq.sorted.foreach(rf.add)
    }
    if (proto.minWriterVersion >= 7) {
      val wf = p.putArray("writerFeatures")
      proto.writerFeatures.toSeq.sorted.foreach(wf.add)
    }
    mapper.writeValueAsString(node)
  }
}
