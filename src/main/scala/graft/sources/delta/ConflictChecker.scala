package graft.sources.delta

/** Logical conflict resolution for the optimistic commit loops — the
  * WriteSerializable rules production Delta implementations converge on
  * (delta-spark's ConflictChecker; delta-rs ships the same class —
  * reference capability via deltalake 0.29.4,
  * `/root/reference/Cargo.toml:16`).
  *
  * The decision an in-flight REWRITE transaction (DML / MERGE / OPTIMIZE /
  * DV delete / replaceWhere) must make when it loses the commit race: can
  * it commit on top of the new snapshot, or would that corrupt state? The
  * rules, checked each attempt against the re-read metadata snapshot and
  * the intervening commits:
  *
  *  - **Disjoint commits proceed.** Concurrent appends, and concurrent
  *    removes/rewrites of files OUTSIDE our touched set, do not conflict —
  *    a busy 100-TB table with partition-scoped jobs (DELETE partition A
  *    ∥ append partition B ∥ compaction of partition C) commits them all;
  *    aborting here is the difference between "retries" and "fails" at
  *    fleet scale.
  *  - **A touched file that a concurrent commit removed or re-added
  *    aborts** ([[checkRewrite]], one rule on both snapshot planes). Not
  *    just removed-vs-live: a concurrent commit that re-added the same
  *    path with different state (a DV attach, refreshed stats after a
  *    foreign rewrite) invalidates our staged rewrite — committing a
  *    rewrite computed from the pre-DV state would RESURRECT the rows that
  *    DV deleted.
  *  - **A concurrent metaData change aborts** (ConcurrentMetadataUpdate).
  *    Schema, partitioning, constraints, CDF enablement, column mapping —
  *    every staged file and validation in this transaction assumed the old
  *    metadata. Production Delta fails every concurrent transaction on
  *    metadata update; so does this.
  *  - **A concurrent protocol change aborts** — the capability contract
  *    the transaction validated at start (assertWritable) no longer holds.
  *
  *  - **Concurrent NON-blind-append data adds that overlap the
  *    transaction's READ SET abort** ([[checkReadSet]]) — the rule the
  *    touched-file check cannot express: a MERGE's insert anti-join and a
  *    DML's find read rows BEYOND the files they rewrite, and a concurrent
  *    MERGE/rewrite that added matching data invalidates those decisions
  *    (two concurrent upserts of the same absent key would otherwise BOTH
  *    commit an insert — duplicate rows with no serial order). Blind
  *    appends stay exempt: they read nothing, so they serialize before the
  *    reader — Delta's WriteSerializable default, which is what keeps a
  *    busy table's append firehose from starving row-level DML. The
  *    transaction's partition-column read-predicate conjuncts prune the
  *    overlap test, so partition-scoped DML still commits past concurrent
  *    rewrites of OTHER partitions.
  *
  * Blind appends run a lighter version ([[checkTableState]]): they touch
  * no existing file and read nothing, so only the metadata/protocol rules
  * apply.
  */
private[delta] object ConflictChecker {

  /** The touched-file rule of a rewrite's commit attempt, on both
    * snapshot planes: aborts when any intervening commit in
    * (base, latest] removed OR (re-)added a file this transaction
    * touched. It reads only those commit JSONs — O(concurrent commits)
    * driver work, never O(files) — so `latest` needs no live set
    * ([[DeltaLog.metadataSnapshot]]). A byte-identical re-add of a touched
    * path aborts too: a spurious retry, never a corruption. A range with
    * missing commit JSONs aborts (unvalidatable). Returns the attempt's
    * shared range ([[DeltaLog.sharedConflictRange]]) for the caller's
    * [[checkReadSet]], so both rules parse it at most once per attempt and
    * nothing is kept across attempts. */
  def checkRewrite(
      op: String,
      spark: org.apache.spark.sql.SparkSession,
      base: DeltaSnapshot,
      latest: DeltaSnapshot,
      touched: Seq[DeltaAddFile],
      onAbort: () => Unit): () => DeltaLog.ConflictRange = {
    val range = DeltaLog.sharedConflictRange(spark, base.tablePath, base.version, latest.version)
    if (latest.version == base.version) return range // no intervening commit
    checkTableState(op, base, latest, onAbort)
    val touchedPaths = touched.map(_.path).toSet
    val hit =
      try range().pathActions.find(touchedPaths.contains)
      catch { case e: java.io.IOException => abort(op, base, onAbort, e.getMessage) }
    hit.foreach { p =>
      abort(op, base, onAbort,
        s"source file $p was removed or rewritten by a concurrent commit " +
          s"(v${base.version} -> v${latest.version})")
    }
    range
  }

  /** Read-set rule: abort when a concurrent NON-blind-append commit added
    * dataChange files that may overlap what this transaction READ —
    * `readPredicate` (the DML WHERE; None = the whole table, MERGE's
    * anti-join scope) prunes the overlap test by its partition-column
    * conjuncts. Call AFTER [[checkRewrite]] in the same attempt, with the
    * range it returned (the touched-file rule covers concurrent
    * removes/rewrites of files we touch; this covers adds we never
    * touched but did read). */
  def checkReadSet(
      op: String,
      spark: org.apache.spark.sql.SparkSession,
      base: DeltaSnapshot,
      latest: DeltaSnapshot,
      readPredicate: Option[String],
      onAbort: () => Unit,
      range: () => DeltaLog.ConflictRange): Unit = {
    if (latest.version == base.version) return
    val added =
      try range().nonBlindAdds
      catch { case e: java.io.IOException => abort(op, base, onAbort, e.getMessage) }
    if (added.isEmpty) return
    val overlapping = pruneByPartitionConjuncts(spark, base, added, readPredicate)
    if (overlapping.nonEmpty)
      abort(op, base, onAbort,
        s"a concurrent non-append commit added ${overlapping.size} data file(s) " +
          s"overlapping this transaction's read set (e.g. ${overlapping.head.path}); " +
          "decisions computed from the stale read could be wrong")
  }

  /** Best-effort pruning of `files` by the partition-column conjuncts of
    * `predicate`: each top-level AND conjunct that analyzes as a pure
    * partition predicate filters the file list by partitionValues; any
    * conjunct referencing data columns is skipped (cannot prune — stays
    * conservative). No predicate, or an unpartitioned table, prunes
    * nothing. */
  private def pruneByPartitionConjuncts(
      spark: org.apache.spark.sql.SparkSession,
      base: DeltaSnapshot,
      files: Seq[DeltaAddFile],
      predicate: Option[String]): Seq[DeltaAddFile] = predicate match {
    case None => files
    case Some(_) if base.partitionColumns.isEmpty => files
    case Some(p) =>
      def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      val parts =
        try conjuncts(spark.sessionState.sqlParser.parseExpression(p))
        catch { case _: Exception => return files }
      parts.foldLeft(files) { (remaining, c) =>
        if (remaining.isEmpty) remaining
        else try DeltaMaintenance.filterByPartitionPredicate(
          spark, base, remaining, Some(c.sql))
        catch { case _: Exception => remaining } // not partition-only: skip
      }
  }

  /** Metadata/protocol stability — the part that applies to EVERY
    * transaction, including blind appends. */
  def checkTableState(
      op: String,
      base: DeltaSnapshot,
      latest: DeltaSnapshot,
      onAbort: () => Unit): Unit = {
    if (latest.metadata != base.metadata)
      abort(op, base, onAbort,
        s"table metadata changed concurrently (v${base.version} -> v${latest.version}: " +
          "schema/partitioning/configuration no longer match what this " +
          "transaction validated against)")
    if (latest.protocol != base.protocol)
      abort(op, base, onAbort,
        s"table protocol changed concurrently (v${base.version} -> v${latest.version})")
    // domainMetadata stability: a concurrent change to ANY domain aborts
    // (the spec's domain-conflict rule, taken conservatively: this engine
    // cannot judge whether a foreign engine's domain state invalidated the
    // transaction, so it never commits across one). The ONE exception is
    // the row-id high water mark — every commit on a row-tracked table
    // advances it, so two concurrent appends would deadlock-by-abort here;
    // instead the commit loops RE-BASE their baseRowId allocation against
    // the latest hwm on retry (see RowTracking.allocate), which is exactly
    // how production resolves this conflict class.
    val baseDoms = base.domainMetadata - RowTracking.Domain
    val latestDoms = latest.domainMetadata - RowTracking.Domain
    if (baseDoms != latestDoms)
      abort(op, base, onAbort,
        s"table domain metadata changed concurrently (v${base.version} -> " +
          s"v${latest.version}: " +
          (latestDoms.keySet ++ baseDoms.keySet)
            .filter(k => baseDoms.get(k) != latestDoms.get(k))
            .toSeq.sorted.mkString(", ") + ")")
  }

  private def abort(
      op: String, base: DeltaSnapshot, onAbort: () => Unit, reason: String): Nothing = {
    onAbort()
    throw new java.util.ConcurrentModificationException(
      s"$op aborted on ${base.tablePath}: $reason; rerun against the new snapshot")
  }
}
