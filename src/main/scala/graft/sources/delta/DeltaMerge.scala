package graft.sources.delta

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Result of a MERGE run. */
final case class MergeMetrics(
    rowsUpdated: Long, rowsDeleted: Long, rowsInserted: Long,
    filesRewritten: Long, committedVersion: Long)

/** The production-Delta MERGE clause forms. Clauses of one kind apply
  * first-match-wins in declaration order (a row consumed by clause i is
  * never offered to clause i+1) — the same precedence contract as
  * delta-spark's `whenMatched(…).whenMatched(…)` builder chain. */
object MergeClause {
  /** `WHEN MATCHED [AND condition] THEN UPDATE SET update / DELETE`
    * (`update = None` means DELETE). `condition` and SET expressions may
    * reference both sides via the `t.` / `s.` aliases. */
  final case class Matched(
      update: Option[Map[String, String]], condition: Option[String] = None)
  /** `WHEN NOT MATCHED [AND condition] THEN INSERT (…)`. `condition` and
    * the INSERT expressions see only the source (`s.`). A source row
    * matching no insert clause is dropped. */
  final case class NotMatched(
      insert: Map[String, String], condition: Option[String] = None)
  /** `WHEN NOT MATCHED BY SOURCE [AND condition] THEN UPDATE SET / DELETE`
    * — target rows with no source match (the sync/retention side of a
    * bidirectional merge). Sees only the target (`t.`). */
  final case class NotMatchedBySource(
      update: Option[Map[String, String]], condition: Option[String] = None)
}

/** Copy-on-write `MERGE INTO` (upsert) over the Delta provider — the
  * third leg of the row-level DML surface next to [[DeltaDml]]'s
  * DELETE/UPDATE. Production-Delta semantics:
  *
  *  - any number of `WHEN MATCHED [AND cond]` clauses (UPDATE/DELETE),
  *    `WHEN NOT MATCHED [AND cond]` INSERT clauses, and
  *    `WHEN NOT MATCHED BY SOURCE [AND cond]` UPDATE/DELETE clauses,
  *    each list applied first-match-wins in declaration order;
  *  - a target row matched by MORE THAN ONE source row is a cardinality
  *    violation and aborts the merge whenever a matched clause exists
  *    (production Delta's DELTA_MULTIPLE_SOURCE_ROW_MATCHING error) —
  *    anything else would make the result nondeterministic;
  *  - schema evolution (`schemaEvolution = true`): assignment keys naming
  *    columns absent from the target append them (nullable, type inferred
  *    from the assigned expression); rows the merge does not touch read
  *    the new columns as NULL — delta-spark's autoMerge contract.
  *
  * Scale posture (100 TB): the target is never rewritten wholesale, and a
  * merge with a `WHEN MATCHED` clause runs as two Spark executions — the
  * shape of delta-spark's `MergeIntoCommand` (find the touched files, then
  * write all changes in one pass):
  *
  *  1. the find joins the pinned target against the source and returns,
  *     per touched file, whether any target row (`_metadata.file_path`,
  *     `_metadata.row_index`) matched more than one source row — the
  *     cardinality error is raised there, before anything is staged.
  *     Partition pruning applies when the merge condition constrains
  *     partition columns. `WHEN NOT MATCHED BY SOURCE` widens the touched
  *     set by the files holding unmatched rows that satisfy a by-source
  *     clause condition, found by the same join made a left outer one —
  *     an unconditional by-source clause touches every file, which is
  *     what its semantics demand;
  *  2. the write is ONE staging write of the touched files' rows outer-
  *     joined with the source: every target row that matches any source
  *     row lies in a touched file, so the touched rows stand in exactly for
  *     the table, and a full outer join also yields the unmatched source
  *     rows to insert. The updated/deleted/inserted counts are observed on
  *     that write, upstream of the delete filter. Only a CDF-on merge
  *     persists the tagged rows, so its data and change rows come from one
  *     evaluation.
  *
  * A merge without a matched clause has no match find: an insert-only
  * merge anti-joins the whole pinned target, and a by-source-only merge
  * flags its touched rows with a semi/anti join pair (a multi-matched row
  * stays one row). Commit is the same validated remove+add loop as
  * OPTIMIZE/DELETE.
  */
object DeltaMerge {


  import MergeClause._

  /** Single-clause compatibility surface (unconditional UPDATE xor DELETE
    * plus optional INSERT) — delegates to the clause-list overload. */
  def merge(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      condition: String,
      matchedUpdate: Option[Map[String, String]] = None,
      matchedDelete: Boolean = false,
      notMatchedInsert: Option[Map[String, String]] = None): MergeMetrics = {
    require(!(matchedUpdate.isDefined && matchedDelete),
      "one WHEN MATCHED clause: UPDATE or DELETE, not both")
    merge(spark, tablePath, source, condition,
      matched = matchedUpdate.map(u => Matched(Some(u))).toSeq ++
        (if (matchedDelete) Seq(Matched(None)) else Nil),
      notMatched = notMatchedInsert.map(i => NotMatched(i)).toSeq,
      bySource = Nil,
      schemaEvolution = false)
  }

  /** `MERGE INTO target t USING source s ON condition …` with the full
    * clause surface. See the object doc for semantics.
    *
    * @param condition       join predicate over `t.*` / `s.*`
    * @param matched         WHEN MATCHED clauses, first-match-wins
    * @param notMatched      WHEN NOT MATCHED (insert) clauses
    * @param bySource        WHEN NOT MATCHED BY SOURCE clauses
    * @param schemaEvolution allow assignments to columns absent from the
    *                        target schema by appending them (nullable)
    * @param txn             optional (appId, version) SetTransaction key:
    *                        a redelivered merge — same appId, version at
    *                        or below the recorded high-water mark — is a
    *                        no-op (the batch-retry idempotence contract,
    *                        same protocol `txn` action as the writer path)
    */
  def merge(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      condition: String,
      matched: Seq[Matched],
      notMatched: Seq[NotMatched],
      bySource: Seq[NotMatchedBySource],
      schemaEvolution: Boolean): MergeMetrics =
    merge(spark, tablePath, source, condition,
      matched, notMatched, bySource, schemaEvolution, txn = None)

  /** Full surface plus the SetTransaction idempotence key. No default on
    * `txn`: Scala allows default arguments on only one overload (the
    * single-clause one above keeps them). */
  def merge(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      condition: String,
      matched: Seq[Matched],
      notMatched: Seq[NotMatched],
      bySource: Seq[NotMatchedBySource],
      schemaEvolution: Boolean,
      txn: Option[(String, Long)]): MergeMetrics =
    merge(spark, tablePath, source, condition, matched, notMatched, bySource,
      schemaEvolution, txn, beforeCommit = () => ())

  /** Test seam: `beforeCommit` runs after staging, before the validated
    * commit loop (the same deterministic-conflict seam as [[DeltaDml]]). */
  private[graft] def merge(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      condition: String,
      matched: Seq[Matched],
      notMatched: Seq[NotMatched],
      bySource: Seq[NotMatchedBySource],
      schemaEvolution: Boolean,
      txn: Option[(String, Long)],
      beforeCommit: () => Unit): MergeMetrics = {
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE requires at least one WHEN clause")
    // scanSnapshot: on job-plane tables the live set stays distributed —
    // the touched-file lookup below becomes a pruned collect (O(touched)
    // driver heap at a 10M-file table) instead of a filter over a fully
    // materialized snapshot (r17 verdict #2)
    val (snap, deferred) = DeltaLog.scanSnapshot(spark, tablePath)
    snap.assertWritable("MERGE")
    // SetTransaction idempotence: a redelivered merge is a no-op BEFORE
    // any find/rewrite work runs
    txn.foreach { case (appId, v) =>
      if (snap.transactions.get(appId).exists(_ >= v))
        return MergeMetrics(0, 0, 0, 0, snap.version)
    }
    val rewrites = matched.nonEmpty || bySource.nonEmpty
    // an insert-only merge commits no removes and stays legal on an
    // append-only table; any MATCHED / BY SOURCE clause rewrites files
    if (rewrites) snap.assertRemovable("MERGE")

    // ---- 0. validation + schema evolution
    val have = snap.schema.fieldNames.toSet
    // GENERATED ALWAYS AS IDENTITY: explicit assignment is an error in
    // every clause (production Delta's contract); inserts that OMIT the
    // column get values assigned below, continuing from the table's high
    // water mark
    val identityFields = DeltaWriter.identityFieldsOf(snap.schema)
    val identityNames = identityFields.map(_.name).toSet
    (matched.flatMap(_.update) ++ bySource.flatMap(_.update)).foreach { set =>
      val badId = set.keySet.intersect(identityNames)
      if (badId.nonEmpty) throw new IllegalArgumentException(
        s"cannot UPDATE identity column(s) ${badId.mkString(",")} " +
          "(GENERATED ALWAYS AS IDENTITY)")
    }
    notMatched.foreach { nm =>
      val badId = nm.insert.keySet.intersect(identityNames)
      if (badId.nonEmpty) throw new IllegalArgumentException(
        s"cannot INSERT into identity column(s) ${badId.mkString(",")} " +
          "(GENERATED ALWAYS AS IDENTITY) — omit them and values are assigned")
    }
    matched.flatMap(_.update).foreach { set =>
      val badSet = set.keySet.intersect(snap.partitionColumns.toSet)
      if (badSet.nonEmpty) throw new IllegalArgumentException(
        s"cannot SET partition column(s) ${badSet.mkString(",")}")
    }
    bySource.flatMap(_.update).foreach { set =>
      val badSet = set.keySet.intersect(snap.partitionColumns.toSet)
      if (badSet.nonEmpty) throw new IllegalArgumentException(
        s"cannot SET partition column(s) ${badSet.mkString(",")}")
      // no source row exists for these target rows: a new column here has
      // no evolution story (delta-spark likewise evolves only from source
      // assignments)
      val unknown = set.keySet -- have
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"NOT MATCHED BY SOURCE SET references unknown column(s) ${unknown.mkString(",")}")
    }
    // evolution candidates: matched-update and insert assignment keys the
    // target lacks, in first-appearance order
    val newCols: Seq[(String, String)] = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
      (matched.flatMap(_.update) ++ notMatched.map(_.insert)).foreach { as =>
        as.foreach { case (k, e) => if (!have.contains(k) && !seen.contains(k)) seen += k -> e }
      }
      seen.toSeq
    }
    if (newCols.nonEmpty && !schemaEvolution) throw new IllegalArgumentException(
      s"MERGE references unknown column(s) ${newCols.map(_._1).mkString(",")} " +
        "(set schemaEvolution=true to add them)")
    if (newCols.nonEmpty && snap.metadata.hasColumnMapping)
      throw new UnsupportedOperationException(
        "MERGE schema evolution on a column-mapped table is not supported: " +
          "new columns need physical names and a maxColumnId advance")
    // infer each new column's type from its first assignment, analyzed
    // against a zero-row t×s frame (analysis-only — nothing executes)
    val evolved: Seq[StructField] =
      if (newCols.isEmpty) Nil
      else {
        val typer = DeltaTable.readVersion(spark, tablePath, snap.version)
          .limit(0).alias("t")
          .crossJoin(source.limit(0).alias("s"))
        newCols.map { case (c, e) =>
          StructField(c, typer.select(expr(e)).schema.head.dataType, nullable = true)
        }
      }
    val outSchema = StructType(snap.schema.fields ++ evolved)
    val outCols = outSchema.fieldNames.toIndexedSeq
    def colType(c: String) = outSchema(c).dataType
    notMatched.foreach { nm =>
      // production Delta's NOT NULL constraint: an unassigned column can
      // only be NULL-filled if the table schema allows it (reading a
      // parquet NULL through a non-nullable schema silently yields 0).
      // Identity columns are exempt: they are EXPECTED unassigned and get
      // generated values, never NULL
      val broken = snap.schema.fields
        .filter(f => !f.nullable && !nm.insert.contains(f.name)
          && !identityNames.contains(f.name)).map(_.name)
      if (broken.nonEmpty) throw new IllegalArgumentException(
        s"INSERT leaves non-nullable column(s) ${broken.mkString(",")} unassigned")
    }

    // ---- 1. find the touched files. The source is tagged with a constant
    // marker column: "did this outer join find a source row" via any data
    // column's null-ness would break on sources that genuinely contain
    // NULLs. Every read is PINNED to the transaction's snapshot version —
    // an unpinned read resolves a fresh snapshot at load() time, so a
    // commit racing the merge could make the find see a file the `touched`
    // set (built from `snap`) then silently drops: a matched row neither
    // updated nor inserted, under no serial order.
    val src = source.withColumn("_smark", lit(1)).alias("s")
    def pinnedTarget = DeltaTable.readVersion(spark, tablePath, snap.version)
      .select(col("*"), col("_metadata.file_path").as("_gf"),
        col("_metadata.row_index").as("_gi")).alias("t")
    // One join grouped per file (`left` when by-source clauses exist, so
    // unmatched target rows survive it): matched pairs vs DISTINCT matched
    // target rows — more pairs than rows means a target row matched
    // several source rows, the cardinality violation, raised before
    // anything is re-read or staged — and whether any unmatched row meets
    // a by-source condition. Only touched files reach the driver.
    val touchedPaths: Set[String] =
      if (matched.isEmpty && bySource.isEmpty) Set.empty
      else withPhase(spark, "MERGE find") {
        val sHere = col("_smark").isNotNull
        val bySourceHit =
          if (bySource.isEmpty) lit(false)
          else max(!sHere && bySource.map(b => cond(b.condition)).reduce(_ || _))
        val (pairs, rows) =
          if (matched.isEmpty) (lit(0L), lit(0L))
          else (count(col("_smark")), countDistinct(when(sHere, col("_gi"))))
        val perFile = pinnedTarget
          .join(src, expr(condition), if (bySource.nonEmpty) "left" else "inner")
          .groupBy(col("_gf"))
          .agg(pairs.as("pairs"), rows.as("rows"), bySourceHit.as("bySource"))
          .filter(col("pairs") > 0 || col("bySource"))
          .collect()
        if (perFile.exists(r => r.getLong(1) > r.getLong(2)))
          throw new UnsupportedOperationException(
            "MERGE cardinality violation: a target row matched more than one " +
              "source row; the result would be nondeterministic (production " +
              "Delta raises the same error)")
        perFile.map(r => normalize(r.getString(0))).toSet
      }
    val touched = DeltaDml.touchedAdds(tablePath, snap, deferred, touchedPaths)
    // every found path must resolve to a snapshot file — a silent drop
    // here would commit a merge that never rewrote a matched row
    // (DeltaDml fails the same way on its find/snapshot mismatch)
    require(touched.size == touchedPaths.size,
      s"internal: ${touchedPaths.size - touched.size} matched file(s) not found " +
        s"in snapshot v${snap.version} (e.g. ${touchedPaths.take(3).mkString(",")})")

    // ---- 2. the write: every output row of the merge tagged with the
    // clause it took, first-match-wins per clause list — matched clause i
    // -> i, by-source clause j -> 1000 + j, insert clause k -> 2000 + k; a
    // target row no clause takes is carried (-1), a source row no insert
    // clause takes is dropped (-2)
    val updateActs: Seq[(Int, Map[String, String])] =
      matched.zipWithIndex.collect { case (Matched(Some(u), _), i) => i -> u } ++
        bySource.zipWithIndex.collect {
          case (NotMatchedBySource(Some(u), _), j) => (1000 + j) -> u
        }
    val deleteActs: Seq[Int] =
      matched.zipWithIndex.collect { case (Matched(None, _), i) => i } ++
        bySource.zipWithIndex.collect { case (NotMatchedBySource(None, _), j) => 1000 + j }
    val insertActs: Seq[(Int, Map[String, String])] =
      notMatched.zipWithIndex.map { case (nm, k) => (2000 + k) -> nm.insert }
    val act = col("_act")
    val inserting = act >= 2000
    val tHere = col("_tmark").isNotNull
    val sHere = col("_smark").isNotNull
    val matchedCases = matched.zipWithIndex.map { case (m, i) =>
      (tHere && sHere && cond(m.condition), i)
    }
    val bySourceCases = bySource.zipWithIndex.map { case (b, j) =>
      (tHere && !sHere && cond(b.condition), 1000 + j)
    }
    val insertCases = notMatched.zipWithIndex.map { case (nm, k) =>
      (!tHere && cond(nm.condition), 2000 + k)
    }

    val cdfOn = DeltaCdf.enabled(snap.metadata)
    val rtCols = DeltaMaintenance.rewriteCarryCols(snap)
    // One branch's rows projected to the output: outCols (the applied
    // clause's assignment, else the target's value — NULL for an inserted
    // row and for a column schema evolution adds), the row-tracking pair,
    // `_act`, and with CDF on the pre-images (`_pre_<c>`). `acts` are the
    // assignments the frame can resolve; `withTarget` = it carries the `t`
    // side. Row tracking: carried and updated rows keep their id, updated
    // rows null the version (the new add's defaultRowCommitVersion dates
    // them); inserted rows null both and so take fresh ids from their add's
    // baseRowId.
    def project(frame: DataFrame, cases: Seq[(Column, Int)], otherwise: Column,
        acts: Seq[(Int, Map[String, String])], withTarget: Boolean): DataFrame = {
      def carry(c: String): Column =
        if (withTarget && have.contains(c)) col(s"t.$c") else lit(null).cast(colType(c))
      def value(c: String): Column =
        caseOf(acts.flatMap { case (id, set) =>
          set.get(c).map(e => (act === id, expr(e).cast(colType(c))))
        }, carry(c))
      val rtKeep: Seq[Column] = rtCols match {
        case Seq(matId, matVer) =>
          def carried(m: String) =
            if (withTarget) col(s"t.`$m`") else lit(null).cast(LongType)
          Seq(carried(matId).as(matId),
            when(act.isInCollection(updateActs.map(_._1)), lit(null).cast(LongType))
              .otherwise(carried(matVer)).as(matVer))
        case _ => Nil
      }
      val pre = if (cdfOn) outCols.map(c => carry(c).as(s"_pre_$c")) else Nil
      frame.withColumn("_act", caseOf(cases.map { case (c, id) => (c, lit(id)) }, otherwise))
        .select(outCols.map(c => value(c).as(c)) ++ rtKeep ++ pre :+ act: _*)
    }
    val touchedRows: Option[DataFrame] =
      if (touched.isEmpty) None
      else Some(DeltaMaintenance.partitionInjected(spark, tablePath, snap, touched,
          withRowIds = true)
        .reduce(_ unionByName _).withColumn("_tmark", lit(1)))
    def sourceOnly(from: DataFrame) =
      project(from.withColumn("_tmark", lit(null).cast(IntegerType)), insertCases, lit(-2),
        insertActs, withTarget = false)
    val branches: Seq[DataFrame] =
      if (matched.nonEmpty) touchedRows match {
        // every target row matching any source row lies in a touched file
        // (the find inner-joined the whole pinned target), so the touched
        // rows stand in exactly for the table: one outer join yields the
        // rewrite and, full, the unmatched source rows to insert
        case Some(tt) =>
          Seq(project(tt.alias("t").join(src, expr(condition),
              if (notMatched.nonEmpty) "full" else "left"),
            matchedCases ++ bySourceCases ++ insertCases,
            when(tHere, -1).otherwise(-2), updateActs ++ insertActs, withTarget = true))
        case None => if (notMatched.isEmpty) Nil else Seq(sourceOnly(src))
      } else {
        // no find over matches: the touched files come from the by-source
        // find only, so the rewrite flags each touched row matched or not
        // (semi/anti — a multi-matched row is still ONE row) and inserts
        // anti-join the whole pinned target
        touchedRows.toSeq.map { tt =>
          val t = tt.alias("t")
          val flagged = t.join(src, expr(condition), "left_semi").withColumn("_smark", lit(1))
            .unionByName(t.join(src, expr(condition), "left_anti")
              .withColumn("_smark", lit(null).cast(IntegerType)))
          project(flagged.alias("t"), bySourceCases, lit(-1), updateActs, withTarget = true)
        } ++ (if (notMatched.isEmpty) Nil
              else Seq(sourceOnly(src.join(pinnedTarget, expr(condition), "left_anti"))))
      }

    // stage the tagged rows: the data files, then with CDF on the change
    // files; returns them with the updated/deleted/inserted counts
    val physPartCols = snap.partitionColumns.map(snap.metadata.physicalOf)
    def writeAll(rows: DataFrame)
        : (DeltaWriter.Published, Option[DeltaWriter.Published], Long, Long, Long) = {
      def written(df: DataFrame): DataFrame =
        df.filter(!act.isInCollection(deleteActs :+ -2))
          .select(outCols.map(col) ++ rtCols.map(c => col(s"`$c`")): _*)
      // updated and inserted rows must satisfy the table's CHECK constraints
      // AND the NOT NULL invariants (an expression evaluating NULL into a
      // non-nullable column would read back as 0 through the schema)
      DeltaConstraints.validate(written(rows), snap, "MERGE")
      // the per-clause counts ride the write itself, observed upstream of
      // the delete filter
      val counts = Observation()
      val observed = rows.observe(counts,
        count(when(act.isInCollection(updateActs.map(_._1)), 1)).as("updated"),
        count(when(act.isInCollection(deleteActs), 1)).as("deleted"),
        count(when(inserting, 1)).as("inserted"))
      // column-mapped tables stage under physical names; optimizeWrite for
      // the merge rewrite (same as appends/DML): one shuffle by partition
      // columns → ~one file per hive partition per commit. Stats are
      // collected against the (possibly evolved) output schema
      val physical = DeltaWriter.physicalized(
        DeltaConstraints.notNullGuarded(written(observed), snap.schema, "MERGE"), snap.metadata)
      val data = DeltaWriter.stage(spark, tablePath,
        if (physPartCols.isEmpty) physical else physical.repartition(physPartCols.map(col): _*),
        physPartCols, DeltaWriter.physicalSchema(
          StructType(outSchema.filterNot(f => snap.partitionColumns.contains(f.name))),
          snap.metadata),
        snap.metadata.configuration)
      data.guarding {
        // no metrics = the optimizer dropped an empty plan, nothing written
        val observedCounts = counts.get
        require(observedCounts.nonEmpty || data.files.isEmpty,
          "internal: MERGE write ran unobserved")
        def n(k: String): Long = observedCounts.get(k).fold(0L)(_.asInstanceOf[Long])
        // change data feed: per-clause rows of the same evaluation. A commit
        // with ANY cdc action is read from cdc only, so the inserts ride along
        val cdc =
          if (!cdfOn || (touched.isEmpty && n("inserted") == 0)) None
          else {
            def image(df: DataFrame, pre: Boolean, kind: String) =
              df.select(outCols.map(c => col(if (pre) s"_pre_$c" else c).as(c)) :+
                lit(kind).as(DeltaCdf.TypeCol): _*)
            val updated = rows.filter(act.isInCollection(updateActs.map(_._1)))
            Some(DeltaCdf.publish(spark, tablePath, snap, Seq(
              image(rows.filter(act.isInCollection(deleteActs)), pre = true, "delete"),
              image(updated, pre = true, "update_preimage"),
              image(updated, pre = false, "update_postimage"),
              image(rows.filter(inserting), pre = false, "insert")).reduce(_ unionByName _)))
          }
        (data, cdc, n("updated"), n("deleted"), n("inserted"))
      }
    }
    val (data, cdc, rowsUpdated, rowsDeleted, rowsInserted, identityNewHwm) =
      branches.reduceOption(_ unionByName _) match {
        case None => (None, None, 0L, 0L, 0L, Map.empty[String, Long])
        case Some(tagged) => withPhase(spark, "MERGE write") {
          // GENERATED ALWAYS AS IDENTITY: inserted rows omit the column
          // (enforced above) and take values continuing from the table's
          // high water mark — the SAME range-allocation machinery as the
          // append path. checkTableState in the commit loop covers the
          // concurrency story: a concurrent identity advance re-emits
          // metaData, which aborts this merge before it could hand out
          // duplicate ids.
          val (withIds, newHwm, idPinned) =
            if (identityFields.isEmpty || notMatched.isEmpty)
              (tagged, Map.empty[String, Long], None)
            else {
              val (ins, hwm, nAssigned, pinned) = DeltaWriter.assignIdentityValues(
                tagged.filter(inserting).drop(identityNames.toSeq: _*), identityFields,
                identityFields.map(f => f.name -> DeltaWriter.identityHwm(f)).toMap)
              (tagged.filter(!inserting).unionByName(ins),
                if (nAssigned > 0) hwm else Map.empty[String, Long], pinned)
            }
          // CDF on: the data and change rows must come from ONE evaluation
          // (re-planning could diverge on nondeterministic sources)
          val rows = if (cdfOn) withIds.persist() else withIds
          try {
            val (data, cdc, upd, del, ins) = writeAll(rows)
            (Some(data), cdc, upd, del, ins, newHwm)
          } finally {
            if (cdfOn) rows.unpersist()
            idPinned.foreach(_.unpersist())
          }
        }
      }

    // an idempotence-keyed merge must still commit its SetTransaction
    // watermark even when it changed nothing, or a retry would re-run it
    if (touched.isEmpty && rowsInserted == 0 && evolved.isEmpty && txn.isEmpty)
      return MergeMetrics(0, 0, 0, 0, snap.version)

    // ---- 3. validated commit loop (same contract as DELETE/OPTIMIZE)
    beforeCommit()
    val adds = data.toSeq.flatMap(_.files)
    val onAbort = () => { data.foreach(_.discard()); cdc.foreach(_.discard()) }
    val committedVersion = withPhase(spark, "MERGE commit")(
        DeltaCommit.run(spark, tablePath, "MERGE", onAbort) {
      // metadata-only re-read (txn watermarks included) + the touched-file
      // rule over the intervening commits — no live set per retry
      val latest = DeltaLog.metadataSnapshot(spark, tablePath)
      // concurrent same-app redelivery: another writer committed this
      // (appId, version) between our snapshot and this attempt — drop the
      // staged files, succeed as a no-op (same contract as DeltaWriter)
      if (txn.exists { case (appId, v) =>
            latest.transactions.get(appId).exists(_ >= v) }) {
        onAbort()
        Left(latest.version)
      } else {
        val range = ConflictChecker.checkRewrite("MERGE", spark, snap, latest, touched, onAbort)
        // the merge's decisions READ the whole target (matched-find inner
        // join, insert anti-join): any concurrent non-blind-append data add
        // invalidates them — two concurrent upserts of the same absent key
        // would otherwise BOTH insert it (read predicate None = table-wide)
        ConflictChecker.checkReadSet("MERGE", spark, snap, latest, None, onAbort, range)
        // metaData re-emission (same table id — replay is last-metaData-
        // wins): schema evolution and/or identity hwm advance. Emitted
        // from the TRANSACTION's snapshot: checkTableState above aborts
        // on ANY concurrent metadata change, so latest.metadata ==
        // snap.metadata here by construction — there is no concurrent
        // config to preserve beyond what snap carries.
        val metadata =
          if (evolved.isEmpty && identityNewHwm.isEmpty) None
          else Some(snap.metadata.copy(schemaString = DeltaWriter.stampIdentityHwm(
            outSchema, identityFields, identityNewHwm).json))
        // row tracking: fresh baseRowId ranges per attempt; rewritten rows'
        // preserved ids override via the materialized columns, inserted
        // rows take the fresh ids
        Right(DeltaCommit.Txn(Some(latest), "MERGE",
          parameters = Seq("predicate" -> condition),
          metrics = Map(
            "numTargetRowsUpdated" -> rowsUpdated,
            "numTargetRowsDeleted" -> rowsDeleted,
            "numTargetRowsInserted" -> rowsInserted,
            "numTargetFilesRemoved" -> touched.size.toLong,
            "numTargetFilesAdded" -> adds.size.toLong),
          setTransaction = txn,
          metadata = metadata,
          actions = touched.map(f => DeltaCommit.removeLine(f.path)) ++
            DeltaCommit.stagedAddLines(Some(latest), adds, latest.version + 1) ++
            cdc.toSeq.flatMap(_.files).map(DeltaCdf.cdcLine)))
      }
    }) match {
      case Left(v) => return MergeMetrics(0, 0, 0, 0, v)
      case Right(v) => v
    }
    MergeMetrics(rowsUpdated, rowsDeleted, rowsInserted, touched.size, committedVersion)
  }

  /** A clause's condition; an absent one always holds. */
  private def cond(c: Option[String]): Column = c.map(expr).getOrElse(lit(true))

  /** `CASE WHEN c1 THEN v1 … ELSE otherwise END`, `otherwise` alone when
    * there are no cases. */
  private def caseOf(cases: Seq[(Column, Column)], otherwise: Column): Column =
    if (cases.isEmpty) otherwise
    else cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
      case (acc, (c, v)) => acc.when(c, v)
    }.otherwise(otherwise)

  /** Run `f` with its Spark jobs described as `name` (the UI's and the
    * listeners' job description), restoring the caller's own description
    * after. */
  private def withPhase[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val previous = sc.getLocalProperty(key)
    sc.setJobDescription(name)
    try f finally sc.setLocalProperty(key, previous)
  }

  /** Shared URI spelling normalization — one definition ([[DeltaDml]]'s),
    * not a per-file copy a scheme-handling fix could miss. */
  private def normalize(uri: String): String = DeltaDml.normalize(uri)
}
