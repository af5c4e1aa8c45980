package graft.sources.delta

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

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
  * Scale posture (100 TB): the target is never rewritten wholesale. The
  * find phase joins the provider scan against the source to resolve the
  * TOUCHED file set (partition pruning applies when the merge condition
  * constrains partition columns); `WHEN NOT MATCHED BY SOURCE` widens it
  * by the files holding unmatched rows that satisfy a by-source clause
  * condition — an unconditional by-source clause touches every file, which
  * is what its semantics demand. The not-matched inserts come from one
  * anti join of the (typically small) source. With a `WHEN MATCHED`
  * clause it runs against the persisted touched-file rows, not the table:
  * the find phase inner-joined the FULL target under the same condition,
  * so every target row that matches any source row lies in a touched file
  * and the touched rows stand in exactly for the whole table (no touched
  * file: every source row is unmatched). An insert-only merge has no find
  * phase, so its anti join reads the full target. Touched-file rows are
  * persisted with a synthetic row id so the cardinality check, the
  * rewrite, the metrics and the insert anti join all read ONE
  * materialization (re-planning a scan between jobs could renumber rows).
  * Commit is the same validated remove+add loop as OPTIMIZE/DELETE.
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

    // action ids: matched clause i -> i, by-source clause j -> 1000 + j
    val matchedIds = matched.indices
    val bySourceIds = bySource.indices.map(_ + 1000)
    val updateActs: Seq[(Int, Map[String, String])] =
      matchedIds.zip(matched).collect { case (id, Matched(Some(u), _)) => id -> u } ++
        bySourceIds.zip(bySource).collect { case (id, NotMatchedBySource(Some(u), _)) => id -> u }
    val deleteActs: Seq[Int] =
      matchedIds.zip(matched).collect { case (id, Matched(None, _)) => id } ++
        bySourceIds.zip(bySource).collect { case (id, NotMatchedBySource(None, _)) => id }

    // ---- 1. find touched files. The source is tagged with a constant
    // marker column: "did this left join find a source row" via any data
    // column's null-ness would break on sources that genuinely contain
    // NULLs. Every phase reads the table PINNED to the transaction's
    // snapshot version — an unpinned read resolves a fresh snapshot at
    // load() time, so a commit racing the merge could make the find see a
    // file the `touched` set (built from `snap`) then silently drops: a
    // matched row neither updated nor inserted, under no serial order.
    val src = source.withColumn("_smark", lit(1)).alias("s")
    val matchedTouch: Set[String] =
      if (matched.isEmpty) Set.empty
      else DeltaTable.readVersion(spark, tablePath, snap.version)
        .withColumn("_gf", input_file_name()).alias("t")
        .join(src, expr(condition), "inner")
        .select(col("_gf")).distinct()
        .collect().map(r => normalize(r.getString(0))).toSet
    val bySourceTouch: Set[String] =
      if (bySource.isEmpty) Set.empty
      else {
        val anyCond = bySource.map(_.condition.map(expr).getOrElse(lit(true)))
          .reduce(_ || _)
        DeltaTable.readVersion(spark, tablePath, snap.version)
          .withColumn("_gf", input_file_name()).alias("t")
          .join(src, expr(condition), "left_anti")
          .filter(anyCond)
          .select(col("_gf")).distinct()
          .collect().map(r => normalize(r.getString(0))).toSet
      }
    val touchedPaths = matchedTouch ++ bySourceTouch
    val touched = DeltaDml.touchedAdds(tablePath, snap, deferred, touchedPaths)
    // every found path must resolve to a snapshot file — a silent drop
    // here would commit a merge that never rewrote a matched row
    // (DeltaDml fails the same way on its find/snapshot mismatch)
    require(touched.size == touchedPaths.size,
      s"internal: ${touchedPaths.size - touched.size} matched file(s) not found " +
        s"in snapshot v${snap.version} (e.g. ${touchedPaths.take(3).mkString(",")})")

    // ---- 2. rewrite touched files (first-match-wins clause application)
    val cdfOn = DeltaCdf.enabled(snap.metadata)
    var rowsUpdated = 0L
    var rowsDeleted = 0L
    // provider-scan read ([[DeltaMaintenance.partitionInjected]]):
    // partition injection, column mapping AND deletion-vector filtering
    // — a raw parquet read would resurrect DV'd rows into the rewrite
    // row tracking: materialized id/version columns ride along — carried
    // and updated rows preserve their id; updated rows null the version
    // (the new add's defaultRowCommitVersion dates them); deleted rows
    // drop out; inserted rows (separate staging below) carry no
    // materialization and get fresh ids from their add's baseRowId.
    // One materialization: the cardinality check, the metrics and the
    // rewrite must all see the same row ids, and the insert anti-join
    // (step 3) reads the same rows — it stays persisted until then.
    val rtCols = DeltaMaintenance.rewriteCarryCols(snap)
    val ttOpt: Option[DataFrame] =
      if (touched.isEmpty) None
      else Some(DeltaMaintenance.partitionInjected(spark, tablePath, snap, touched,
          withRowIds = true)
        .reduce(_ unionByName _)
        .withColumn("_tid", monotonically_increasing_id())
        .persist())
    var identityNewHwm: Map[String, Long] = Map.empty
    val (rewrittenOpt, insertedOpt) = try {
      val rewrittenOpt: Option[((Seq[Add], Long), Seq[(String, Long)])] =
        ttOpt.map { tt =>
          val joined = tt.alias("t").join(src, expr(condition), "left")
          // rewrite frame: exactly ONE row per target row.
          //  - with matched clauses: the cardinality gate below guarantees it
          //    on the left join itself (and >1 source match is an error);
          //  - by-source-only merges tolerate multi-match rows (they are all
          //    carried), so the flag is aggregated per row id instead — the
          //    left join would duplicate carried rows.
          val rw: DataFrame =
            if (matched.nonEmpty) {
              // cardinality gate rides the metrics aggregation below (one
              // action instead of two, and one fewer execution of the join
              // subplan — r22, guide §1.2): see gateAndCounts
              joined
            } else {
              val flags = joined.groupBy(col("_tid"))
                .agg(max(col("_smark")).as("_smark"))
              tt.alias("t").join(flags, Seq("_tid"))
            }
          // first-match-wins action resolution: -1 = carry
          val actChain = {
            val cases: Seq[(Column, Int)] =
              matchedIds.zip(matched).map { case (id, m) =>
                (srcMatched && m.condition.map(expr).getOrElse(lit(true)), id)
              } ++ bySourceIds.zip(bySource).map { case (id, b) =>
                (!srcMatched && b.condition.map(expr).getOrElse(lit(true)), id)
              }
            cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
              case (acc, (c, id)) => acc.when(c, id)
            }.otherwise(lit(-1))
          }
          val withAct = rw.withColumn("_act", actChain)

          // ONE pass for the cardinality gate AND the per-action metrics
          // (r22; the old shape ran gate-count and metrics-count as two
          // actions, each re-executing the tt-join subplan). Two-level
          // aggregation: per target row id, the source-match count and the
          // resolved action; then rows per action with the max match count
          // riding along. When no row multi-matches, every _tid contributes
          // exactly one joined row, so per-_tid counts ARE per-act row
          // counts; when one does, the gate throws and the metrics are
          // never read. By-source-only merges keep their flags path (rw is
          // already one row per target row there; no gate by semantics).
          val actCounts: Map[Int, Long] =
            if (matched.nonEmpty) {
              val summary = withAct.groupBy(col("_tid"))
                .agg(count(when(srcMatched, 1)).as("_m"),
                  max(col("_act")).as("_a"),
                  count(lit(1)).as("_rows"))
                .groupBy(col("_a"))
                .agg(sum(col("_rows")).as("_n"), max(col("_m")).as("_mm"))
                .collect()
              if (summary.exists(_.getLong(2) > 1))
                throw new UnsupportedOperationException(
                  "MERGE cardinality violation: a target row matched more than one " +
                    "source row; the result would be nondeterministic (production " +
                    "Delta raises the same error)")
              summary.map(r => r.getInt(0) -> r.getLong(1)).toMap
            } else withAct.groupBy(col("_act"))
              .agg(count(lit(1)).as("_n")).collect()
              .map(r => r.getInt(0) -> r.getLong(1)).toMap
          val updIdSet = updateActs.map(_._1).toSet
          rowsUpdated = actCounts.collect { case (id, n) if updIdSet.contains(id) => n }.sum
          rowsDeleted = actCounts.collect { case (id, n) if deleteActs.contains(id) => n }.sum

          def carry(c: String): Column =
            if (have.contains(c)) col(s"t.$c") else lit(null).cast(colType(c))
          // resolved value of column c: the applied clause's SET expression
          // (clauses that do not assign c carry it), else the target value
          def resolved(c: String): Column = {
            val cases = updateActs.flatMap { case (id, set) =>
              set.get(c).map(e => (id, expr(e).cast(colType(c))))
            }
            if (cases.isEmpty) carry(c)
            else cases.foldLeft(null: Column) { case (acc, (id, v)) =>
              val cond = col("_act") === id
              if (acc == null) when(cond, v) else acc.when(cond, v)
            }.otherwise(carry(c))
          }
          val rtKeep: Seq[Column] = rtCols match {
            case Seq(matId, matVer) =>
              val updIds = updateActs.map(_._1)
              val verCol =
                if (updIds.isEmpty) col(s"t.`$matVer`").as(matVer)
                else when(col("_act").isInCollection(updIds),
                  lit(null).cast(org.apache.spark.sql.types.LongType))
                  .otherwise(col(s"t.`$matVer`")).as(matVer)
              Seq(col(s"t.`$matId`").as(matId), verCol)
            case _ => Nil
          }
          val result0 = withAct
            .filter(if (deleteActs.isEmpty) lit(true)
                    else !col("_act").isInCollection(deleteActs))
            .select(outCols.map(c => resolved(c).as(c)) ++ rtKeep: _*)
          // updated rows must satisfy the table's CHECK constraints AND the
          // NOT NULL invariants (a SET expression evaluating NULL into a
          // non-nullable column would read back as 0 through the schema)
          DeltaConstraints.validate(result0, snap, "MERGE")
          val result = DeltaConstraints.notNullGuarded(result0, snap.schema, "MERGE")
          // change data feed: per-action rows, computed from the same
          // persisted materialization as the rewrite
          val cdcMatched: Seq[(String, Long)] =
            if (!cdfOn) Nil
            else {
              val preCols = outCols.map(c => carry(c).as(c))
              val deletes =
                if (deleteActs.isEmpty) None
                else Some(withAct.filter(col("_act").isInCollection(deleteActs))
                  .select(preCols :+ lit("delete").as(DeltaCdf.TypeCol): _*))
              val updates =
                if (updateActs.isEmpty) None
                else {
                  val touchedUpd = withAct
                    .filter(col("_act").isInCollection(updateActs.map(_._1)))
                  val pre = touchedUpd
                    .select(preCols :+ lit("update_preimage").as(DeltaCdf.TypeCol): _*)
                  val post = touchedUpd.select(outCols.map(c => resolved(c).as(c)) :+
                    lit("update_postimage").as(DeltaCdf.TypeCol): _*)
                  Some(pre.unionByName(post))
                }
              (deletes.toSeq ++ updates.toSeq).reduceOption(_ unionByName _)
                .map(DeltaCdf.stageChanges(spark, tablePath, snap, _))
                .getOrElse(Nil)
            }
          // stage NOW (inside persist scope): the write is the terminal action
          (stageAndReturn(spark, tablePath, snap, result, outSchema), cdcMatched)
      }

      // ---- 3. inserts: source rows matching NO target row, routed through
      // the first insert clause whose condition they satisfy (rows
      // satisfying none are dropped — production semantics). With a MATCHED
      // clause the touched rows stand in exactly for the full target (see
      // the object doc); insert-only merges anti-join the full target.
      val insertedOpt: Option[((Seq[Add], Long), Seq[(String, Long)])] =
        if (notMatched.isEmpty) None else Some {
        val matchable: Option[DataFrame] =
          if (matched.isEmpty) Some(DeltaTable.readVersion(spark, tablePath, snap.version))
          else ttOpt
        val anti = matchable.fold(src)(t => src.join(t.alias("t"), expr(condition), "left_anti"))
        val iactChain = {
          val cases = notMatched.zipWithIndex.map { case (nm, j) =>
            (nm.condition.map(expr).getOrElse(lit(true)), j)
          }
          cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
            case (acc, (c, j)) => acc.when(c, j)
          }.otherwise(lit(-1))
        }
        val withIact = anti.withColumn("_iact", iactChain).filter(col("_iact") >= 0)
        def inserted(c: String): Column = {
          val cases = notMatched.zipWithIndex.flatMap { case (nm, j) =>
            nm.insert.get(c).map(e => (j, expr(e).cast(colType(c))))
          }
          if (cases.isEmpty) lit(null).cast(colType(c))
          else cases.foldLeft(null: Column) { case (acc, (j, v)) =>
            val cond = col("_iact") === j
            if (acc == null) when(cond, v) else acc.when(cond, v)
          }.otherwise(lit(null).cast(colType(c)))
        }
        // identity columns are omitted from the clause frame (enforced
        // above) and assigned here, continuing from the table's high water
        // mark — the SAME range-allocation machinery as the append path.
        // checkTableState in the commit loop covers the concurrency story:
        // a concurrent identity advance re-emits metaData, which aborts
        // this merge before it could hand out duplicate ids.
        val nonIdCols = outCols.filterNot(identityNames.contains)
        val insertRows0 = withIact.select(nonIdCols.map(c => inserted(c).as(c)): _*)
        val fromHwm = identityFields.map(f => f.name -> DeltaWriter.identityHwm(f)).toMap
        val (withIds, newHwm, nAssigned, idPinned) =
          DeltaWriter.assignIdentityValues(insertRows0, identityFields, fromHwm)
        if (nAssigned > 0) identityNewHwm = newHwm
        // the identity-pinned frame must not outlive a validation failure
        // (CHECK/NOT NULL throwing below is a routine path) — outer finally
        try {
          // NOT NULL holds structurally for UNASSIGNED columns (checked at
          // clause validation) and via the inline guard for assigned
          // expressions that evaluate NULL at runtime; CHECK constraints see
          // the assigned identity values (they may reference them)
          val insertRows = DeltaConstraints.notNullGuarded(
            withIds.select(outCols.map(col): _*), snap.schema, "MERGE INSERT")
          DeltaConstraints.validate(insertRows, snap, "MERGE INSERT")
          // persisted: the table write and the cdc 'insert' rows must come
          // from ONE evaluation of the anti-join (re-planning could diverge
          // on nondeterministic sources, and re-runs the scan regardless)
          val pinned = insertRows.persist()
          try {
            val addsAndRows = stageAndReturn(spark, tablePath, snap, pinned, outSchema)
            // a commit with ANY cdc action is read from cdc only — the inserts
            // must ride along when the matched clause produced change rows
            val cdcIns: Seq[(String, Long)] =
              if (!cdfOn || addsAndRows._2 == 0) Nil
              else DeltaCdf.stageChanges(spark, tablePath, snap,
                pinned.withColumn(DeltaCdf.TypeCol, lit("insert")))
            (addsAndRows, cdcIns)
          } finally pinned.unpersist()
        } finally idPinned.foreach(_.unpersist())
      }
      (rewrittenOpt, insertedOpt)
    } finally ttOpt.foreach(_.unpersist())

    val rowsInserted = insertedOpt.map(_._1._2).getOrElse(0L)
    val adds = rewrittenOpt.map(_._1._1).getOrElse(Nil) ++ insertedOpt.map(_._1._1).getOrElse(Nil)
    val cdcFiles = rewrittenOpt.map(_._2).getOrElse(Nil) ++ insertedOpt.map(_._2).getOrElse(Nil)

    // an idempotence-keyed merge must still commit its SetTransaction
    // watermark even when it changed nothing, or a retry would re-run it
    if (touched.isEmpty && rowsInserted == 0 && evolved.isEmpty && txn.isEmpty)
      return MergeMetrics(0, 0, 0, 0, snap.version)

    // ---- 4. validated commit loop (same contract as DELETE/OPTIMIZE)
    beforeCommit()
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val onAbort = () => {
      adds.foreach { case (rel, _, _, _, _) =>
        fs.delete(new Path(tablePath, rel), false)
      }
      DeltaCdf.cleanup(spark, tablePath, cdcFiles)
    }
    val committedVersion = DeltaCommit.run(spark, tablePath, "MERGE", onAbort) {
      // deferred plane: metadata-only re-read (txn watermarks included) +
      // incremental conflict rule — no O(files) materialization per retry
      val latest =
        if (deferred.isDefined) DeltaLog.metadataSnapshot(spark, tablePath)
        else DeltaLog.snapshot(spark, tablePath)
      // concurrent same-app redelivery: another writer committed this
      // (appId, version) between our snapshot and this attempt — drop the
      // staged files, succeed as a no-op (same contract as DeltaWriter)
      if (txn.exists { case (appId, v) =>
            latest.transactions.get(appId).exists(_ >= v) }) {
        onAbort()
        Left(latest.version)
      } else {
        // ONE shared range parse per attempt, both rules (see ConflictChecker)
        val range = DeltaLog.sharedConflictRange(
          spark, tablePath, snap.version, latest.version)
        if (deferred.isDefined)
          ConflictChecker.checkRewriteIncremental("MERGE", spark, snap, latest,
            touched, onAbort, range)
        else ConflictChecker.checkRewrite("MERGE", snap, latest, touched, onAbort)
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
            cdcFiles.map { case (rel, size) =>
              DeltaCdf.cdcLine(rel, size, snap.partitionColumns.map(snap.metadata.physicalOf))
            }))
      }
    } match {
      case Left(v) => return MergeMetrics(0, 0, 0, 0, v)
      case Right(v) => v
    }
    MergeMetrics(rowsUpdated, rowsDeleted, rowsInserted, touched.size, committedVersion)
  }

  /** "this left-joined target row found a source row" — probes the
    * constant marker the source was tagged with (never a data column,
    * which could be legitimately NULL). */
  private val srcMatched = col("_smark").isNotNull

  private type Add = DeltaCommit.Staged

  /** Write `df` into a staging dir, publish the files into the table dir,
    * and return the pending add actions + the row count written.
    * `outSchema` is the LOGICAL table schema of `df` (the snapshot's, or
    * the evolved one under schema evolution) — stats are collected against
    * its physical data projection. */
  private def stageAndReturn(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaSnapshot,
      df: DataFrame,
      outSchema: StructType): (Seq[Add], Long) = {
    val stagingDir = new Path(tablePath, s"_staging-${UUID.randomUUID()}")
    val fs = stagingDir.getFileSystem(spark.sessionState.newHadoopConf())
    // column-mapped tables stage under physical names; `df` is logical
    val physPartCols = snap.partitionColumns.map(snap.metadata.physicalOf)
    val staged0 = DeltaWriter.physicalized(df, snap.metadata)
    // optimizeWrite for the merge rewrite (same as appends/DML): one
    // shuffle by partition columns → ~one file per hive partition per
    // commit instead of per-upstream-partition fan-out
    val staged = if (physPartCols.nonEmpty)
      staged0.repartition(physPartCols.map(org.apache.spark.sql.functions.col): _*)
    else staged0
    val writer = staged.write.mode(SaveMode.Overwrite)
      .options(DeltaWriter.StagingWriteOptions)
    (if (physPartCols.nonEmpty) writer.partitionBy(physPartCols: _*)
     else writer).parquet(stagingDir.toString)
    val stagedFiles = DeltaWriter.listParquetFilesRecursively(fs, stagingDir)
    val physDataSchema = StructType(outSchema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
      .map(f => f.copy(name = snap.metadata.physicalOf(f.name))))
    val stats = DeltaWriter.collectFileStats(spark, stagedFiles.map(_.toString),
      physDataSchema, snap.metadata.configuration)
    // a zero-row staged file (Spark writes one schema-only part file even
    // for an EMPTY frame — e.g. an insert clause no source row satisfied)
    // is dropped, never published: publishing would orphan it on the
    // no-op early return and accumulate empty adds on real commits
    val liveStaged = stagedFiles.filterNot { f =>
      stats.get(f.toString).exists(n => n.get("numRecords").asLong() == 0L)
    }
    var rows = 0L
    val adds: Seq[Add] = liveStaged.map { staged =>
      val rel = DeltaWriter.relativize(stagingDir, staged)
      val target = new Path(tablePath, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(staged, target))
        throw new java.io.IOException(s"failed to publish $staged -> $target")
      val st = fs.getFileStatus(target)
      val stat = stats.get(staged.toString)
      rows += stat.flatMap(n => Option(n.get("numRecords")).map(_.asLong())).getOrElse(0L)
      (rel, DeltaWriter.partitionValuesOf(rel, physPartCols), st.getLen,
        st.getModificationTime, stat)
    }
    fs.delete(stagingDir, true)
    (adds, rows)
  }

  /** Shared URI spelling normalization — one definition ([[DeltaDml]]'s),
    * not a per-file copy a scheme-handling fix could miss. */
  private def normalize(uri: String): String = DeltaDml.normalize(uri)
}
