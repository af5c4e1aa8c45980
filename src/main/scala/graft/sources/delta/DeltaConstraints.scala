package graft.sources.delta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thrown when a write would violate a CHECK constraint. */
final class DeltaConstraintViolationException(msg: String)
  extends IllegalArgumentException(msg)

/** CHECK constraints, stored exactly where the Delta protocol puts them:
  * `metaData.configuration["delta.constraints.<name>"] = <sql expr>`.
  * Enforcement is SQL-standard — a row violates only when the expression
  * evaluates to FALSE (NULL passes) — and happens on every row-producing
  * commit path: appends/overwrites ([[DeltaWriter.write]]), UPDATE
  * rewrites ([[DeltaDml]]) and MERGE rewrites+inserts ([[DeltaMerge]]).
  * DELETE never creates rows, so it never checks.
  *
  * Scale note: validation is one extra `filter(violated).limit(1)` pass
  * over the rows being written (NOT over the table) — the same rows are
  * about to be parquet-encoded anyway, so the marginal cost is one
  * predicate evaluation per written row.
  */
object DeltaConstraints {

  val ConfPrefix = "delta.constraints."

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`: validates EXISTING
    * rows first (production Delta scans the table before accepting the
    * constraint), then commits a metaData re-emission with the constraint
    * in the configuration. */
  def addCheckConstraint(
      spark: SparkSession, tablePath: String, name: String, expression: String): Long = {
    require(name.nonEmpty && !name.contains("="), s"bad constraint name: $name")
    val snap = DeltaLog.metadataSnapshot(spark, tablePath)
    if (snap.metadata.configuration.contains(ConfPrefix + name))
      throw new IllegalArgumentException(s"constraint $name already exists")
    val existingViolation = DeltaTable.read(spark, tablePath)
      .filter(!coalesce(expr(expression), lit(true))).limit(1).count()
    if (existingViolation > 0) throw new DeltaConstraintViolationException(
      s"cannot add CHECK constraint $name ($expression): existing rows violate it")
    commitMetadata(spark, tablePath,
      snap.metadata.configuration + (ConfPrefix + name -> expression),
      newSchemaString = None,
      op = "ADD CONSTRAINT", params = Map("name" -> name),
      baseMetadata = Some(snap.metadata))
  }

  /** `ALTER TABLE … DROP CONSTRAINT name`. */
  def dropConstraint(spark: SparkSession, tablePath: String, name: String): Long = {
    val snap = DeltaLog.metadataSnapshot(spark, tablePath)
    if (!snap.metadata.configuration.contains(ConfPrefix + name))
      throw new IllegalArgumentException(s"no such constraint: $name")
    commitMetadata(spark, tablePath,
      snap.metadata.configuration - (ConfPrefix + name),
      newSchemaString = None,
      op = "DROP CONSTRAINT", params = Map("name" -> name),
      baseMetadata = Some(snap.metadata))
  }

  /** Constraints of a snapshot as (name, expression). */
  def constraintsOf(snap: DeltaSnapshot): Seq[(String, String)] =
    snap.metadata.configuration.collect {
      case (k, v) if k.startsWith(ConfPrefix) => k.stripPrefix(ConfPrefix) -> v
    }.toSeq.sortBy(_._1)

  /** NOT NULL enforcement (the Delta `invariants` writer capability this
    * engine declares): wrap every non-nullable column of `schema` in an
    * inline raise-on-null guard. Unlike [[validate]]'s aggregate pass this
    * adds NO extra job — the guard evaluates during the staging write
    * itself (delta-spark enforces invariants the same way, as expressions
    * in the write projection), so a NULL reaching a non-nullable column
    * fails the write loudly instead of landing in parquet where a reader
    * through the non-nullable schema would silently surface 0/garbage.
    * Applies to every row-producing path: appends/overwrites, UPDATE
    * rewrites, MERGE rewrites and inserts. */
  private[delta] def notNullGuarded(
      df: DataFrame, schema: org.apache.spark.sql.types.StructType, op: String): DataFrame = {
    val guarded = schema.fields.filter(f => !f.nullable).map(_.name).toSet
    if (guarded.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (guarded.contains(c))
        when(col(c).isNotNull, col(c))
          .otherwise(raise_error(lit(
            s"$op violates NOT NULL constraint on column $c"))).as(c)
      else col(c)
    }: _*)
  }

  /** Enforce `snap`'s constraints over rows about to be committed; throws
    * on the first violating constraint. Call before staging. */
  private[delta] def validate(df: DataFrame, snap: DeltaSnapshot, op: String): Unit = {
    val cs = constraintsOf(snap)
    if (cs.isEmpty) return
    // one pass: count violations of each constraint simultaneously
    val aggs = cs.map { case (n, e) =>
      count(when(!coalesce(expr(e), lit(true)), 1)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      if (row.getLong(i) > 0) throw new DeltaConstraintViolationException(
        s"$op violates CHECK constraint $n ($e): ${row.getLong(i)} row(s)")
    }
  }

  /** Metadata-only commit: re-emit metaData with a new configuration
    * and/or schemaString (same table id — replay is last-metaData-wins).
    * Shared by constraints and [[DeltaSchema]]'s ALTER TABLE surface. */
  private[delta] def commitMetadata(
      spark: SparkSession, tablePath: String, newConfig: Map[String, String],
      newSchemaString: Option[String], op: String, params: Map[String, String],
      newProtocol: Option[DeltaProtocol] = None,
      baseMetadata: Option[DeltaMetadata] = None): Long =
    DeltaCommit.run(spark, tablePath, op) {
      val current = DeltaLog.metadataSnapshot(spark, tablePath)
      // a metadata/DDL commit is a write too; `newProtocol` upgrades the
      // table's own demands, which this engine satisfies by construction
      current.assertWritable(op)
      // LOST-UPDATE guard: newConfig/newSchemaString were derived from the
      // caller's snapshot — re-committing them verbatim on top of a
      // CONCURRENT metadata commit would silently revert it (a column
      // added by another session vanishing from the schema). Production
      // Delta fails every concurrent transaction on metadata update; a
      // DDL racing a DDL is no exception.
      baseMetadata.filter(_ != current.metadata).foreach { _ =>
        throw new java.util.ConcurrentModificationException(
          s"$op aborted on $tablePath: table metadata changed concurrently " +
            s"(the ALTER was computed against a stale schema/configuration); " +
            "rerun against the new table state")
      }
      // a protocol upgrade (e.g. enabling column mapping bumps reader
      // v1→v2) rides in the same commit, before the metaData relying on it
      Right(DeltaCommit.Txn(Some(current), op, params.toSeq,
        protocol = newProtocol.filter(_ != current.protocol),
        metadata = Some(current.metadata.copy(
          schemaString = newSchemaString.getOrElse(current.metadata.schemaString),
          configuration = newConfig))))
    }.merge
}
