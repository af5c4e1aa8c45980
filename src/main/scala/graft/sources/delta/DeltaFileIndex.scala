package graft.sources.delta

import java.net.URI

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or, And => CatalystAnd, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-integrated [[FileIndex]] over a Delta snapshot.
  *
  * This is where the two scan-time optimizations the reference gets from
  * delta-rs's `DeltaScan` (SURVEY.md §4) are re-expressed Spark-first:
  *
  *  1. partition pruning — `listFiles` evaluates the pushed partition
  *     filters against each file's `partitionValues` before anything is
  *     read (reference: log `partitionColumns`, fixture `…0.json:3-6`);
  *  2. stats-based file skipping — pushed data filters are tested against
  *     per-file `add.stats` min/max/nullCount (fixture `…0.json:4-6`), so
  *     files that provably contain no matching row are never opened.
  *
  * Everything downstream (vectorized parquet read, row-group pruning,
  * column projection, partition-column injection from the InternalRow we
  * return here) is the stock Spark `ParquetFileFormat` — at 100 TB the scan
  * cost is bounded by surviving files only, and the driver-side replay
  * cost by commits-since-checkpoint.
  */
class DeltaFileIndex(
    spark: SparkSession,
    private[delta] val snapshot: DeltaSnapshot,
    /** Deferred live-file plane ([[DeltaLog.scanSnapshot]]): when present,
      * every file materialization routes through the still-distributed add
      * frame — `listFiles` prunes executor-side with the pushed filters
      * and collects only survivors, the bound that keeps planning heap
      * flat at 10M-file tables. `snapshot.files` is NOT the live set on
      * this plane: it holds only the DV-CARRYING adds (the scan format's
      * dvByPath input; empty on DV-free tables) and this index never
      * consults it. */
    private[delta] val deferred: Option[DeferredDeltaFiles] = None) extends FileIndex {

  private val tableRoot = new Path(snapshot.tablePath)

  override def rootPaths: Seq[Path] = Seq(tableRoot)

  override def partitionSchema: StructType = snapshot.partitionSchema

  override def sizeInBytes: Long =
    // deferred plane: a distributed agg (O(1) driver), never a collect
    deferred.map(_.totalBytes).getOrElse(snapshot.files.map(_.size).sum)

  override def refresh(): Unit = ()

  override def inputFiles: Array[String] =
    // the full-set surface (Dataset.inputFiles): on the deferred plane this
    // is an explicit O(files) materialization — documented, rarely called
    deferred.map(_.all).getOrElse(snapshot.files)
      .map(f => absolutePath(f.path).toString).toArray

  /** add.path is a URL-encoded path relative to the table root. */
  private def absolutePath(p: String): Path = DeltaFileIndex.absoluteDataPath(tableRoot, p)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {

    // ONE pruning implementation for both planes (ScanPruner): driver-side
    // over the materialized snapshot, executor-side inside the deferred
    // collect — the two cannot disagree on which files survive.
    val pruner = ScanPruner(partitionFilters, dataFilters, partitionSchema,
      snapshot.dataSchema, snapshot.metadata.physicalNames)

    val sourceFiles: Seq[DeltaAddFile] = deferred match {
      case Some(d) if partitionFilters.nonEmpty || dataFilters.nonEmpty =>
        d.collect(Some(pruner)) // pruned DISTRIBUTED, survivors only
      case Some(d) => d.all     // unfiltered scan: the full-table path
      case None => snapshot.files
    }

    // --- 1. group files by partition values, prune with partitionFilters
    // (on the deferred plane this re-tests survivors — a no-op by
    // construction, kept so both planes exit through identical code)
    val groups: Seq[(Map[String, String], Seq[DeltaAddFile])] =
      sourceFiles.groupBy(_.partitionValues).toSeq

    val prunedGroups =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) groups
      else groups.filter { case (values, _) => pruner.keepPartition(values) }

    // --- 2. per-file stats skipping with dataFilters (stats keys are
    // physical names on column-mapped tables; filters reference logical)
    prunedGroups.map { case (values, files) =>
      val kept = if (dataFilters.isEmpty) files
        else files.filter(f => pruner.keepStats(f.stats))
      val statuses = kept.map { f =>
        new FileStatus(f.size, false, 1, 128L * 1024 * 1024, f.modificationTime, absolutePath(f.path))
      }.toArray
      PartitionDirectory(pruner.partitionRow(values), statuses)
    }.filter(_.files.nonEmpty)
  }
}

/** Serializable file-survival predicate — the ONE implementation of
  * partition-predicate evaluation + stats skipping, used driver-side by
  * [[DeltaFileIndex.listFiles]] and shipped executor-side by
  * [[DeltaStateReconstruction.collectLive]] on the deferred-scan plane.
  * The Catalyst filter expressions serialize with the closure (attribute/
  * literal trees are plain case classes); the bound predicate is built
  * lazily per deserialized instance, so each task evaluates its own. */
private[graft] final case class ScanPruner(
    partitionFilters: Seq[Expression],
    dataFilters: Seq[Expression],
    partitionSchema: StructType,
    dataSchema: StructType,
    physicalNames: Map[String, String]) {

  private def physicalOf(l: String): String = physicalNames.getOrElse(l, l)

  @transient private lazy val partPredicate =
    if (partitionFilters.isEmpty || partitionSchema.isEmpty) None
    else {
      val bound = partitionFilters.reduce(CatalystAnd).transform {
        case a: Attribute =>
          val idx = partitionSchema.fieldIndex(a.name)
          BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
      }
      val p = CatalystPredicate.create(bound)
      p.initialize(0)
      Some(p)
    }

  /** Cast the string partition values of one file into an InternalRow laid
    * out like `partitionSchema` (same injection Spark's
    * PartitioningAwareFileIndex does for hive layouts). `partitionValues`
    * is keyed by PHYSICAL column names on column-mapped tables. */
  private[delta] def partitionRow(values: Map[String, String]): InternalRow = {
    val casted = partitionSchema.fields.map { f =>
      values.get(physicalOf(f.name)).flatMap(Option(_)) match {
        case None => null
        case Some(raw) =>
          Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType,
            Some(java.time.ZoneOffset.UTC.getId)).eval(null)
      }
    }
    InternalRow.fromSeq(casted.toIndexedSeq)
  }

  def keepPartition(pv: Map[String, String]): Boolean =
    partPredicate.forall(_.eval(partitionRow(pv)))

  def keepStats(stats: Option[String]): Boolean =
    dataFilters.isEmpty ||
      DeltaStatsSkipping.mightMatch(dataFilters, stats, dataSchema, physicalOf)

  def keep(pv: Map[String, String], stats: Option[String]): Boolean =
    keepPartition(pv) && keepStats(stats)
}

object DeltaFileIndex {
  /** add.path (URL-encoded, table-relative — or absolute, e.g. a shallow
    * clone's source files) → absolute filesystem Path. */
  private[delta] def absoluteDataPath(tableRoot: Path, p: String): Path = {
    val decoded = try new URI(p) catch { case _: Exception => null }
    if (decoded != null && decoded.isAbsolute) new Path(decoded)
    else if (decoded != null) new Path(tableRoot, new Path(decoded.getPath))
    else new Path(tableRoot, p)
  }
}

/** Conservative per-file pruning on Delta `add.stats`
  * (minValues/maxValues/nullCount/numRecords). A file is dropped only when a
  * pushed filter PROVABLY matches no row; any uncertainty (missing stats,
  * unsupported expression shape, truncated string bounds — still sound as
  * prefix bounds) keeps the file. */
object DeltaStatsSkipping {

  private val mapper = new ObjectMapper()

  private final case class ColStats(
      min: Option[Any], max: Option[Any], nullCount: Option[Long])

  private final case class FileStats(
      numRecords: Option[Long], cols: Map[String, ColStats])

  def mightMatch(
      filters: Seq[Expression], statsJson: Option[String], dataSchema: StructType,
      physicalOf: String => String = identity): Boolean =
    statsJson match {
      case None => true
      case Some(json) =>
        val stats = try parse(json, dataSchema, physicalOf)
          catch { case _: Exception => return true }
        filters.forall(f => mightMatchExpr(f, stats))
    }

  /** Stats JSON is keyed by PHYSICAL column names (identity unless column
    * mapping is on); the returned FileStats re-key by LOGICAL name, which
    * is what the pushed filter expressions reference. */
  private def parse(json: String, schema: StructType, physicalOf: String => String): FileStats = {
    val node = mapper.readTree(json)
    val numRecords = if (node.has("numRecords")) Some(node.get("numRecords").asLong()) else None
    def section(name: String): Map[String, Any] =
      if (!node.has(name) || node.get(name).isNull) Map.empty
      else {
        val obj = node.get(name)
        schema.fields.flatMap { f =>
          val k = physicalOf(f.name)
          if (obj.has(k) && !obj.get(k).isNull)
            jsonToComparable(obj.get(k).asText(), f.dataType).map(f.name -> _)
          else None
        }.toMap
      }
    val mins = section("minValues")
    val maxs = section("maxValues")
    val nulls: Map[String, Long] =
      if (!node.has("nullCount") || node.get("nullCount").isNull) Map.empty
      else schema.fields.flatMap { f =>
        val nc = node.get("nullCount")
        val k = physicalOf(f.name)
        if (nc.has(k) && nc.get(k).isNumber) Some(f.name -> nc.get(k).asLong())
        else None
      }.toMap
    FileStats(numRecords, schema.fieldNames.map { n =>
      n -> ColStats(mins.get(n), maxs.get(n), nulls.get(n))
    }.toMap)
  }

  /** Stats and literals are compared in a common ordered domain:
    * Double for numerics, String for strings, epoch MICROS for
    * timestamps (full precision — a millis-truncated max bound would
    * under-estimate and unsoundly skip a file whose row equals a literal
    * between the truncated and true max), epoch days for dates. */
  private def jsonToComparable(raw: String, dt: DataType): Option[Any] = dt match {
    case _: NumericType => raw.toDoubleOption
    case StringType => Some(raw)
    case DateType =>
      try Some(java.time.LocalDate.parse(raw.take(10)).toEpochDay.toDouble)
      catch { case _: Exception => None }
    case TimestampType | TimestampNTZType =>
      try Some(DeltaLog.parseTimestampMicros(raw).toDouble) catch { case _: Exception => None }
    case BooleanType => raw.toBooleanOption.map(b => if (b) 1.0 else 0.0)
    case _ => None
  }

  private def litToComparable(value: Any, dt: DataType): Option[Any] = (value, dt) match {
    case (null, _) => None
    case (v: UTF8String, StringType) => Some(v.toString)
    case (v: String, StringType) => Some(v)
    case (v: Number, DateType) => Some(v.doubleValue()) // days since epoch → days
    case (v: Number, TimestampType | TimestampNTZType) => Some(v.doubleValue()) // micros
    case (v: Number, _: NumericType) => Some(v.doubleValue())
    case (v: java.math.BigDecimal, _) => Some(v.doubleValue())
    case (v: org.apache.spark.sql.types.Decimal, _) => Some(v.toDouble)
    case (v: Boolean, BooleanType) => Some(if (v) 1.0 else 0.0)
    case _ => None
  }

  // Invariant: DateType is compared in epoch DAYS on both sides —
  // jsonToComparable parses stats dates via LocalDate.toEpochDay, and
  // litToComparable receives Spark's internal Int-days representation.

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    // SQL equality first: -0.0 and 0.0 are the same value (a file whose
    // bound is one zero holds rows equal to the other); Double.compare
    // still orders NaN above everything, as Spark's ordering does
    case (x: Double, y: Double) => Some(if (x == y) 0 else java.lang.Double.compare(x, y))
    // UTF8String binary (code-point) order — the order Spark's min/max
    // aggregates computed the stats in. Java String.compareTo is UTF-16
    // code-unit order, which DISAGREES above the BMP (U+FFFF sorts after
    // a surrogate-pair emoji there, before it in UTF-8), making pruning
    // unsound for tables whose bounds hold non-BMP text.
    case (x: String, y: String) =>
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case _ => None
  }

  private def mightMatchExpr(e: Expression, s: FileStats): Boolean = e match {
    case CatalystAnd(l, r) => mightMatchExpr(l, s) && mightMatchExpr(r, s)
    case Or(l, r) => mightMatchExpr(l, s) || mightMatchExpr(r, s)
    case Not(IsNull(a: Attribute)) => mightMatchExpr(IsNotNull(a), s)
    case Not(IsNotNull(a: Attribute)) => mightMatchExpr(IsNull(a), s)
    case IsNull(a: Attribute) =>
      (s.cols.get(a.name).flatMap(_.nullCount), s.numRecords) match {
        case (Some(nc), _) => nc > 0
        case _ => true
      }
    case IsNotNull(a: Attribute) =>
      (s.cols.get(a.name).flatMap(_.nullCount), s.numRecords) match {
        case (Some(nc), Some(n)) => nc < n
        case _ => true
      }
    case EqualTo(a: Attribute, Literal(v, dt)) => boundCheck(a.name, v, dt, s, eq = true, lt = false, gt = false)
    case EqualTo(Literal(v, dt), a: Attribute) => boundCheck(a.name, v, dt, s, eq = true, lt = false, gt = false)
    case EqualNullSafe(a: Attribute, Literal(v, dt)) if v != null =>
      boundCheck(a.name, v, dt, s, eq = true, lt = false, gt = false)
    case LessThan(a: Attribute, Literal(v, dt)) => boundCheck(a.name, v, dt, s, eq = false, lt = true, gt = false)
    case LessThan(Literal(v, dt), a: Attribute) => boundCheck(a.name, v, dt, s, eq = false, lt = false, gt = true)
    case LessThanOrEqual(a: Attribute, Literal(v, dt)) => boundCheck(a.name, v, dt, s, eq = true, lt = true, gt = false)
    case LessThanOrEqual(Literal(v, dt), a: Attribute) => boundCheck(a.name, v, dt, s, eq = true, lt = false, gt = true)
    case GreaterThan(a: Attribute, Literal(v, dt)) => boundCheck(a.name, v, dt, s, eq = false, lt = false, gt = true)
    case GreaterThan(Literal(v, dt), a: Attribute) => boundCheck(a.name, v, dt, s, eq = false, lt = true, gt = false)
    case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) => boundCheck(a.name, v, dt, s, eq = true, lt = false, gt = true)
    case GreaterThanOrEqual(Literal(v, dt), a: Attribute) => boundCheck(a.name, v, dt, s, eq = true, lt = true, gt = false)
    case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists { case Literal(v, dt) => boundCheck(a.name, v, dt, s, eq = true, lt = false, gt = false) }
    case _ => true
  }

  /** Can a value v' with (v' < v | v' = v | v' > v, per flags) exist in
    * [min, max]? DateType literal arrives as Int days; timestamp as Long
    * micros — converted to the same domain as the parsed stats. */
  private def boundCheck(
      col: String, v: Any, dt: DataType, s: FileStats,
      eq: Boolean, lt: Boolean, gt: Boolean): Boolean = {
    val litDomain: Option[Any] = dt match {
      case DateType => v match {
        case d: Int => Some(d.toDouble)
        case _ => litToComparable(v, dt)
      }
      case TimestampType | TimestampNTZType => v match {
        case micros: Long => Some(micros.toDouble) // micros domain, full precision
        case _ => litToComparable(v, dt)
      }
      case _ => litToComparable(v, dt)
    }
    val cs = s.cols.get(col)
    (litDomain, cs) match {
      case (Some(lit), Some(ColStats(minO, maxO, _))) =>
        // eq: need min <= lit <= max; lt: need min < lit; gt: need max > lit
        val eqPossible = eq && minO.flatMap(m => cmp(m, lit)).forall(_ <= 0) &&
          maxO.flatMap(m => cmp(m, lit)).forall(_ >= 0)
        val ltPossible = lt && minO.flatMap(m => cmp(m, lit)).forall(_ < 0)
        val gtPossible = gt && maxO.flatMap(m => cmp(m, lit)).forall(_ > 0)
        eqPossible || ltPossible || gtPossible
      case _ => true
    }
  }
}
