package graft.sources.delta

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Per-file add-action stats from PARQUET FOOTERS instead of a second
  * distributed scan of the just-written data (guide §1.2/§6: the write
  * path re-read every committed byte once more purely to aggregate
  * min/max/nullCount that the parquet writer already recorded per row
  * group). At 100 TB this removes a full read of all written data from
  * EVERY commit (append, DML rewrite, MERGE, OPTIMIZE, CONVERT).
  *
  * Exactness contract: a file is served from footers ONLY when every
  * statable column's footer statistics provably reproduce what the
  * Spark aggregate pass would compute — bit-for-bit, including JSON
  * rendering. Anything uncertain falls back to the scan path for that
  * file (FooterStatsSuite pins equality on every supported type, the
  * fallback triggers, and the fixture files):
  *
  *  - physical/logical type must match the Catalyst type exactly
  *    (INT96 timestamps have no trustworthy stats — deprecated by the
  *    format — so default-config TIMESTAMP columns fall back wholesale;
  *    TIMESTAMP_NTZ writes INT64 micros and is served);
  *  - float/double bounds of NaN fall back: parquet-mr drops min/max
  *    for a chunk holding NaN, and Spark orders NaN above every value;
  *  - float/double bounds of ±0.0 are served as the canonical 0.0: SQL
  *    compares the two zeros equal, parquet-mr widens a zero min to -0.0
  *    and a zero max to +0.0 on read, and Spark's min/max keeps whichever
  *    zero it saw first — so both paths render any zero bound as `0.0`
  *    (DeltaWriter.putStatValue) and stay byte-identical;
  *  - string stats ≥ 64 bytes fall back: long values are where parquet
  *    writers may truncate or drop statistics (a truncated-incremented
  *    max is a valid BOUND but not the exact value the scan computes);
  *  - unsigned-int annotations, decimals, sub-day date surprises
  *    (negative epoch days — Julian rebase territory) all fall back;
  *  - a row group missing stats (e.g. the 4 KB too-large drop, foreign
  *    writers with unreliable sort order — parquet-mr already blanks
  *    those on read) falls back.
  */
private[graft] object FooterStats {

  /** Aggregated footer stats for one file: (numRecords,
    * per-column (min, max, nullCount)) with min/max as the SAME JVM
    * types the scan path's `collect()` yields, so the one shared
    * putStatValue renders identical JSON. None = serve via scan. */
  final case class FileStats(numRecords: Long, cols: Map[String, (Any, Any, Long)])

  /** Extract one file's stats, or None when any statable column cannot
    * be served exactly. Pure function of (conf, path, schema) — safe on
    * the driver pool and inside executor tasks. */
  def tryExtract(
      conf: Configuration, file: String, statable: Seq[StructField]): Option[FileStats] = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks
      val fileSchema = footer.getFileMetaData.getSchema
      var numRecords = 0L
      val it = blocks.iterator()
      while (it.hasNext) numRecords += it.next().getRowCount
      if (blocks.isEmpty || numRecords == 0L)
        return Some(FileStats(0L, Map.empty))
      val cols = Map.newBuilder[String, (Any, Any, Long)]
      statable.foreach { f =>
        extractColumn(fileSchema, blocks, f) match {
          case Some(v) => cols += f.name -> v
          case None => return None
        }
      }
      Some(FileStats(numRecords, cols.result()))
    } catch { case scala.util.control.NonFatal(_) => None }
    finally reader.close()
  }

  private def extractColumn(
      fileSchema: org.apache.parquet.schema.MessageType,
      blocks: java.util.List[org.apache.parquet.hadoop.metadata.BlockMetaData],
      f: StructField): Option[(Any, Any, Long)] = {
    // top-level primitive of the same name (statable types are scalars)
    val idx = fileSchema.getFields
    var prim: PrimitiveType = null
    val fit = idx.iterator()
    while (fit.hasNext) {
      val t = fit.next()
      if (t.getName == f.name) {
        if (!t.isPrimitive) return None
        prim = t.asPrimitiveType()
      }
    }
    if (prim == null) return None
    if (!physicalMatches(prim, f.dataType)) return None

    var nulls = 0L
    var minRaw: Any = null
    var maxRaw: Any = null
    val bit = blocks.iterator()
    while (bit.hasNext) {
      val block = bit.next()
      var chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
      val cit = block.getColumns.iterator()
      while (cit.hasNext) {
        val c = cit.next()
        if (c.getPath.size() == 1 && c.getPath.toDotString == f.name) chunk = c
      }
      if (chunk == null) return None
      val st = chunk.getStatistics
      // parquet-mr blanks stats it cannot trust (legacy signed-order
      // binary min/max, the >4 KB drop) — an untrusted chunk means the
      // whole file takes the scan path
      if (st == null || !st.isNumNullsSet) return None
      nulls += st.getNumNulls
      if (st.hasNonNullValue) {
        val (lo, hi) = (st.genericGetMin, st.genericGetMax)
        if (lo == null || hi == null) return None
        minRaw = if (minRaw == null) lo else minOf(prim, minRaw, lo)
        maxRaw = if (maxRaw == null) hi else maxOf(prim, maxRaw, hi)
      } else if (st.getNumNulls != block.getRowCount) {
        // no recorded values yet fewer nulls than rows: stats are
        // incomplete for this chunk — do not trust the file
        return None
      }
    }
    for {
      minV <- convert(prim, f.dataType, minRaw)
      maxV <- convert(prim, f.dataType, maxRaw)
    } yield (minV.orNull, maxV.orNull, nulls)
  }

  private def physicalMatches(prim: PrimitiveType, dt: DataType): Boolean = {
    val p = prim.getPrimitiveTypeName
    val ann = prim.getLogicalTypeAnnotation
    def signedInt: Boolean = ann match {
      case i: IntLogicalTypeAnnotation => i.isSigned
      case null => true
      case _: DateLogicalTypeAnnotation => true
      case _ => false
    }
    dt match {
      case ByteType | ShortType | IntegerType => p == PrimitiveTypeName.INT32 && signedInt
      case LongType => p == PrimitiveTypeName.INT64 && signedInt
      case DateType => p == PrimitiveTypeName.INT32 &&
        ann.isInstanceOf[DateLogicalTypeAnnotation]
      case FloatType => p == PrimitiveTypeName.FLOAT
      case DoubleType => p == PrimitiveTypeName.DOUBLE
      case BooleanType => p == PrimitiveTypeName.BOOLEAN
      case StringType => p == PrimitiveTypeName.BINARY &&
        ann.isInstanceOf[StringLogicalTypeAnnotation]
      case TimestampType => p == PrimitiveTypeName.INT64 && (ann match {
        case t: TimestampLogicalTypeAnnotation => t.isAdjustedToUTC &&
          (t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS ||
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS)
        case _ => false
      })
      case TimestampNTZType => p == PrimitiveTypeName.INT64 && (ann match {
        case t: TimestampLogicalTypeAnnotation => !t.isAdjustedToUTC &&
          (t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS ||
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS)
        case _ => false
      })
      case _ => false // decimals and everything else: scan path
    }
  }

  /** Ordering used to combine bounds across row groups — matches the
    * Catalyst ordering of every type admitted by [[physicalMatches]]
    * (strings: unsigned lexicographic bytes, same as UTF8String). */
  private def cmp(prim: PrimitiveType, a: Any, b: Any): Int =
    prim.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case PrimitiveTypeName.INT64 => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case PrimitiveTypeName.FLOAT => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
      case PrimitiveTypeName.DOUBLE => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case PrimitiveTypeName.BOOLEAN => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case PrimitiveTypeName.BINARY =>
        val x = a.asInstanceOf[Binary].getBytesUnsafe
        val y = b.asInstanceOf[Binary].getBytesUnsafe
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val d = (x(i) & 0xff) - (y(i) & 0xff)
          if (d != 0) return d
          i += 1
        }
        x.length - y.length
      case other => throw new IllegalStateException(s"unexpected stats type $other")
    }

  private def minOf(prim: PrimitiveType, a: Any, b: Any): Any = if (cmp(prim, a, b) <= 0) a else b
  private def maxOf(prim: PrimitiveType, a: Any, b: Any): Any = if (cmp(prim, a, b) > 0) a else b

  /** Footer value → the JVM type the scan path's collect() yields for
    * this Catalyst type (shared putStatValue renders both identically).
    * Some(None) = legitimately null bound (all-null column);
    * None = cannot guarantee exactness, take the scan path. */
  private def convert(prim: PrimitiveType, dt: DataType, v: Any): Option[Option[Any]] = {
    if (v == null) return Some(None)
    val unit = prim.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit
      case _ => null
    }
    def micros(raw: Long): Long =
      if (unit == LogicalTypeAnnotation.TimeUnit.MILLIS) raw * 1000L else raw
    dt match {
      case ByteType => Some(Some(v.asInstanceOf[Int].toByte))
      case ShortType => Some(Some(v.asInstanceOf[Int].toShort))
      case IntegerType => Some(Some(v.asInstanceOf[Int]))
      case LongType => Some(Some(v.asInstanceOf[Long]))
      case BooleanType => Some(Some(v.asInstanceOf[Boolean]))
      case FloatType =>
        val x = v.asInstanceOf[Float]
        if (x.isNaN) None else Some(Some(x))
      case DoubleType =>
        val x = v.asInstanceOf[Double]
        if (x.isNaN) None else Some(Some(x))
      case StringType =>
        val b = v.asInstanceOf[Binary].getBytesUnsafe
        if (b.length >= 64) None
        else Some(Some(new String(b, StandardCharsets.UTF_8)))
      case DateType =>
        val days = v.asInstanceOf[Int]
        // negative epoch days approach Julian-rebase territory where
        // java.sql.Date rendering and proleptic LocalDate can diverge
        if (days < 0) None else Some(Some(java.time.LocalDate.ofEpochDay(days.toLong)))
      case TimestampType =>
        val us = micros(v.asInstanceOf[Long])
        if (us < 0) None else Some(Some(DateTimeUtils.toJavaTimestamp(us)))
      case TimestampNTZType =>
        val us = micros(v.asInstanceOf[Long])
        if (us < 0) None else Some(Some(DateTimeUtils.microsToLocalDateTime(us)))
      case _ => None
    }
  }
}
