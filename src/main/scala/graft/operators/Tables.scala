package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

import graft.sources.delta.SnapshotCache

/** The operator modules' one table binding. Spark infers a parquet
  * schema with a Spark job (and a fresh footer-reading thread pool) even
  * for one file; the reference resolves a table's schema once, when it is
  * registered (`src/lib.rs:30-42`). [[read]] memoizes the inferred
  * `StructType` and hands it to `read.schema(...)`, which skips inference.
  *  - Key: the path and the session's [[InferenceConfs]] values. The entry
  *    holds the `(path, len, mtime)` of every file under the path
  *    ([[SnapshotCache]]'s fingerprint), checked on every read: a
  *    rewritten file infers again and replaces its entry.
  *  - Bound: one entry per path and conf setting in use.
  *  - Never cached: data, relations or results; every read lists and
  *    scans the files as they are now.
  */
object Tables {

  /** Session confs that change parquet schema inference. */
  val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas =
    new ConcurrentHashMap[(String, Seq[String]), (SnapshotCache.Fingerprint, StructType)]()

  /** Fixture table `name` of `dir` (`<dir>/<name>.parquet`). */
  def read(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, InferenceConfs.map(k => s.conf.getOption(k).getOrElse("")))
    val fp = fingerprint(s, path)
    val schema = Option(schemas.get(key)).collect { case (`fp`, st) => st }.getOrElse {
      val st = s.read.parquet(path).schema
      schemas.put(key, (fp, st))
      st
    }
    s.read.schema(schema).parquet(path)
  }

  /** Each fixture table of `names` as a temp view of its own name, for the
    * SQL-surface queries. */
  def views(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => read(s, dir, n).createOrReplaceTempView(n))

  private def fingerprint(s: SparkSession, path: String): SnapshotCache.Fingerprint = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    // plain statuses: located ones load permissions, a shell fork per file
    // on a local file system without native Hadoop
    def files(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(files) else Iterator(st)
    files(fs.getFileStatus(p)).map(SnapshotCache.input).toSet
  }

  /** Dirs whose int64 `ts` was checked to be nanoseconds: one tiny job
    * per dir, not per query. */
  private val nanosVerified = ConcurrentHashMap.newKeySet[String]()

  /** `events`, its `ts` as session-tz TimestampType whichever layout the
    * fixture generation wrote: TIMESTAMP(NANOS) (which Spark rejects,
    * PARQUET_TYPE_ILLEGAL: read as LONG under nanosAsLong and floor-divided
    * to micros), TIMESTAMP(MICROS) without timezone (TIMESTAMP_NTZ, cast)
    * or session-tz TIMESTAMP; event queries and the DuckDB oracle (naive
    * micros, UTC) then agree exactly. Both conversions are exact only in
    * UTC, so the session zone is pinned here beside nanosAsLong. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = read(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // an int64 ts that is not nanoseconds must fail here, not be
        // divided by 1000: 2024-era nanos ≈ 1.7e18, micros ≈ 1.7e15
        if (!nanosVerified.contains(dir)) {
          raw.select(col("ts")).filter(col("ts").isNotNull).head(1).foreach { r =>
            val v = math.abs(r.getLong(0))
            require(v == 0L || v > 1e17.toLong,
              s"events.ts is int64 but sampled |ts|=$v is too small for " +
                "nanoseconds-since-epoch; refusing to div 1000 — fixture " +
                "layout changed, update Tables.events")
          }
          nanosVerified.add(dir)
        }
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // micros, isAdjustedToUTC=false; session is UTC
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
