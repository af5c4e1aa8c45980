package graft.sources.delta

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession

/** Driver-plane replay state at one version: what [[DeltaLog.snapshot]]
  * extends instead of replaying from scratch. `bytes` estimates its
  * retained heap once, at construction: 2 bytes/char for the two dominant
  * strings of each add plus a fixed estimate for boxed fields, maps and
  * object headers. */
private[delta] final case class DriverState(
    adds: Vector[DeltaAddFile],
    txns: Map[String, Long],
    domains: Vector[(String, String)],
    protocol: Option[DeltaProtocol],
    metadata: Option[DeltaMetadata]) {
  val bytes: Long = adds.iterator.map { a =>
    2L * (a.path.length + a.stats.map(_.length).getOrElse(0)) + 160L
  }.sum + 4096L
}

/** Frame-plane metadata replay at one version: protocol, metaData, txns
  * and domains. Kept apart from [[DriverState]], whose empty `adds` would
  * read as an empty table. */
private[delta] final case class MetadataState(
    protocol: Option[DeltaProtocol],
    metadata: Option[DeltaMetadata],
    txns: Map[String, Long],
    domains: Map[String, String]) {
  val bytes: Long = 2L * (metadata.fold(0)(_.schemaString.length) +
    domains.iterator.map(d => d._1.length + d._2.length).sum) + 64L * txns.size + 4096L
}

/** The Delta layer's one cache of replayed state, keyed by (table path,
  * version). An entry holds whatever was built at that version: the
  * driver-plane [[DriverState]], the persisted [[DeferredDeltaFiles]]
  * frame with its [[MetadataState]], or both.
  *
  *  - Fingerprint: `(path, len, mtime)` of every replay input (checkpoint
  *    parts and tail commit JSONs). A table deleted and recreated at the
  *    same path reuses version numbers, but not this set. An entry's
  *    halves share one fingerprint; inserting a half under another one
  *    replaces the entry.
  *  - Supersede: inserting (t, v) drops t's entries below v — writers never
  *    re-read them — and never drops a newer one, so a time-travel build
  *    cannot demote the latest state.
  *  - Budget: at most [[MaxEntries]] entries and [[MaxBytes]] of estimated
  *    driver heap, evicted eldest-first (access order). The entry just
  *    inserted is never evicted: a single over-budget table still caches,
  *    and its replay already held that heap transiently. Evicting a frame
  *    unpersists it and its ordered index; an evicted frame still held by
  *    an in-flight reader stays correct (an unpersisted DataFrame
  *    recomputes) and only re-pays the parse.
  *
  * The cache may skip work, never change a result. */
private[graft] object SnapshotCache {

  type Fingerprint = Set[(String, Long, Long)]

  def input(s: FileStatus): (String, Long, Long) =
    (s.getPath.toString, s.getLen, s.getModificationTime)

  def fingerprint(
      cp: Option[(Long, Seq[FileStatus])], tailCommits: Seq[(Long, FileStatus)]): Fingerprint =
    (cp.toSeq.flatMap(_._2) ++ tailCommits.map(_._2)).map(input).toSet

  private val MaxEntries = 8
  private val MaxBytes: Long = 64L << 20

  private final case class Key(table: String, version: Long)
  private final case class Entry(
      fp: Fingerprint, driver: Option[DriverState], frame: Option[DeferredDeltaFiles],
      meta: Option[MetadataState]) {
    // a frame weighs nothing here: it is persisted DISK_ONLY on executors
    val bytes: Long = driver.fold(0L)(_.bytes) + meta.fold(0L)(_.bytes)
  }

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, /*accessOrder=*/ true)
  private var totalBytes = 0L

  /** Test seam: frames served from the cache (vs built). */
  private[graft] val frameHits = new java.util.concurrent.atomic.AtomicLong

  /** The newest driver state of `table` at or below `version`, with its
    * version and fingerprint. */
  def driverAtOrBelow(table: String, version: Long): Option[(Long, Fingerprint, DriverState)] =
    synchronized {
      val best = entries.asScala.toSeq.collect {
        case (k, Entry(fp, Some(d), _, _)) if k.table == table && k.version <= version =>
          (k.version, fp, d)
      }.maxByOption(_._1)
      best.foreach(b => entries.get(Key(table, b._1))) // touch: access order
      best
    }

  def putDriver(table: String, version: Long, fp: Fingerprint, state: DriverState): Unit =
    insert(Key(table, version), fp)(_.copy(driver = Some(state)))

  /** The metadata replay cached at exactly (table, version) under `fp`,
    * else `build`'s, cached. `build` runs outside the lock (Spark jobs). */
  def metadata(table: String, version: Long, fp: Fingerprint)(
      build: => MetadataState): MetadataState = {
    val key = Key(table, version)
    synchronized(Option(entries.get(key)).filter(_.fp == fp).flatMap(_.meta)).getOrElse {
      val built = build
      insert(key, fp)(_.copy(meta = Some(built)))
      built
    }
  }

  /** The frame cached at exactly (table, version) under `fp`, planned by
    * this same session (a frame of a stopped or replaced session is never
    * served), else `build`'s. `build` runs OUTSIDE the lock: it runs Spark
    * collects (v2 integrity gates) and footer / object-store I/O, and
    * holding the lock across that would serialize every deferred scan and
    * every commit's checksum across all tables. When a racing builder of
    * the same key won, the loser's frame is unpersisted. */
  def frame(spark: SparkSession, table: String, version: Long, fp: Fingerprint)(
      build: => DeferredDeltaFiles): DeferredDeltaFiles = {
    val key = Key(table, version)
    def cached(): Option[DeferredDeltaFiles] = synchronized {
      Option(entries.get(key)).filter(_.fp == fp).flatMap(_.frame)
        .filter(_.sessionOf eq spark)
        .map { f => frameHits.incrementAndGet(); f }
    }
    cached().getOrElse {
      val built = build
      synchronized {
        cached() match {
          case Some(winner) =>
            built.unpersist()
            winner
          case None =>
            insert(key, fp)(_.copy(frame = Some(built)))
            built
        }
      }
    }
  }

  private def insert(key: Key, fp: Fingerprint)(fill: Entry => Entry): Unit = synchronized {
    val old = Option(entries.remove(key))
    val entry = fill(old.filter(_.fp == fp).getOrElse(Entry(fp, None, None, None)))
    old.foreach { o =>
      totalBytes -= o.bytes
      o.frame.filterNot(f => entry.frame.exists(_ eq f)).foreach(_.unpersist())
    }
    entries.keySet.asScala.toList
      .filter(k => k.table == key.table && k.version < key.version)
      .foreach(evict)
    entries.put(key, entry)
    totalBytes += entry.bytes
    while ((entries.size > MaxEntries || totalBytes > MaxBytes) && entries.size > 1)
      evict(entries.keySet.iterator.next())
  }

  private def evict(k: Key): Unit = Option(entries.remove(k)).foreach { e =>
    totalBytes -= e.bytes
    e.frame.foreach(_.unpersist())
  }

  /** Evict every entry (test hygiene between suites). */
  def clear(): Unit = synchronized { entries.keySet.asScala.toList.foreach(evict) }

  /** Evict one table's entries, both halves, and nothing of another table
    * — dl25's checkpoint-replay gate reconstructs its own table from disk
    * without invalidating unrelated tables. */
  def clear(table: String): Unit = synchronized {
    entries.keySet.asScala.toList.filter(_.table == table).foreach(evict)
  }
}
