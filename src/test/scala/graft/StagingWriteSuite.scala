package graft

import java.net.URI
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.{DeltaLog, DeltaMaintenance, DeltaMerge, DeltaSchema, DeltaTable, DeltaWriter}

/** The one staging write (`DeltaWriter.stage`): whatever step of a write
  * fails, no file it wrote outlives it — no `_staging-*` dir, no data file
  * outside the snapshot, no change file no commit references. Failures are
  * injected by [[FailingRenameFileSystem]] at the publish renames. */
class StagingWriteSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** A fresh table root on the failing-rename scheme. */
  private def freshRoot(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrename.impl", classOf[FailingRenameFileSystem].getName)
    "failrename://" + TestSpark.tempDir(prefix)
  }

  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"p${i % 3}", i * 10L)).toDF("id", "k", "v")
  }

  /** Every file under `root` (relative, decoded), `_delta_log` excluded. */
  private def filesUnder(root: String): Seq[String] = {
    val base = new Path(root)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val prefix = base.toUri.getPath + "/"
    val out = Seq.newBuilder[String]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) { if (st.getPath.getName != "_delta_log") walk(st.getPath) }
      else out += st.getPath.toUri.getPath.stripPrefix(prefix)
    }
    walk(base)
    out.result()
  }

  /** The cdc paths every commit of the table references. */
  private def cdcReferenced(root: String): Set[String] = {
    val log = new Path(DeltaLog.logDir(root).toUri.getPath)
    new java.io.File(log.toString).listFiles().toSeq
      .filter(_.getName.endsWith(".json"))
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala)
      .filter(_.startsWith("{\"cdc\""))
      .map(l => new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
        .get("cdc").get("path").asText())
      .map(p => java.net.URLDecoder.decode(p, "UTF-8")).toSet
  }

  /** What a failed write must leave: no staging dir, every data file in
    * the snapshot, every change file referenced by a commit. */
  private def assertClean(root: String): Unit = {
    val files = filesUnder(root)
    assert(!files.exists(_.contains("_staging-")), s"staging left behind: $files")
    val live = DeltaLog.snapshot(spark, root).files
      .map(f => java.net.URLDecoder.decode(f.path, "UTF-8")).toSet
    val stray = files.filter(f => f.endsWith(".parquet") && !f.startsWith("_change_data/"))
      .filterNot(live.contains)
    assert(stray.isEmpty, s"data files outside the snapshot: $stray")
    val orphanCdc = files.filter(_.startsWith("_change_data/"))
      .filterNot(cdcReferenced(root).contains)
    assert(orphanCdc.isEmpty, s"change files no commit references: $orphanCdc")
  }

  private def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected")))

  test("an append whose second publish rename fails leaves nothing behind") {
    val dir = freshRoot("graft-staging-append")
    DeltaWriter.write(rows(0 until 30), dir, SaveMode.Append, Seq("k"))
    val before = DeltaLog.snapshot(spark, dir)
    val e = intercept[Exception](FailingRenameFileSystem.failing(2) {
      DeltaWriter.write(rows(30 until 60), dir, SaveMode.Append, Seq("k"))
    })
    assert(injected(e), e.toString)
    assert(DeltaLog.snapshot(spark, dir).version === before.version)
    assertClean(dir)
    assert(DeltaTable.read(spark, dir).count() === 30)
  }

  test("a MERGE whose second publish rename fails leaves nothing behind") {
    val dir = freshRoot("graft-staging-merge")
    DeltaWriter.write(rows(0 until 30), dir, SaveMode.Append, Seq("k"))
    val before = DeltaLog.snapshot(spark, dir)
    val e = intercept[Exception](FailingRenameFileSystem.failing(2) {
      DeltaMerge.merge(spark, dir, rows(20 until 40), "t.id = s.id",
        matchedUpdate = Some(Map("v" -> "s.v + 1")),
        notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v")))
    })
    assert(injected(e), e.toString)
    assert(DeltaLog.snapshot(spark, dir).version === before.version)
    assertClean(dir)
  }

  test("an OPTIMIZE whose second publish rename fails leaves nothing behind") {
    val dir = freshRoot("graft-staging-optimize")
    (0 until 4).foreach { i =>
      DeltaWriter.write(rows(i * 10 until i * 10 + 10), dir, SaveMode.Append, Seq("k"))
    }
    val before = DeltaLog.snapshot(spark, dir)
    val e = intercept[Exception](FailingRenameFileSystem.failing(2) {
      DeltaMaintenance.optimize(spark, dir)
    })
    assert(injected(e), e.toString)
    assert(DeltaLog.snapshot(spark, dir).version === before.version)
    assertClean(dir)
  }

  test("a CDF MERGE whose change-file publish fails leaves none of its data files") {
    val dir = freshRoot("graft-staging-cdf-merge")
    DeltaWriter.write(rows(0 until 30), dir, SaveMode.Append, Seq("k"))
    DeltaSchema.setTblProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true"))
    val before = DeltaLog.snapshot(spark, dir)
    val e = intercept[Exception](FailingRenameFileSystem.failing(1, into = "_change_data") {
      DeltaMerge.merge(spark, dir, rows(20 until 40), "t.id = s.id",
        matchedUpdate = Some(Map("v" -> "s.v + 1")),
        notMatchedInsert = Some(Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v")))
    })
    assert(injected(e), e.toString)
    assert(DeltaLog.snapshot(spark, dir).version === before.version)
    assertClean(dir)
  }

  test("an empty unpartitioned append commits no add with numRecords 0") {
    val dir = TestSpark.tempDir("graft-staging-empty")
    DeltaWriter.write(rows(0 until 5), dir, SaveMode.Append, Nil)
    DeltaWriter.write(rows(0 until 0), dir, SaveMode.Append, Nil)
    val v = DeltaLog.snapshot(spark, dir).version
    val commit = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "_delta_log", f"$v%020d.json")).asScala
    assert(!commit.exists(l => l.startsWith("{\"add\"") && l.contains("\\\"numRecords\\\":0")),
      commit.mkString("\n"))
    assert(DeltaTable.read(spark, dir).count() === 5)
  }
}

/** Test-only local filesystem (scheme `failrename`) whose N-th rename out
  * of a `_staging-` dir into the table throws, while [[failing]] is in
  * effect; every other operation is the local one. */
class FailingRenameFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "failrename"
  override def getUri: URI = URI.create("failrename:///")
  // RawLocal's lazily-loaded statuses resolve permissions through
  // `new java.io.File(status URI)`, which rejects any scheme but "file"
  private def eager(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, FsPermission.getDefault,
      "test", "test", st.getPath)
  override def getFileStatus(f: Path): FileStatus = eager(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(eager)
  override def rename(src: Path, dst: Path): Boolean = {
    FailingRenameFileSystem.check(src, dst)
    super.rename(src, dst)
  }
}

object FailingRenameFileSystem {
  /** (n, destination substring) while a [[failing]] block runs. */
  private val plan = new AtomicReference[(Int, String)]
  private val seen = new AtomicInteger

  /** Run `f` with the `n`-th publish rename whose destination contains
    * `into` throwing. */
  def failing[T](n: Int, into: String = "")(f: => T): T = {
    seen.set(0)
    plan.set((n, into))
    try f finally plan.set(null)
  }

  private def check(src: Path, dst: Path): Unit = {
    val p = plan.get
    val publish = src.toString.contains("/_staging-") && !dst.toString.contains("/_staging-")
    if (p != null && publish && dst.toString.contains(p._2) && seen.incrementAndGet() == p._1)
      throw new java.io.IOException(s"injected: rename $src -> $dst")
  }
}
