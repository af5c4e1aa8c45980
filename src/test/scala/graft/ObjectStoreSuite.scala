package graft

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.delta.DeltaTable

/** A Hadoop FileSystem registered under a NON-file scheme but backed by
  * local disk — the analog of the reference's PrefixStore-wrapped fake for
  * store tests (`tests/store.rs:20-70` runs against MinIO; no container
  * runtime here). Registering it under `graftfs://` proves the engine's
  * store access is resolved purely by URL scheme through the Hadoop FS
  * registry, which is the entire S3 story minus the s3a jar.
  *
  * Statuses are re-issued with permissions pre-filled: RawLocalFileSystem
  * loads permissions lazily via `new File(uri)`, which rejects any scheme
  * other than `file` — an S3-like store has no POSIX permissions anyway. */
class FakeStoreFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")

  private def fix(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize,
      s.getModificationTime, 0L, FsPermission.getFileDefault, "", "", s.getPath)

  override def getFileStatus(f: Path): FileStatus = fix(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(fix)
}

/** Object-store resolution (SURVEY §2.1, reference `src/object_store.rs`).
  *
  * The reference resolves `file://` / `http(s)://` / `s3://` URLs to
  * object_store implementations (`src/object_store.rs:31-97`); the Spark
  * mapping is Hadoop's FileSystem registry keyed by URI scheme. `file://`
  * is exercised by every other suite; this one pins (a) that a foreign
  * scheme flows through the whole delta read path, and (b) the exact s3a
  * configuration surface, runnable the moment a hadoop-aws jar is present.
  */
class ObjectStoreSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("URL-scheme store resolution: full delta write→log-replay→scan through graftfs://") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[FakeStoreFileSystem].getName)
    val local = TestSpark.tempDir("graft-store")
    DeltaTable.write(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k"),
      local, SaveMode.Append, partitionBy = Seq("k"))
    // read back through the registered scheme: log listing, JSON replay,
    // parquet scan and partition injection all resolve graftfs:// paths
    val viaScheme = DeltaTable.read(spark, s"graftfs:$local")
    assert(viaScheme.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // and write through it too: a commit lands in the local _delta_log
    DeltaTable.write(Seq((4L, "b")).toDF("id", "k"), s"graftfs:$local",
      SaveMode.Append, partitionBy = Seq("k"))
    assert(DeltaTable.read(spark, local).count() == 4)
  }

  test("s3a:// through the first-party compat store: standard fs.s3a.* keys, full delta flow") {
    import spark.implicits._
    val server = new FakeS3Server("graft-access", "graft-secret")
    server.start()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      // the EXACT key surface a hadoop-aws user sets — S3ACompatFileSystem
      // translates it onto the first-party SigV4 store, so the s3a:// URL
      // scheme works today and hadoop-aws stays a drop-in on a real cluster
      hc.set("fs.s3a.impl", classOf[graft.sources.S3ACompatFileSystem].getName)
      hc.set("fs.s3a.endpoint", s"http://127.0.0.1:${server.port}")
      hc.set("fs.s3a.access.key", "graft-access")
      hc.set("fs.s3a.secret.key", "graft-secret")
      hc.set("fs.s3a.path.style.access", "true") // accepted (always path-style)
      hc.set("fs.s3a.impl.disable.cache", "true")
      val table = s"s3a://bucket/tbl-${java.util.UUID.randomUUID().toString.take(8)}"
      DeltaTable.write(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k"),
        table, SaveMode.Append, partitionBy = Seq("k"))
      assert(server.keys.exists(_.contains("_delta_log/00000000000000000000.json")))
      val got = DeltaTable.read(spark, table)
      assert(got.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
      assert(got.filter($"k" === "a").count() === 2L) // pruning via s3a statuses
      graft.sources.delta.DeltaDml.delete(spark, table, "id = 2")
      assert(DeltaTable.read(spark, table).select("id").as[Long].collect().sorted.toSeq
        === Seq(1L, 3L))
    } finally server.stop()
  }

  test("DML emptying a whole partition over s3a: absent staging prefix reads as zero staged files") {
    import spark.implicits._
    val server = new FakeS3Server("graft-access", "graft-secret")
    server.start()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.impl", classOf[graft.sources.S3ACompatFileSystem].getName)
      hc.set("fs.s3a.endpoint", s"http://127.0.0.1:${server.port}")
      hc.set("fs.s3a.access.key", "graft-access")
      hc.set("fs.s3a.secret.key", "graft-secret")
      hc.set("fs.s3a.impl.disable.cache", "true")
      val table = s"s3a://bucket/tbl-${java.util.UUID.randomUUID().toString.take(8)}"
      DeltaTable.write(Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("id", "k"),
        table, SaveMode.Append, partitionBy = Seq("k"))
      // DELETE every row of partition k=b: the rewrite of the touched files
      // produces ZERO output rows, so the v2/no-_SUCCESS staging write
      // leaves no objects — on a real object store the staging prefix does
      // not exist at all. The lister must read that as "zero staged files",
      // not FileNotFoundException (r21 regression, DeltaWriter.scala:729).
      graft.sources.delta.DeltaDml.delete(spark, table, "k = 'b'")
      assert(DeltaTable.read(spark, table).select("id").as[Long].collect().toSeq === Seq(1L))
      // UPDATE matching nothing after a predicate rewrite narrows to the same path
      graft.sources.delta.DeltaDml.delete(spark, table, "k = 'zzz'")
      assert(DeltaTable.read(spark, table).count() === 1L)
    } finally server.stop()
  }

  test("s3a store mapping (reference object_store.rs:42-47) — needs hadoop-aws jar") {
    val s3aPresent =
      try { Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem"); true }
      catch { case _: ClassNotFoundException => false }
    assume(s3aPresent,
      """hadoop-aws is not on /opt/spark/jars in this environment (verified:
        |zero-egress container, SURVEY §2.1), so an S3/MinIO run is
        |impossible here. The mapping this test would exercise, mirroring
        |the reference's env-credential store (src/object_store.rs:42-47)
        |and MinIO endpoint override (tests/store.rs:20-40):
        |  AWS_ACCESS_KEY_ID     -> spark.hadoop.fs.s3a.access.key
        |  AWS_SECRET_ACCESS_KEY -> spark.hadoop.fs.s3a.secret.key
        |  AWS_ENDPOINT_URL      -> spark.hadoop.fs.s3a.endpoint
        |  allow_http / MinIO    -> fs.s3a.path.style.access=true,
        |                           fs.s3a.connection.ssl.enabled=false
        |after which DeltaTable.read(spark, "s3a://bucket/table") runs the
        |identical code path the graftfs:// test above pins.""".stripMargin)
    // runnable body, for when the jar IS present:
    val conf = spark.sparkContext.hadoopConfiguration
    sys.env.get("AWS_ACCESS_KEY_ID").foreach(conf.set("fs.s3a.access.key", _))
    sys.env.get("AWS_SECRET_ACCESS_KEY").foreach(conf.set("fs.s3a.secret.key", _))
    sys.env.get("AWS_ENDPOINT_URL").foreach { ep =>
      conf.set("fs.s3a.endpoint", ep)
      conf.set("fs.s3a.path.style.access", "true")
    }
    val bucket = sys.env.getOrElse("GRAFT_S3_TEST_BUCKET", "graft-test")
    val df = DeltaTable.read(spark, s"s3a://$bucket/table")
    assert(df.count() >= 0)
  }
}
