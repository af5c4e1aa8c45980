package graft

import org.apache.spark.sql.SparkSession

/** Session factory — the Spark-native analog of the reference's
  * `custom_session_config` / `custom_session_state` builders
  * (`src/lib.rs:18-42`), and the ONLY `SparkSession.builder` in the
  * project: the product, every harness main and the test suite get their
  * session here, so what is benched and tested is what ships. The session
  * has the engine's full surface wired up — the `delta` source resolves via
  * the META-INF/services DataSourceRegister (no per-role codec/registry
  * distribution needed: Spark ships closures with tasks, SURVEY §0),
  * [[graft.functions.GraftSparkExtensions]] injects graft's SQL functions,
  * Delta SQL parser and optimizer rule into every session of the context
  * (`newSession()` included), timezone is pinned to UTC, the `fs.http`/
  * `fs.s3` stores are registered, and shuffle parallelism defaults to the
  * machine instead of 200.
  *
  * The reference's `information_schema` toggle (`src/lib.rs:19`) maps to
  * Spark's always-on catalog surface (SHOW TABLES / DESCRIBE /
  * spark.catalog — see CatalogSuite).
  */
object GraftSession {

  /** Build (or reuse) a configured session. `conf` carries what really
    * differs by caller (the Connect plugin and port, a cluster's executor
    * classpath and memory); it is applied last, so it may also override a
    * default. */
  def getOrCreate(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None,
      appName: String = "graft",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val parts = shufflePartitions.getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[graft.functions.GraftSparkExtensions].getName)
      // HTTP(S) object store (reference object_store.rs:36-41 parity):
      // point reads of single objects over plain HTTP
      .config("spark.hadoop.fs.http.impl", classOf[graft.sources.HttpFileSystem].getName)
      .config("spark.hadoop.fs.https.impl", classOf[graft.sources.HttpsFileSystem].getName)
      // S3 store (SigV4 REST; needs fs.s3.endpoint + creds, conf or env)
      .config("spark.hadoop.fs.s3.impl", classOf[graft.sources.S3FileSystem].getName)
      // s3a:// fallback: serve the standard scheme first-party ONLY when
      // hadoop-aws is absent — on a real cluster the genuine S3AFileSystem
      // (core-default's fs.s3a.impl) must win untouched
      .config(
        (try { Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem"); Map.empty[String, String] }
         // LinkageError too: a present-but-unlinkable S3AFileSystem (the
         // hadoop-aws-without-aws-sdk misconfiguration) must fall back,
         // not abort session construction
         catch { case _: ClassNotFoundException | _: LinkageError =>
           Map("spark.hadoop.fs.s3a.impl" -> classOf[graft.sources.S3ACompatFileSystem].getName)
         }))
      .config(conf)
      .getOrCreate()
    // extensions apply only when a context is built: a session that
    // already existed in this JVM without them gets the functions as
    // temp functions (a no-op when the extension is in place)
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Run `f` with session conf `key` set to `value` on `spark` only, then
    * restore the key's previous setting — how harnesses and suites pin a
    * snapshot plane (`spark.graft.delta.snapshotPlane`) without touching
    * any other session. */
  def withConf[T](spark: SparkSession, key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** Example mirroring the reference's `examples/local_standalone.rs` flow:
  * register the golden fixture Delta table, query it with SQL, and — where
  * the reference's INSERT fails by design (`examples/local_standalone.rs:
  * 38-47`) — append through our writer and read the new version back.
  *
  * Run: sbt 'runMain graft.LocalStandaloneExample [tablePath]'
  */
object LocalStandaloneExample {
  def main(args: Array[String]): Unit = {
    val fixture = if (args.nonEmpty) args(0) else ReferenceFixture.Path
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // CREATE EXTERNAL TABLE … STORED AS DELTA → CREATE TABLE … USING delta
    spark.sql(s"CREATE TABLE IF NOT EXISTS demo USING delta LOCATION '$fixture'")
    spark.sql("SELECT * FROM demo ORDER BY first_name").show()

    // the reference's negative path, positive here: append via a scratch copy
    val dir = TempDirs.create("graft-example")
    spark.table("demo").write.format("delta").partitionBy("country").save(dir)
    import spark.implicits._
    val extra = Seq(("Grace", "Hopper", "NaN", "United States"))
      .toDF("first_name", "last_name", "continent", "country")
    graft.sources.delta.DeltaWriter.write(
      extra, dir, org.apache.spark.sql.SaveMode.Append, Seq("country"))
    println(s"after append (version ${graft.sources.delta.DeltaLog.snapshot(spark, dir).version}):")
    graft.sources.delta.DeltaTable.read(spark, dir).orderBy("first_name").show()
    spark.stop()
  }
}
