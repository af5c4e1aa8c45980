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
  *
  * Three JVM-wide (static) settings keep a long-lived session's fixed
  * per-operation cost and heap flat (measured on perfbench `curation_batch`,
  * 4 cores, 12 s loops; see CodegenCacheSuite):
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]. One
  *    pass of the five curation operators compiles 183 generated
  *    classes; Spark's default LRU of 100 evicted each before its next
  *    use, so every pass recompiled them. The cache is 4 Guava LRU
  *    segments, so 256 gives 64 a segment against a ~46 average, and a
  *    repeated pass compiles 0–9 classes (all in tx09). Spark sizes the
  *    cache once per JVM, from the conf in scope at the first compile:
  *    every harness compiles first inside a query of this session.
  *  - the status store caps: 20 jobs, 20 stages and 10 SQL executions,
  *    about two curation operations' worth (Spark keeps 1000 of each).
  *    Nothing in the program reads the store and the UI is off in every
  *    harness. At the defaults the driver heap grew ~0.45 MB an operation;
  *    at 100 / 100 / 50 it still grew until ~20 operations in.
  *  - the AQE exchange thread pools' core size ([[ExchangeThreads]]
  *    each; Spark's defaults are 128, 1024 and 1024). A pool starts a new
  *    thread on every submission until it reaches its core size, and each
  *    thread pins Jackson thread-local buffers: over a 25 s loop the
  *    broadcast pool grew to 128 threads. At most 6 broadcast, 4 shuffle
  *    and 4 result-stage threads were busy at once over all 161 queries,
  *    the DML/MERGE suites and the 4-writer OCC stress suite.
  * They are plain defaults: `conf` overrides any of them.
  */
object GraftSession {

  /** Generated-class cache entries: a whole curation pass's classes. */
  val CodegenCacheEntries = 256
  /** Core threads of each AQE exchange pool: broadcast, shuffle and
    * result stage. */
  val ExchangeThreads = 16

  /** The exchange pools' thread-name prefixes and cap keys. */
  val ExchangePools: Seq[(String, String)] = Seq(
    "broadcast-exchange" -> "spark.sql.broadcastExchange.maxThreadThreshold",
    "shuffle-exchange" -> "spark.sql.shuffleExchange.maxThreadThreshold",
    "ResultQueryStageExecution" -> "spark.sql.resultQueryStage.maxThreadThreshold")

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config(ExchangePools.map { case (_, key) => key -> ExchangeThreads.toString }.toMap)
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
