package graft

import java.net.{URL, URLClassLoader}

import org.apache.spark.sql.functions._

/** Remote-client protocol pin — the Spark-native analog of the
  * reference's `df://` remote flow (`SessionContext::remote_with_state`,
  * `examples/local_read_client.rs:31`, scheduler at
  * `examples/custom_scheduler.rs:44-45`): a THIN CLIENT in a foreign
  * classloader speaks gRPC to a query engine that owns all the state —
  * catalog, Delta provider, native functions — and gets full query
  * results back without any engine classes of its own.
  *
  * Server side: the classic session starts the Spark Connect plugin
  * (`spark.plugins=…SparkConnectPlugin`, the in-process equivalent of
  * `sbin/start-connect-server.sh`), registers a Delta table written
  * through [[graft.sources.delta.DeltaWriter]], with
  * [[graft.functions.GraftSparkExtensions]] active so remote sessions
  * resolve the delta source and SQL surface exactly like local ones
  * (extensions are re-applied to every Connect-spawned session).
  *
  * Client side: Spark's JDBC-over-Connect driver
  * (`spark-connect-client-jdbc`), loaded in a CHILD-FIRST classloader
  * because the client ships its own `org.apache.spark.sql.*` facade that
  * must shadow the classic classes — the same isolation a real thin
  * client gets from not having the server on its classpath at all. The
  * check talks to it purely through `java.sql` JDK interfaces.
  *
  * Run directly (`sbt "runMain graft.ConnectCheck"`) or through
  * `ConnectSuite` (subprocess — the shared test JVM already holds a
  * SparkContext). Prints `CONNECTCHECK OK` and exits 0 on success.
  */
object ConnectCheck {

  /** Child-first loader: the Connect client's own copies of
    * `org.apache.spark.*` / shaded `org.sparkproject.*` win over the
    * classic server classes in the parent; JDK and scala stay shared. */
  private final class ClientLoader(urls: Array[URL], parent: ClassLoader)
      extends URLClassLoader(urls, parent) {
    override protected def loadClass(name: String, resolve: Boolean): Class[_] =
      getClassLoadingLock(name).synchronized {
        val loaded = findLoadedClass(name)
        val c =
          if (loaded != null) loaded
          else if (name.startsWith("java.") || name.startsWith("javax.")
            || name.startsWith("jdk.") || name.startsWith("sun.")
            || name.startsWith("scala."))
            super.loadClass(name, false)
          else
            try findClass(name)
            catch { case _: ClassNotFoundException => super.loadClass(name, false) }
        if (resolve) resolveClass(c)
        c
      }
  }

  private val ClientJars = Seq(
    "/opt/spark/jars/connect-repl/spark-connect-client-jdbc_2.13-4.1.2.jar",
    "/opt/spark/jars/connect-repl/spark-connect-client-jvm_2.13-4.1.2.jar")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // ephemeral port, reserved then released for the gRPC binding
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val spark = GraftSession.getOrCreate("local[4]", Some(4), "graft-connect-check", Map(
      "spark.plugins" -> "org.apache.spark.sql.connect.SparkConnectPlugin",
      "spark.connect.grpc.binding.port" -> port.toString))
    spark.sparkContext.setLogLevel("WARN")
    try {
      // ---- server-side state: a Delta table the remote client never
      // writes, only queries (the reference's local_read_client shape)
      val path = TempDirs.create("graft-connect") + "/tbl"
      val supplier = spark.read.parquet(s"$sfDir/supplier.parquet")
      graft.sources.delta.DeltaTable.write(
        supplier, path, org.apache.spark.sql.SaveMode.Append, Nil)
      spark.sql(s"CREATE TABLE connect_demo USING delta LOCATION '$path'")
      val exp = supplier.agg(
        count(lit(1)), sum(col("s_suppkey")),
        countDistinct(col("s_nationkey"))).collect()(0)
      val (expN, expSum, expNat) = (exp.getLong(0), exp.getLong(1), exp.getLong(2))
      val firstRow = supplier.orderBy(col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name")).limit(1).collect()(0)
      val (expMinKey, expFirst) = (firstRow.getLong(0), firstRow.getString(1))

      // ---- thin client over gRPC via the JDBC-on-Connect driver
      val loader = new ClientLoader(
        ClientJars.map(f => new java.io.File(f).toURI.toURL).toArray,
        getClass.getClassLoader)
      val drv = Class
        .forName("org.apache.spark.sql.connect.client.jdbc.SparkConnectDriver", true, loader)
        .getDeclaredConstructor().newInstance().asInstanceOf[java.sql.Driver]
      val conn = drv.connect(s"jdbc:sc://localhost:$port", new java.util.Properties())
      require(conn != null, "connect JDBC driver rejected the URL")
      try {
        val st = conn.createStatement()
        // aggregate through the remote plane — replay, scan and agg all
        // run server-side; only result rows cross the wire
        val rs = st.executeQuery(
          "SELECT count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS ks, " +
            "count(DISTINCT s_nationkey) AS nn FROM connect_demo")
        require(rs.next(), "no result row from remote aggregate")
        require(rs.getLong("n") == expN, s"remote count ${rs.getLong("n")} != $expN")
        require(rs.getLong("ks") == expSum, s"remote sum ${rs.getLong("ks")} != $expSum")
        require(rs.getLong("nn") == expNat, s"remote distinct ${rs.getLong("nn")} != $expNat")
        while (rs.next()) () // drain: the driver frees arrow batches on exhaustion
        rs.close()
        // ordered projection — row-level values cross the protocol
        val rs2 = st.executeQuery(
          "SELECT s_suppkey, s_name FROM connect_demo ORDER BY s_suppkey LIMIT 3")
        require(rs2.next(), "no rows from remote projection")
        require(rs2.getLong(1) == expMinKey, s"first key ${rs2.getLong(1)} != $expMinKey")
        require(rs2.getString(2) == expFirst,
          s"first name '${rs2.getString(2)}' != '$expFirst'")
        var rows = 1
        while (rs2.next()) rows += 1
        require(rows == 3, s"remote LIMIT 3 returned $rows rows")
        rs2.close()
        // time travel through the remote plane (our parser extension,
        // active in the Connect-spawned session — the dl12 syntax)
        val rs3 = st.executeQuery(
          s"SELECT count(*) AS n FROM delta.`$path` VERSION AS OF 0")
        require(rs3.next() && rs3.getLong("n") == expN,
          "remote time travel through the parser extension failed")
        while (rs3.next()) ()
        rs3.close()

        // ---- DML through the thin client: the SQL surface must survive
        // session re-materialization on Connect-SPAWNED sessions (the
        // parser extension and the Delta writer plane run server-side; the
        // client sends only SQL text). MERGE INTO upserts via a temp view
        // created over the same remote session, then OPTIMIZE ZORDER
        // rewrites the layout — both validated by remote reads after a
        // REFRESH (DSv1 plan caching, same contract as local SQL).
        val stDml = conn.createStatement()
        // the experimental driver's executeQuery refuses statements it
        // classifies as non-SELECT ("does not produce a ResultSet");
        // execute() + getResultSet covers commands AND metric-returning DML
        def run(sql: String): Option[java.sql.ResultSet] =
          if (stDml.execute(sql)) Option(stDml.getResultSet) else None
        run(
          s"""CREATE OR REPLACE TEMPORARY VIEW graft_merge_src AS
              SELECT CAST($expMinKey AS BIGINT) AS s_suppkey,
                     'graft-updated' AS s_name,
                     CAST(0 AS INT) AS s_nationkey, CAST(1.5 AS DOUBLE) AS s_acctbal
              UNION ALL
              SELECT CAST(900001 AS BIGINT), 'graft-inserted',
                     CAST(0 AS INT), CAST(2.5 AS DOUBLE)""").foreach(_.close())
        val mrs = run(
          s"""MERGE INTO delta.`$path` t USING graft_merge_src s
              ON t.s_suppkey = s.s_suppkey
              WHEN MATCHED THEN UPDATE SET s_name = s.s_name
              WHEN NOT MATCHED THEN INSERT *""")
          .getOrElse(sys.error("remote MERGE produced no result"))
        require(mrs.next(), "remote MERGE returned no metrics row")
        require(mrs.getLong(1) == 1L && mrs.getLong(3) == 1L,
          s"remote MERGE metrics (updated=${mrs.getLong(1)}, inserted=${mrs.getLong(3)}) != (1, 1)")
        while (mrs.next()) ()
        mrs.close()
        run("REFRESH TABLE connect_demo").foreach(_.close())
        val rs4 = st.executeQuery(
          s"SELECT count(*) AS n, " +
            s"max(CASE WHEN s_suppkey = $expMinKey THEN s_name END) AS un " +
            "FROM connect_demo")
        require(rs4.next(), "no post-MERGE row")
        require(rs4.getLong("n") == expN + 1,
          s"post-MERGE remote count ${rs4.getLong("n")} != ${expN + 1}")
        require(rs4.getString("un") == "graft-updated",
          s"post-MERGE remote update lost: '${rs4.getString("un")}'")
        while (rs4.next()) ()
        rs4.close()
        val ors = run(s"OPTIMIZE delta.`$path` ZORDER BY (s_suppkey, s_nationkey)")
          .getOrElse(sys.error("remote OPTIMIZE produced no result"))
        require(ors.next(), "remote OPTIMIZE ZORDER returned no metrics row")
        while (ors.next()) ()
        ors.close()
        run("REFRESH TABLE connect_demo").foreach(_.close())
        val rs5 = st.executeQuery(
          "SELECT count(*) AS n FROM connect_demo WHERE s_name = 'graft-inserted'")
        require(rs5.next() && rs5.getLong("n") == 1L,
          "post-OPTIMIZE remote read lost the merged row")
        while (rs5.next()) ()
        rs5.close()
        stDml.close()
        st.close()
      } finally
        try conn.close()
        catch {
          // upstream quirk of the 4.1 EXPERIMENTAL JDBC-on-Connect driver:
          // its session close asserts the arrow ROOT allocator empty and a
          // 128-byte internal buffer (not one of our result sets — all are
          // drained and closed above) trips it. Every query has already
          // been validated by this point; the process exits right after,
          // so the channel teardown loss is inconsequential.
          case e: IllegalStateException if e.getMessage != null
            && e.getMessage.contains("Memory was leaked") =>
            System.err.println(s"[connect-check] tolerated driver close quirk: ${e.getMessage}")
        }
      println("CONNECTCHECK OK")
    } finally spark.stop()
  }
}
