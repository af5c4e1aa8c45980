package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.S3FileSystem
import graft.sources.delta.{DeltaDml, DeltaLog, DeltaTable, DeltaWriter}


/** S3 object store end-to-end (reference `src/object_store.rs:42-47` +
  * `examples/s3_standalone.rs` — endpoint override + env credentials;
  * here the first-party SigV4 [[S3FileSystem]] against [[FakeS3Server]],
  * signature-VERIFIED per request). */
class S3StoreSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withS3(body: (FakeS3Server, String) => Unit): Unit = {
    val server = new FakeS3Server("graft-access", "graft-secret")
    server.start()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3.impl", classOf[S3FileSystem].getName)
      hc.set("fs.s3.endpoint", s"http://127.0.0.1:${server.port}")
      hc.set("fs.s3.access.key", "graft-access")
      hc.set("fs.s3.secret.key", "graft-secret")
      hc.set("fs.s3.impl.disable.cache", "true") // endpoint/port changes per test
      hc.set("fs.s3.retry.base.ms", "1") // keep fault-injection specs fast
      body(server, s"s3://bucket/tbl-${java.util.UUID.randomUUID().toString.take(8)}")
    } finally server.stop()
  }

  test("full delta write -> log replay -> scan -> DML over s3://") {
    import spark.implicits._
    withS3 { (server, table) =>
      DeltaTable.write(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k"),
        table, SaveMode.Append, partitionBy = Seq("k"))
      assert(server.keys.exists(_.contains("_delta_log/00000000000000000000.json")))
      val got = DeltaTable.read(spark, table)
      assert(got.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
      // partition pruning still applies through the store
      assert(got.filter($"k" === "a").count() === 2L)
      // a second commit + DML (copy-on-write rewrite through the store)
      DeltaTable.write(Seq((4L, "b")).toDF("id", "k"), table, SaveMode.Append)
      DeltaDml.delete(spark, table, "id = 2")
      assert(DeltaTable.read(spark, table).select("id").as[Long].collect().sorted.toSeq
        === Seq(1L, 3L, 4L))
      // time travel replays the s3-hosted log
      assert(DeltaTable.readVersion(spark, table, 0L).count() === 3L)
    }
  }

  test("commit mutual exclusion: conditional PUT makes the second writer lose") {
    withS3 { (_, table) =>
      import spark.implicits._
      DeltaTable.write(Seq((1L, "a")).toDF("id", "k"), table, SaveMode.Append)
      val v1 = """{"commitInfo":{"operation":"TEST","timestamp":1}}"""
      assert(DeltaLog.tryCommit(spark, table, 1L, v1))
      assert(!DeltaLog.tryCommit(spark, table, 1L, v1),
        "second commit of the same version must lose the conditional PUT")
      assert(DeltaLog.tryCommit(spark, table, 2L, v1))
    }
  }

  test("large objects go up MULTIPART and read back bit-identical") {
    import spark.implicits._
    withS3 { (server, table) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3.multipart.threshold", "1024") // every parquet file crosses it
      hc.set("fs.s3.multipart.size", "2048")
      try {
        val df = (0 until 5000).map(i => (i.toLong, s"row-$i-${"x" * 20}")).toDF("id", "s")
        DeltaTable.write(df.coalesce(2), table, SaveMode.Append)
        assert(server.multipartCompletions >= 2,
          s"expected the parquet files to upload multipart, saw ${server.multipartCompletions}")
        val got = DeltaTable.read(spark, table)
        assert(got.count() === 5000L)
        assert(got.agg(org.apache.spark.sql.functions.sum("id")).as[Long].collect().head
          === (0L until 5000L).sum)
        // commits stay single conditional PUTs (small JSON, If-None-Match)
        assert(DeltaLog.snapshot(spark, table).version === 0L)
      } finally {
        hc.unset("fs.s3.multipart.threshold"); hc.unset("fs.s3.multipart.size")
      }
    }
  }

  test("recursive prefix delete goes through ONE bulk DeleteObjects request") {
    withS3 { (server, table) =>
      import spark.implicits._
      DeltaTable.write((0 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartition(4), table, SaveMode.Append)
      val before = server.keys.count(_.startsWith("bucket/"))
      assert(before > 4)
      val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
      val deletesBefore = server.bulkDeletes
      assert(fs.delete(new Path(table), true))
      assert(server.bulkDeletes === deletesBefore + 1,
        "a <=1000-object prefix must retire in ONE DeleteObjects call")
      val tableName = new Path(table).getName // UUID-suffixed, unique
      assert(!server.keys.exists(_.contains(tableName)),
        s"objects survived the recursive delete: ${server.keys.filter(_.contains(tableName))}")
    }
  }

  test("VACUUM on s3:// retires expired files through bulk DeleteObjects") {
    import spark.implicits._
    withS3 { (server, table) =>
      DeltaTable.write((0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartition(3), table, SaveMode.Append)
      // overwrite strands the v0 files; retention 0 makes them vacuumable
      DeltaTable.write(Seq((99L, "z")).toDF("id", "s").coalesce(1),
        table, SaveMode.Overwrite)
      val deletesBefore = server.bulkDeletes
      val n = graft.sources.delta.DeltaMaintenance.vacuum(spark, table, retentionMs = 0L)
      assert(n >= 3L, s"expected the 3 stranded v0 files vacuumed, got $n")
      assert(server.bulkDeletes === deletesBefore + 1,
        "vacuum must retire the batch in ONE DeleteObjects request")
      assert(DeltaTable.read(spark, table).count() === 1L, "live data must survive")
    }
  }

  // ---- transient-failure resilience (fault injection) ----

  private def fsOf(table: String): graft.sources.S3FileSystem =
    new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
      .asInstanceOf[graft.sources.S3FileSystem]

  test("503 SlowDown twice on GET is retried transparently") {
    withS3 { (server, table) =>
      val fs = fsOf(table)
      val p = new Path(s"$table/obj.bin")
      val out = fs.create(p, true)
      out.write("payload-under-test".getBytes(UTF_8)); out.close()
      server.injectFault(S3Fault("GET", "obj.bin", 503))
      server.injectFault(S3Fault("GET", "obj.bin", 503))
      val in = fs.open(p, 4096)
      val got = new String(in.readAllBytes(), UTF_8)
      in.close()
      assert(got === "payload-under-test")
    }
  }

  test("LIST and HEAD retry through 500s") {
    withS3 { (server, table) =>
      val fs = fsOf(table)
      val p = new Path(s"$table/a/x.bin")
      val out = fs.create(p, true); out.write(Array[Byte](1, 2, 3)); out.close()
      server.injectFault(S3Fault("HEAD", "x.bin", 500))
      assert(fs.getFileStatus(p).getLen === 3L)
      server.injectFault(S3Fault("GET", "", 503, queryContains = "list-type"))
      assert(fs.listStatus(new Path(s"$table/a")).length === 1)
    }
  }

  test("connection killed mid-PUT is retried (transport failure, idempotent verb)") {
    withS3 { (server, table) =>
      val fs = fsOf(table)
      server.injectFault(S3Fault("PUT", "killed.bin", 0, killConn = true))
      val p = new Path(s"$table/killed.bin")
      val out = fs.create(p, true)
      out.write("survived".getBytes(UTF_8)); out.close()
      val in = fs.open(p, 4096)
      assert(new String(in.readAllBytes(), UTF_8) === "survived")
      in.close()
    }
  }

  test("ambiguous 500 AFTER server-side apply on the commit PUT: tryCommit wins, no double apply") {
    withS3 { (server, table) =>
      import spark.implicits._
      DeltaTable.write(Seq((1L, "a")).toDF("id", "k"), table, SaveMode.Append)
      val content = """{"commitInfo":{"operation":"TEST","timestamp":7}}"""
      // server applies the conditional PUT, then fails the response — the
      // client must read back, recognize ITS OWN content, and claim the win
      server.injectFault(S3Fault("PUT", "00000000000000000001.json", 500, applyFirst = true))
      assert(DeltaLog.tryCommit(spark, table, 1L, content),
        "an applied-but-unacknowledged commit is a WIN, not a lost race")
      val key = server.keys.find(_.endsWith("00000000000000000001.json")).get
      assert(new String(server.get(key), UTF_8) === content)
    }
  }

  test("transient 500 (not applied) on the commit PUT retries and commits") {
    withS3 { (server, table) =>
      import spark.implicits._
      DeltaTable.write(Seq((1L, "a")).toDF("id", "k"), table, SaveMode.Append)
      server.injectFault(S3Fault("PUT", "00000000000000000001.json", 500))
      assert(DeltaLog.tryCommit(spark, table, 1L, """{"commitInfo":{"operation":"T"}}"""))
    }
  }

  test("ambiguous failure then a GENUINE loss still reports false (content differs)") {
    withS3 { (server, table) =>
      import spark.implicits._
      DeltaTable.write(Seq((1L, "a")).toDF("id", "k"), table, SaveMode.Append)
      val winner = """{"commitInfo":{"operation":"WINNER"}}"""
      assert(DeltaLog.tryCommit(spark, table, 1L, winner))
      // the loser's first attempt draws a 500 (ambiguous), the retry sees
      // 412, and read-back shows someone ELSE's content → lost
      server.injectFault(S3Fault("PUT", "00000000000000000001.json", 500))
      assert(!DeltaLog.tryCommit(spark, table, 1L, """{"commitInfo":{"operation":"LOSER"}}"""))
      val key = server.keys.find(_.endsWith("00000000000000000001.json")).get
      assert(new String(server.get(key), UTF_8) === winner, "the winner's commit must survive")
    }
  }

  test("409 ConditionalRequestConflict on conditional PUT is transient, not a hard failure") {
    withS3 { (server, table) =>
      val fs = fsOf(table)
      server.injectFault(S3Fault("PUT", "cond.json", 409))
      val out = fs.create(new Path(s"$table/cond.json"), false)
      out.write("won-after-contention".getBytes(UTF_8)); out.close()
      val in = fs.open(new Path(s"$table/cond.json"), 4096)
      assert(new String(in.readAllBytes(), UTF_8) === "won-after-contention")
      in.close()
    }
  }

  test("multipart create-if-absent stays atomic: conditional COMPLETE loses 412 and aborts") {
    withS3 { (server, table) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3.multipart.threshold", "64")
      hc.set("fs.s3.multipart.size", "64")
      try {
        val fs = fsOf(table)
        val p = new Path(s"$table/big.bin")
        val first = fs.create(p, false)
        first.write(("A" * 300).getBytes(UTF_8)); first.close()
        assert(server.multipartCompletions >= 1)
        // second exclusive create of the SAME key must lose at COMPLETE time
        intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
          val out = fs.create(p, false)
          out.write(("B" * 300).getBytes(UTF_8)); out.close()
        }
        assert(new String(server.get(s"bucket/${new Path(table).getName}/big.bin"), UTF_8)
          === "A" * 300, "the first writer's object must survive")
        assert(server.multipartAborts >= 1, "the losing upload must be aborted")
        assert(server.activeUploads === 0, "no orphaned multipart uploads may remain")
      } finally {
        hc.unset("fs.s3.multipart.threshold"); hc.unset("fs.s3.multipart.size")
      }
    }
  }

  test("ambiguous 500 AFTER an applied multipart COMPLETE resolves by read-back, no abort") {
    withS3 { (server, table) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3.multipart.threshold", "64")
      hc.set("fs.s3.multipart.size", "64")
      try {
        val fs = fsOf(table)
        val p = new Path(s"$table/big-ambig.bin")
        // the COMPLETE applies server-side but its 200 is lost; the blind
        // retry hits 404 NoSuchUpload (consumed id) — the writer must
        // recognize its own object (unique key + expected length) and
        // report success, never a loss, never an abort of a live object
        server.injectFault(
          S3Fault("POST", "big-ambig.bin", 500, applyFirst = true, queryContains = "uploadId"))
        val out = fs.create(p, false)
        out.write(("C" * 300).getBytes(UTF_8)); out.close()
        assert(new String(server.get(s"bucket/${new Path(table).getName}/big-ambig.bin"), UTF_8)
          === "C" * 300, "the applied upload must be the visible object")
        assert(server.activeUploads === 0, "the consumed upload leaves no orphan")
        assert(fs.getFileStatus(p).getLen === 300L)
      } finally {
        hc.unset("fs.s3.multipart.threshold"); hc.unset("fs.s3.multipart.size")
      }
    }
  }

  test("multipart COMPLETE that never applied over an identical pre-existing object: success AND parts released") {
    withS3 { (server, table) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3.multipart.threshold", "64")
      hc.set("fs.s3.multipart.size", "64")
      try {
        val fs = fsOf(table)
        val p = new Path(s"$table/idem.bin")
        val payload = ("D" * 300).getBytes(UTF_8)
        // first write leaves the object in place
        val o1 = fs.create(p, false); o1.write(payload); o1.close()
        // idempotent overwrite of the SAME bytes whose COMPLETE dies 500
        // on every attempt (never applied): the read-back sees identical
        // content and resolves to success — but the upload was NOT
        // consumed, so the writer must still abort it or its stored
        // parts leak server-side forever
        (0 until 6).foreach(_ => server.injectFault(
          S3Fault("POST", "idem.bin", 500, queryContains = "uploadId")))
        val o2 = fs.create(p, true); o2.write(payload); o2.close()
        assert(new String(server.get(s"bucket/${new Path(table).getName}/idem.bin"), UTF_8)
          === "D" * 300, "the pre-existing identical object must remain visible")
        assert(server.activeUploads === 0,
          "a never-applied complete resolved by read-back must still release its parts")
      } finally {
        hc.unset("fs.s3.multipart.threshold"); hc.unset("fs.s3.multipart.size")
      }
    }
  }

  test("a failed part upload aborts the multipart upload (no orphaned parts)") {
    withS3 { (server, table) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3.multipart.threshold", "64")
      hc.set("fs.s3.multipart.size", "64")
      try {
        val fs = fsOf(table)
        // exhaust the retry budget (limit 4 ⇒ 5 attempts) on part 2
        (0 until 5).foreach { _ =>
          server.injectFault(S3Fault("PUT", "doomed.bin", 500, queryContains = "partNumber=2"))
        }
        intercept[java.io.IOException] {
          val out = fs.create(new Path(s"$table/doomed.bin"), true)
          out.write(("C" * 300).getBytes(UTF_8)); out.close()
        }
        assert(server.multipartAborts >= 1, "failed upload must be aborted")
        assert(server.activeUploads === 0, "no orphaned multipart uploads may remain")
        assert(!server.keys.exists(_.endsWith("doomed.bin")))
      } finally {
        hc.unset("fs.s3.multipart.threshold"); hc.unset("fs.s3.multipart.size")
      }
    }
  }

  test("delta STREAMING source tails an s3:// table (listing-based discovery)") {
    import spark.implicits._
    withS3 { (_, table) =>
      DeltaTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), table, SaveMode.Append)
      // stream checkpoint stays local (production object-store checkpoints
      // ride committer machinery out of scope here); the SOURCE is s3://
      val cp = TestSpark.tempDir("graft-s3-stream-cp")
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("delta").load(table)
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= batch.select("id").collect().map(_.getLong(0)) }
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        assert(seen.synchronized(seen.sorted.toSeq) === Seq(1L, 2L))
        // a NEW commit lands on s3 and the stream picks it up
        DeltaTable.write(Seq((3L, "c")).toDF("id", "k"), table, SaveMode.Append)
        q.processAllAvailable()
        assert(seen.synchronized(seen.sorted.toSeq) === Seq(1L, 2L, 3L))
      } finally q.stop()
    }
  }

  test("dl-family parity: the same delta pipeline on s3:// and file:// is value-identical") {
    import org.apache.spark.sql.functions._
    // the dl01–dl05 shapes (partitioned roundtrip, time travel, pruned
    // read, DML rewrite, VACUUM) executed against BOTH stores from the
    // same fixture — any divergence in scan/commit/delete behavior
    // between the conditional-PUT plane and POSIX shows here
    def pipeline(root: String): Seq[Seq[String]] = {
      val dir = "/root/testdata/sf0.001"
      val supplier = spark.read.parquet(s"$dir/supplier.parquet")
      // dl01: partitioned write → provider read → aggregate
      val p1 = s"$root/t1"
      supplier.write.format("delta").partitionBy("s_nationkey").save(p1)
      val r1 = DeltaTable.read(spark, p1)
        .groupBy(col("s_nationkey").cast("int").as("k"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal").cast("decimal(18,6)")), 2).cast("string").as("bal"))
        .orderBy(col("k")).collect().map(_.mkString("|")).toSeq
      // dl02: two commits + VERSION AS OF 0
      val p2 = s"$root/t2"
      DeltaTable.write(supplier.filter(col("s_suppkey") % 2 === 0), p2, SaveMode.Append)
      DeltaTable.write(supplier.filter(col("s_suppkey") % 2 === 1), p2, SaveMode.Append)
      val r2 = DeltaTable.readVersion(spark, p2, 0L)
        .agg(count(lit(1)), sum(col("s_suppkey")))
        .collect().map(_.mkString("|")).toSeq
      // dl03: partition-pruned read
      val r3 = DeltaTable.read(spark, p1).filter(col("s_nationkey") === 3)
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey")).collect().map(_.mkString("|")).toSeq
      // dl06-shape: DELETE rewrite, then VACUUM the stranded files
      DeltaDml.delete(spark, p2, "s_suppkey % 7 = 0")
      val r4 = DeltaTable.read(spark, p2)
        .agg(count(lit(1)), sum(col("s_suppkey")))
        .collect().map(_.mkString("|")).toSeq
      graft.sources.delta.DeltaMaintenance.vacuum(spark, p2, retentionMs = 0L)
      val r5 = DeltaTable.read(spark, p2)
        .agg(count(lit(1)), sum(col("s_suppkey")))
        .collect().map(_.mkString("|")).toSeq
      Seq(r1, r2, r3, r4, r5)
    }
    withS3 { (_, table) =>
      val local = TestSpark.tempDir("graft-s3-parity")
      val onLocal = pipeline(local)
      val onS3 = pipeline(table)
      onLocal.zip(onS3).zipWithIndex.foreach { case ((l, s3r), i) =>
        assert(l === s3r, s"stage $i diverged between file:// and s3://")
      }
    }
  }

  test("mixed concurrent writers race the conditional-PUT commit plane to a serial result") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    withS3 { (_, table) =>
      (0 until 2).foreach { b =>
        DeltaTable.write(
          (1 to 20).map(i => ((b * 20 + i).toLong, s"r${b * 20 + i}", i % 2))
            .toDF("id", "payload", "p"),
          table, SaveMode.Append, partitionBy = Seq("p"))
      }
      val aborts = new java.util.concurrent.atomic.AtomicInteger(0)
      def untilCommitted(op: () => Unit): Unit = {
        var done = false
        var attempts = 0
        while (!done && attempts < 20) {
          try { op(); done = true }
          catch {
            case _: java.util.ConcurrentModificationException =>
              aborts.incrementAndGet(); attempts += 1
          }
        }
        assert(done, "op failed to commit within 20 conflict retries")
      }
      val ops: Seq[() => Unit] = Seq(
        () => DeltaTable.write(Seq((101L, "a1", 0)).toDF("id", "payload", "p"),
          table, SaveMode.Append, partitionBy = Seq("p")),
        () => DeltaTable.write(Seq((102L, "a2", 1)).toDF("id", "payload", "p"),
          table, SaveMode.Append, partitionBy = Seq("p")),
        () => DeltaDml.delete(spark, table, "p = 1 AND id <= 20"),
        () => DeltaDml.delete(spark, table, "p = 0 AND id <= 20"),
        () => DeltaDml.delete(spark, table, "p = 1 AND id > 20")) // overlaps p=1
      // one thread per writer: on the global pool (one thread per core) a
      // 4-core machine starts the 5th op only after another finished, and
      // an overlapping DELETE that starts after the p=1 append committed
      // rightly deletes it — a serial order the expected set below is not
      val pool = java.util.concurrent.Executors.newFixedThreadPool(ops.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(
        Future.sequence(ops.map(op => Future(untilCommitted(op)))), 300.seconds)
      finally pool.shutdown()
      assert(DeltaLog.snapshot(spark, table).version === 6L,
        "2 seeds + 5 ops must serialize into a linear 7-version history")
      val deleted = (1 to 40).filter(i =>
        (i % 2 == 1 && i <= 20) || (i % 2 == 0 && i <= 20) ||
          (i % 2 == 1 && i > 20)).map(_.toLong).toSet
      val expected = (1L to 40L).toSet -- deleted ++ Set(101L, 102L)
      val got = DeltaTable.read(spark, table).select("id").as[Long].collect().toSet
      assert(got === expected, "final snapshot must equal the serial result")
    }
  }

  test("concurrent writers serialize THROUGH injected 503s/ambiguous 500s on commit PUTs") {
    // the production composition: OCC conflict retries × transport retries
    // × ambiguity read-back, all at once. Faults target the commit plane
    // (version JSON PUTs): a 503 before apply (pure retry), and an
    // ambiguous 500 AFTER server-side apply (read-back must recognize the
    // winner as itself, not abort as lost).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import spark.implicits._
    withS3 { (server, table) =>
      DeltaTable.write(
        (1 to 20).map(i => (i.toLong, s"r$i", i % 2)).toDF("id", "payload", "p"),
        table, SaveMode.Append, partitionBy = Seq("p"))
      (1 to 4).foreach { v =>
        server.injectFault(S3Fault("PUT", f"$v%020d.json", 503))
      }
      server.injectFault(S3Fault("PUT", f"${2}%020d.json", 500, applyFirst = true))
      val ops: Seq[() => Unit] = Seq(
        () => DeltaTable.write(Seq((101L, "a1", 0)).toDF("id", "payload", "p"),
          table, SaveMode.Append, partitionBy = Seq("p")),
        () => DeltaTable.write(Seq((102L, "a2", 1)).toDF("id", "payload", "p"),
          table, SaveMode.Append, partitionBy = Seq("p")),
        () => DeltaDml.delete(spark, table, "p = 1 AND id <= 20"))
      def untilCommitted(op: () => Unit): Unit = {
        var done = false
        var attempts = 0
        while (!done && attempts < 20) {
          try { op(); done = true }
          catch {
            case _: java.util.ConcurrentModificationException => attempts += 1
          }
        }
        assert(done, "op failed to commit within 20 conflict retries")
      }
      Await.result(
        Future.sequence(ops.map(op => Future(untilCommitted(op)))), 300.seconds)
      assert(DeltaLog.snapshot(spark, table).version === 3L,
        "1 seed + 3 ops must serialize into a linear 4-version history")
      val expected = (1L to 20L).filter(_ % 2 == 0).toSet ++ Set(101L, 102L)
      val got = DeltaTable.read(spark, table).select("id").as[Long].collect().toSet
      assert(got === expected,
        "faults on the commit plane must not lose or double-apply any op")
    }
  }

  test("streaming CHECKPOINT lives on s3:// too, and a restart resumes exactly-once") {
    import spark.implicits._
    withS3 { (server, table) =>
      DeltaTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), table, SaveMode.Append)
      // checkpoint on the OBJECT STORE: Spark's rename-based
      // FileSystemBasedCheckpointFileManager rides our FileSystem (no
      // FileContext registered for s3://, so it takes the fallback path);
      // single-writer checkpoints tolerate the non-atomic COPY+DELETE
      // rename
      val cp = s"$table-cp/checkpoint"
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      def startQuery() = spark.readStream.format("delta").load(table)
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= batch.select("id").collect().map(_.getLong(0)) }
          ()
        }
        .start()
      val q = startQuery()
      try {
        q.processAllAvailable()
        assert(seen.synchronized(seen.sorted.toSeq) === Seq(1L, 2L))
        assert(server.keys.exists(_.contains("checkpoint/offsets")),
          s"offsets log must live on s3://: ${server.keys.filter(_.contains("checkpoint"))}")
      } finally q.stop()
      // restart from the SAME s3-hosted checkpoint: already-committed
      // batches must NOT replay, new commits must flow
      DeltaTable.write(Seq((3L, "c")).toDF("id", "k"), table, SaveMode.Append)
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        assert(seen.synchronized(seen.sorted.toSeq) === Seq(1L, 2L, 3L),
          "restart from the s3 checkpoint must resume exactly-once (no replay of 1,2)")
      } finally q2.stop()
    }
  }

  test("plain parquet + checkpointed log round-trip on s3://") {
    import spark.implicits._
    withS3 { (server, table) =>
      // enough commits to cross the checkpoint cadence (10)
      (0 until 12).foreach { i =>
        DeltaTable.write(Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1),
          table, SaveMode.Append)
      }
      assert(server.keys.exists(_.contains(".checkpoint.parquet")),
        s"expected a checkpoint object, got: ${server.keys.filter(_.contains("_delta_log"))}")
      assert(DeltaTable.read(spark, table).count() === 12L)
      val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
      intercept[java.io.FileNotFoundException] {
        fs.getFileStatus(new Path(s"$table/absent.parquet"))
      }
    }
  }

  test("stagedListing over s3:// takes the SHARDED flat plane and stays exact") {
    import spark.implicits._
    withS3 { (server, table) =>
      import graft.sources.delta.DeltaMaintenance
      // partitioned layout + enough files that the listing crosses a
      // page boundary: the sharded plane must see exactly the parquet
      // set the log knows, never a _delta_log artifact
      DeltaTable.write(
        (0 until 2200).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "k")
          .repartition(8), table, SaveMode.Append, partitionBy = Seq("k"))
      val expected = server.keys.count(k =>
        k.contains(new Path(table).toUri.getPath.stripPrefix("/") + "/") &&
          k.endsWith(".parquet") && !k.contains("_delta_log"))
      server.listPages.set(0)
      val (frameOpt, cleanup) = DeltaMaintenance.stagedListing(
        spark, table, (p: Path) => p.getName.endsWith(".parquet"))
      try {
        val frame = frameOpt.getOrElse(fail("expected staged rows"))
        val got = frame.select("path").as[String].collect().toSeq
        assert(got.size === expected && got.distinct.size === got.size,
          s"sharded staged listing must be exactly-once: $expected files, " +
            s"got ${got.size} (${got.size - got.distinct.size} dupes)")
        assert(got.forall(!_.contains("_delta_log")),
          "flat-mode listing must predicate-exclude the log dir")
        assert(server.listPages.get() > 0, "took the store's LIST plane")
      } finally cleanup()
    }
  }

  test("vacuum DRY RUN over s3:// agrees with the log through the sharded plane") {
    import spark.implicits._
    withS3 { (server, table) =>
      import graft.sources.delta.{DeltaMaintenance, DeltaDml}
      DeltaTable.write((0 until 40).map(i => (i.toLong, i % 2)).toDF("id", "p")
        .repartition(4), table, SaveMode.Append, partitionBy = Seq("p"))
      DeltaDml.delete(spark, table, "p = 0") // tombstones half the adds
      val eligible = Seq.newBuilder[String]
      // retention 0ms with negative horizon => everything tombstoned or
      // orphaned is eligible immediately
      DeltaMaintenance.vacuumWalk(spark, table, -60000L) { p =>
        eligible += p.toUri.getPath
      }
      val got = eligible.result()
      assert(got.nonEmpty, "the rewritten partition's old files are eligible")
      assert(got.forall(!_.contains("_delta_log")))
      // parity: eligible ∪ live == every parquet object the store holds
      val live = graft.sources.delta.DeltaLog.snapshot(spark, table).files
        .map(f => new Path(table, f.path).toUri.getPath).toSet
      val tableRel = new Path(table).toUri.getPath.stripPrefix("/")
      val stored = server.keys.filter(k =>
        k.endsWith(".parquet") && !k.contains("_delta_log") &&
          k.startsWith(s"bucket/$tableRel/"))
        .map(k => "/" + k.stripPrefix("bucket/"))
      assert(got.toSet ++ live === stored,
        "eligible + live must partition the stored parquet set")
    }
  }
}
