package graft

import java.io.File
import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HttpFileSystem, HttpSeekableInputStream}

/** HTTP object store (reference `src/object_store.rs:36-41`:
  * `register_parquet("http://…")` works there; [[HttpFileSystem]] is the
  * Spark-side equivalent). Served by an in-process JDK HttpServer with
  * GET/HEAD + Range support — the protocol surface a real static host
  * (S3 website, nginx, CDN) exposes. */
class HttpStoreSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Static file server with HEAD and `Range: bytes=a-b` support, plus a
    * headToggle to exercise the HEAD-less fallback path and a fault queue
    * (next requests draw the queued status instead of being served). */
  private def withServer(root: File, headSupported: Boolean = true,
      faults: java.util.Queue[Integer] =
        new java.util.concurrent.ConcurrentLinkedQueue[Integer]())(
      body: Int => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        try {
          val fault = faults.poll()
          if (fault != null) { ex.sendResponseHeaders(fault.intValue(), -1); return }
          val f = new File(root, ex.getRequestURI.getPath)
          if (!f.isFile) { ex.sendResponseHeaders(404, -1); return }
          val bytes = Files.readAllBytes(f.toPath)
          ex.getResponseHeaders.add("Accept-Ranges", "bytes")
          ex.getRequestMethod match {
            case "HEAD" if !headSupported => ex.sendResponseHeaders(405, -1)
            case "HEAD" =>
              ex.sendResponseHeaders(200, bytes.length.toLong)
            case _ =>
              Option(ex.getRequestHeaders.getFirst("Range")) match {
                case Some(r) =>
                  val m = """bytes=(\d+)-(\d*)""".r.findFirstMatchIn(r).getOrElse(
                    sys.error(s"bad range: $r"))
                  val from = m.group(1).toLong.toInt
                  val to = Option(m.group(2)).filter(_.nonEmpty)
                    .map(_.toLong.toInt).getOrElse(bytes.length - 1)
                  val slice = java.util.Arrays.copyOfRange(
                    bytes, from, math.min(to, bytes.length - 1) + 1)
                  ex.getResponseHeaders.add(
                    "Content-Range", s"bytes $from-${from + slice.length - 1}/${bytes.length}")
                  ex.sendResponseHeaders(206, slice.length.toLong)
                  ex.getResponseBody.write(slice)
                case None =>
                  ex.sendResponseHeaders(200, bytes.length.toLong)
                  ex.getResponseBody.write(bytes)
              }
          }
        } finally ex.close()
      }
    })
    server.start()
    try body(server.getAddress.getPort)
    finally server.stop(0)
  }

  private def register(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.http.impl", classOf[HttpFileSystem].getName)

  test("parquet point read over http:// — footer seek + column chunks via range requests") {
    import spark.implicits._
    register()
    val root = new java.io.File(TestSpark.tempDir("graft-http"))
    spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
      .coalesce(1).write.parquet(s"$root/out")
    val part = root.listFiles().flatMap(_.listFiles())
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(root, "supplier.parquet").toPath)
    withServer(root) { port =>
      val viaHttp = spark.read
        .parquet(s"http://127.0.0.1:$port/supplier.parquet")
        .agg(
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum("s_suppkey"))
        .as[(Long, Long)].collect().head
      val local = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
        .agg(
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum("s_suppkey"))
        .as[(Long, Long)].collect().head
      assert(viaHttp === local)
    }
  }

  test("csv sequential read over http://, and HEAD-less servers fall back to ranged GET") {
    register()
    val root = new java.io.File(TestSpark.tempDir("graft-http-csv"))
    Files.write(new File(root, "t.csv").toPath,
      "a,b\n1,x\n2,y\n3,z\n".getBytes("UTF-8"))
    Seq(true, false).foreach { headSupported =>
      withServer(root, headSupported) { port =>
        val df = spark.read.option("header", "true")
          .csv(s"http://127.0.0.1:$port/t.csv")
        assert(df.count() === 3)
        assert(df.select("a").collect().map(_.getString(0)).sorted.toSeq
          === Seq("1", "2", "3"))
      }
    }
  }

  test("transient 503s on range reads retry; contract errors (404) fail fast") {
    register()
    val root = new java.io.File(TestSpark.tempDir("graft-http-retry"))
    val payload = (0 until 1000).map(i => (i % 251).toByte).toArray
    Files.write(new File(root, "blob.bin").toPath, payload)
    val faults = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    withServer(root, headSupported = true, faults) { port =>
      val url = new java.net.URL(s"http://127.0.0.1:$port/blob.bin")
      val s = new HttpSeekableInputStream(url, payload.length.toLong,
        maxRetries = 3, retryBaseMs = 1)
      try {
        // positioned read survives two consecutive 503s
        faults.add(503); faults.add(503)
        val buf = new Array[Byte](100)
        s.readFully(0L, buf)
        assert(buf.toSeq === payload.take(100).toSeq)
        assert(faults.isEmpty, "both faults must have been consumed by retries")
        // sequential read path retries a mid-stream 500 reopen
        faults.add(500)
        s.seek(500L)
        val one = s.read()
        assert(one === (500 % 251), "read after 500 must resume at the SAME offset")
        // a contract error is NOT retried: 404 surfaces immediately
        faults.add(404)
        val e = intercept[java.io.IOException] { s.read(0L, buf, 0, 10) }
        assert(e.getMessage.contains("404"))
        assert(faults.isEmpty)
      } finally s.close()
    }
  }

  test("seek/positioned-read semantics; writes and missing objects fail loudly") {
    register()
    val root = new java.io.File(TestSpark.tempDir("graft-http-sem"))
    val payload = (0 until 1000).map(i => (i % 251).toByte).toArray
    Files.write(new File(root, "blob.bin").toPath, payload)
    withServer(root) { port =>
      val url = new java.net.URL(s"http://127.0.0.1:$port/blob.bin")
      val s = new HttpSeekableInputStream(url, payload.length.toLong)
      try {
        // sequential from 0
        val head = new Array[Byte](10); s.read(head, 0, 10)
        assert(head.toSeq === payload.take(10).toSeq)
        // seek forward (lazy reopen with Range)
        s.seek(990L)
        val tail = new Array[Byte](10)
        var got = 0
        while (got < 10) {
          val n = s.read(tail, got, 10 - got); assert(n > 0); got += n
        }
        assert(tail.toSeq === payload.drop(990).toSeq)
        assert(s.read() === -1) // EOF
        // positioned read is independent of the cursor
        val mid = new Array[Byte](20)
        s.readFully(500L, mid)
        assert(mid.toSeq === payload.slice(500, 520).toSeq)
      } finally s.close()

      val fs = new Path(s"http://127.0.0.1:$port/").getFileSystem(
        spark.sessionState.newHadoopConf())
      intercept[java.io.FileNotFoundException] {
        fs.getFileStatus(new Path(s"http://127.0.0.1:$port/absent.bin"))
      }
      val e = intercept[UnsupportedOperationException] {
        fs.delete(new Path(s"http://127.0.0.1:$port/blob.bin"), false)
      }
      assert(e.getMessage.contains("read-only"))
    }
  }

  test("a black-holed connection times out instead of parking the task forever") {
    register()
    // a ServerSocket that ACCEPTS and never responds — the black-hole
    // shape (SYN-ACK then silence) that, without a read timeout, blocks
    // HttpURLConnection.getResponseCode indefinitely
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val accepted = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    val acceptor = new Thread(() => {
      try { while (true) accepted.add(server.accept()) }
      catch { case _: Exception => () }
    })
    acceptor.setDaemon(true); acceptor.start()
    try {
      val conf = spark.sessionState.newHadoopConf()
      conf.setInt("fs.http.read.timeout.ms", 300)
      val fs = new Path(s"http://127.0.0.1:${server.getLocalPort}/")
        .getFileSystem(conf)
      val t0 = System.nanoTime()
      val e = intercept[Exception] {
        fs.getFileStatus(new Path(s"http://127.0.0.1:${server.getLocalPort}/x.bin"))
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(e.isInstanceOf[java.net.SocketTimeoutException]
        || Option(e.getCause).exists(_.isInstanceOf[java.net.SocketTimeoutException]),
        s"expected a socket timeout, got: $e")
      assert(elapsedMs < 10000L,
        s"timeout must bound the stall (took ${elapsedMs}ms)")
    } finally {
      server.close()
      accepted.forEach(s => try s.close() catch { case _: Exception => () })
    }
  }
}
