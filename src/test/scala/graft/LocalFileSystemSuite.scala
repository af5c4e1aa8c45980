package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLocalFileSystem

/** `file://` is [[GraftLocalFileSystem]]: Hadoop's checksummed local file
  * system whose permission calls run in process, not as a `chmod` fork. */
class LocalFileSystemSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** The command line of every process the JVM started during `f`. */
  private def processStarts(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val out = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(out)
    }
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("the session's file:// is the graft local file system, and getLocal still casts") {
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path(TestSpark.tempDir("graft-localfs")).getFileSystem(conf)
      .isInstanceOf[GraftLocalFileSystem])
    val local: LocalFileSystem = FileSystem.getLocal(conf)
    assert(local.isInstanceOf[GraftLocalFileSystem])
    val f = new Path(TestSpark.tempDir("graft-localfs-getlocal"), "x")
    val out = local.create(f)
    try out.writeInt(7) finally out.close()
    val in = local.open(f)
    try assert(in.readInt() === 7) finally in.close()
  }

  test("a partitioned local Delta append and UPDATE start no chmod process") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-localfs-dml")
    val started = processStarts {
      (0 until 200).map(i => (i.toLong, s"k${i % 4}", i)).toDF("id", "k", "v")
        .write.format("delta").partitionBy("k").save(dir)
      spark.sql(s"UPDATE delta.`$dir` SET v = v + 1 WHERE id % 3 = 0")
    }
    assert(!started.exists(_.contains("chmod")), started.mkString("\n"))
    assert(spark.read.format("delta").load(dir).agg(Map("v" -> "sum")).head().getLong(0) ===
      (0 until 200).map(_.toLong).sum + (0 until 200).count(_ % 3 == 0))
  }

  test("files and directories get the mode bits of Hadoop's chmod path") {
    val conf = new Configuration()
    val graft = new GraftLocalFileSystem
    graft.initialize(java.net.URI.create("file:///"), conf)
    val hadoop = new LocalFileSystem
    hadoop.initialize(java.net.URI.create("file:///"), conf)
    val root = TestSpark.tempDir("graft-localfs-modes")
    def written(fs: LocalFileSystem, name: String): (String, String, String) = {
      val d = new Path(root, s"$name/a/b")
      assert(fs.mkdirs(d))
      val f = new Path(d, "part-0")
      fs.create(f).close()
      (mode(s"$root/$name/a/b"), mode(s"$root/$name/a/b/part-0"),
        mode(s"$root/$name/a/b/.part-0.crc"))
    }
    assert(written(graft, "graft") === written(hadoop, "hadoop"))
    for (bits <- Seq("640", "700", "755", "600", "444", "777")) {
      val perm = new FsPermission(bits)
      val f = new Path(root, s"explicit-$bits")
      graft.create(f).close()
      graft.setPermission(f, perm)
      val g = new Path(root, s"explicit-$bits-hadoop")
      hadoop.create(g).close()
      hadoop.setPermission(g, perm)
      assert(mode(f.toUri.getPath) === mode(g.toUri.getPath), bits)
      assert(graft.getFileStatus(f).getPermission === perm, bits)
    }
  }
}
