package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every temp directory the program makes is deleted at JVM exit: they
  * all come from [[TempDirs.create]]. */
class TempDirsSuite extends AnyFunSuite {

  test("only TempDirs calls createTempDirectory") {
    val call = "createTemp" + "Directory(" // split: this file is no hit
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(call))
        .map(_.getFileName.toString).toList
      finally walk.close()
    }
    assert(hits === Seq("TempDirs.scala"))
  }
}
