package graft

import org.scalatest.funsuite.AnyFunSuite

/** Multi-JVM execution pin: spawns [[ClusterCheck]] as a subprocess (this
  * test JVM already holds the shared `local[*]` context, and one JVM
  * cannot host two SparkContexts) and asserts the whole provider surface —
  * golden fixture, distributed DV delete, column-mapped read — survives
  * executors that live in SEPARATE JVMs. A closure that accidentally
  * captures a non-serializable (the classic FileFormat/Configuration
  * mistake) passes every local[*] test and dies only here. A step the
  * child skipped (the golden read, where the fixture is absent) is
  * reported through `info`, so the run log shows what the pass left out. */
class ClusterSuite extends AnyFunSuite {

  test("provider surface runs under local-cluster[2,2,1024] (separate executor JVMs)") {
    // the worker threads launch executor JVMs through the dist's launch
    // machinery — it needs SPARK_HOME, and SPARK_SCALA_VERSION because
    // load-spark-env.sh (which normally sets it) never runs for
    // in-process workers (the launcher otherwise probes source-checkout
    // build dirs and dies with "Cannot find any build directories")
    val out = SubprocessCheck.assertOk("graft.ClusterCheck", "CLUSTERCHECK OK", 300,
      env = Map("SPARK_HOME" -> "/opt/spark", "SPARK_SCALA_VERSION" -> "2.13"))
    out.linesIterator.filter(_.startsWith(ClusterCheck.SkipMarker)).foreach(info(_))
  }
}
