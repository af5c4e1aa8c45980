package graft

import org.scalatest.funsuite.AnyFunSuite

/** Separate-PROCESS deployment pin: spawns [[StandaloneClusterCheck]] as a
  * subprocess (the shared test JVM holds a `local[*]` context), which in
  * turn boots a standalone Master process and Worker process and replays
  * the whole [[ClusterCheck]] surface through `spark://` — the reference's
  * scheduler-binary + executor-binary lifecycle
  * (`examples/custom_scheduler.rs`, `examples/custom_executor.rs`)
  * re-expressed as Spark standalone deploy mode. A step the child skipped
  * (the golden read, where the fixture is absent) is reported through
  * `info`. */
class StandaloneClusterSuite extends AnyFunSuite {

  test("provider surface runs under a separate-process standalone master/worker") {
    val out = SubprocessCheck.assertOk("graft.StandaloneClusterCheck", "STANDALONECHECK OK", 420,
      env = Map("SPARK_HOME" -> "/opt/spark", "SPARK_SCALA_VERSION" -> "2.13"))
    out.linesIterator.filter(_.startsWith(ClusterCheck.SkipMarker)).foreach(info(_))
  }
}
