package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `SPARK_GRAFT_*` environment knob the program reads. The list is
  * closed: a new knob must be added here, where review sees it. All of
  * these belong to the benchmark and verification mains (Bench,
  * BenchWorker, BenchExtra, Verify); the engine itself reads none. */
class KnobInventorySpec extends AnyFunSuite {

  private val expected = Set(
    "SPARK_GRAFT_AQE", "SPARK_GRAFT_BENCH_DURING_BAND", "SPARK_GRAFT_BENCH_LIMIT",
    "SPARK_GRAFT_BENCH_MAX_REPEATS", "SPARK_GRAFT_BENCH_MID_WAIT_SEC",
    "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_PROBE_BAND", "SPARK_GRAFT_BENCH_QUIET_MEMBW",
    "SPARK_GRAFT_BENCH_QUIET_PAIRS", "SPARK_GRAFT_BENCH_QUIET_WAIT_SEC",
    "SPARK_GRAFT_BENCH_SCALE", "SPARK_GRAFT_BENCH_STATE", "SPARK_GRAFT_BENCH_WALL_SEC",
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_EXTRA_NOOP", "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_ONLY", "SPARK_GRAFT_ONLY_QUERIES", "SPARK_GRAFT_PIN", "SPARK_GRAFT_SCALE_N",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SHUFFLE_COMPRESS", "SPARK_GRAFT_SKIP_QUERIES",
    "SPARK_GRAFT_STAGE_DEBUG", "SPARK_GRAFT_WORKER_MEM")

  test("src/main reads exactly the listed SPARK_GRAFT_* knobs") {
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val walk = Files.walk(Paths.get("src", "main", "scala"))
    val found = try {
      walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => knob.findAllIn(Files.readString(p))).toSet
    } finally walk.close()
    assert(found === expected,
      s"new: ${(found -- expected).toSeq.sorted}; gone: ${(expected -- found).toSeq.sorted}")
  }
}
