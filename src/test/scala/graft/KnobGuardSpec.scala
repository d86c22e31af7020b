package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Env-knob guard: the `SPARK_GRAFT_*` environment variables that
  * `src/main` reads are exactly the deployment and harness settings
  * below (README's table). A settled A/B posture is a constant in the
  * code, not a switch; a new variable has to be added here, with its
  * reason, in the same change that reads it.
  */
class KnobGuardSpec extends AnyFunSuite {
  private val Deployment = Set("CPUS", "SF_DIR", "MIN_PART_SIZE",
    "STATE_PROVIDER", "STREAM_PARTS")
  private val Harness = Set("ONLY", "WARMUP", "PASSES", "LOOP",
    "MILD_RETRY", "BENCH_OUT")

  test("src/main reads only the listed SPARK_GRAFT_* env vars") {
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under $root")
    val name = "\"SPARK_GRAFT_([A-Z0-9_]+)\"".r
    val read: Map[String, Seq[Path]] = files
      .flatMap(f => name.findAllMatchIn(Files.readString(f)).map(_.group(1) -> f))
      .groupMap(_._1)(_._2)
    val allowed = Deployment ++ Harness
    val extra = read.keySet -- allowed
    assert(extra.isEmpty, "unlisted SPARK_GRAFT_* reads: " +
      extra.toSeq.sorted.map(k => s"$k in ${read(k).distinct.mkString(", ")}")
        .mkString("; "))
    assert(read.keySet == allowed,
      s"listed but never read: ${(allowed -- read.keySet).toSeq.sorted}")
  }
}
