package graft.imaging

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper
import graft.core.JobSettings

/** Executor-kill idempotency for the batch zarr write (round-12
  * verdict item 8): the v3 colocated sharded conversion runs on a
  * standalone two-worker mini-cluster, one executor is killed while
  * shard-write tasks are open (an in-flight `.tmp-` object exists),
  * and the scheduler re-executes the lost tasks. The resulting store
  * must be byte-identical to an undisturbed in-process run — the
  * tmp+rename retry branches driven by REAL task re-execution, where
  * SpeculationSpec drives them with healthy duplicate clones.
  */
class WriteKillRecoverySpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  private val NZ = 16; private val NY = 1200; private val NX = 1500

  private def voxel(z: Int, y: Int, x: Int): Int = (z * 6007 + y * 131 + x) % 65536

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-writekill")
    val stack = r.resolve("SmartSPIM/Ex_445_Em_469/410000/410000_470000")
    Files.createDirectories(stack)
    for (z <- 0 until NZ) {
      val px = new Array[Byte](NY * NX * 2)
      for (y <- 0 until NY; x <- 0 until NX) {
        val v = voxel(z, y, x); val i = y * NX + x
        px(2 * i) = (v & 0xFF).toByte
        px(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      }
      Files.write(stack.resolve(f"$z%06d.png"), ImageCodec.encodePng16(NX, NY, px))
    }
    r
  }
  private def stack = root.resolve("SmartSPIM/Ex_445_Em_469/410000/410000_470000")

  /** relpath → md5 of committed store objects (tmp orphans from the
    * killed executor's open streams and local-FS `.crc` sidecars are
    * not store content). */
  private def digest(out: Path): Map[String, String] =
    Files.walk(out).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc") &&
        !p.getFileName.toString.contains(".tmp-"))
      .map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
        out.relativize(p).toString ->
          md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap

  test("executor kill mid shard-write: store byte-identical after task re-execution") {
    val plain = Files.createTempDirectory("graft-writekill-plain")
    SmartSpimJob.convertStacks(spark, Seq(stack),
      JobSettings(inputSource = root.toString, outputDirectory = plain.toString,
        chunkSize = Seq(64, 64, 64), downsampleLevels = 3,
        zarrFormat = 3, shardGrid = Some(Seq(2, 2, 2))),
      Seq(2.0, 1.8, 1.8))
    val expected = digest(plain)
    assert(expected.nonEmpty)

    val killedOut = Files.createTempDirectory("graft-writekill-out")
    val (code, text) = org.apache.spark.deploy.MiniClusterProbe.runProbe(
      "org.apache.spark.deploy.WriteKillProbe", "2g",
      stack.toString, root.toString, killedOut.toString)
    assert(code == 0, s"probe failed:\n${text.takeRight(4000)}")
    val removed = "REMOVED=(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
    assert(removed.exists(_ > 0),
      s"no executor removal observed — the run proves nothing\n${text.takeRight(2000)}")
    assert(text.contains("MIDJOB=true"),
      "executor kill was requested only after the job finished; tighten timing")
    val failed = "FAILEDTASKS=(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
    assert(failed.exists(_ > 0),
      s"no task was lost to the kill — nothing re-executed\n${text.takeRight(2000)}")
    assert(digest(killedOut) == expected,
      "post-kill store bytes diverge from the undisturbed run")
  }
}
