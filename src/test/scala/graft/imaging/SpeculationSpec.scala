package graft.imaging

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSessionTestWrapper, TempDirs}
import graft.core.JobSettings

/** Speculative-execution safety (round-11 verdict item 7): the full
  * conversion job runs e2e with `spark.speculation=true` tuned to
  * re-launch every task (on a `local-cluster` master in a subprocess —
  * local mode never starts the speculation thread), and the resulting
  * store must be byte-identical to the non-speculative run. Duplicate
  * attempts race on the deterministic-path tmp+rename branches in the
  * chunk and shard writers (`ZarrStore.put` / `ZarrStore.ShardWriter`),
  * which this is the first test to actually drive.
  */
class SpeculationSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  // big enough that decode/rechunk/write tasks outlast the speculation
  // check interval (tiny tasks all finish before a clone can launch)
  private val NZ = 16; private val NY = 1200; private val NX = 1500

  private def voxel(z: Int, y: Int, x: Int): Int = (z * 7919 + y * 113 + x) % 65536

  private lazy val root: Path = {
    val r = tempDir("graft-spec-exec")
    SyntheticStack.write(r.resolve("SmartSPIM/Ex_561_Em_600/430000/430000_480000"),
      NZ, NY, NX)(voxel)
    r
  }
  private def stack = root.resolve("SmartSPIM/Ex_561_Em_600/430000/430000_480000")

  /** relpath → md5 of every store object (tmp and checksum sidecars
    * excluded — sidecars are a local-FS artifact, not store content). */
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

  test("speculative re-execution leaves the v3 sharded store byte-identical") {
    // reference store: plain in-process run, no speculation
    val plain = tempDir("graft-spec-plain")
    SmartSpimJob.convertStacks(spark, Seq(stack),
      JobSettings(inputSource = root.toString, outputDirectory = plain.toString,
        chunkSize = Seq(64, 64, 64), downsampleLevels = 3,
        zarrFormat = 3, shardGrid = Some(Seq(2, 2, 2))),
      Seq(2.0, 1.8, 1.8))
    val expected = digest(plain)
    assert(expected.nonEmpty)

    val specOut = tempDir("graft-spec-spec")
    val (code, text) = org.apache.spark.deploy.MiniClusterProbe.runProbe(
      "graft.imaging.SpeculationProbe", "2g",
      stack.toString, root.toString, specOut.toString, "3")
    assert(code == 0, s"probe failed:\n${text.takeRight(4000)}")
    val spec = "SPECULATIVE=(\\d+)".r.findFirstMatchIn(text)
      .map(_.group(1).toInt)
    assert(spec.isDefined, "probe did not report a speculative count")
    assert(spec.get > 0,
      "speculation never fired — the run proves nothing; tighten the knobs")
    assert(digest(specOut) == expected,
      "speculative run produced different store bytes")
  }
}
