package graft

import java.nio.file.{Files, Paths}

import graft.core.JobSettings
import graft.imaging.{ImageCodec, SmartSpimJob}

/** Imaging throughput bench (round-10 verdict item 6): end-to-end MB/s
  * of the REAL conversion path — PNG decode from disk → rechunk
  * shuffle → floor-mean pyramid → blosc-zstd zarr write — on a
  * ~1-2 GB synthetic stack at the reference's production geometry
  * (1600×2000 16-bit slices, 128³ chunks, 4 levels, zstd-3 byte-
  * shuffled).
  *
  * The head-to-head's reference side (the dask/zarr pipeline) is not
  * installable in this zero-egress sandbox (no dask/zarr/blosc
  * packages — same limitation BASELINE.md already records for
  * python-blosc interop), so the artifact records OUR engine's
  * absolute MB/s on the geometry the reference targets; the fixture
  * generator is deterministic so the same run is reproducible
  * anywhere the reference can also run.
  *
  * Usage: runMain graft.ImagingBench [nSlices] [height] [width]
  * Prints one JSON line: raw bytes, fixture-gen, convert seconds,
  * MB/s (raw voxel bytes ÷ convert wall time).
  */
object ImagingBench {
  def main(args: Array[String]): Unit = {
    val nz = if (args.length > 0) args(0).toInt else 160
    val ny = if (args.length > 1) args(1).toInt else 1600
    val nx = if (args.length > 2) args(2).toInt else 2000
    val cpus = graft.core.Sessions.cpus()
    val spark = graft.core.Sessions.local(cpus)
    import spark.implicits._

    val root = Files.createTempDirectory("graft_imaging_bench")
    val stack = root.resolve("SmartSPIM/Ex_488_Em_525/400000/400000_500000")
    Files.createDirectories(stack)

    // deterministic gradient+hash slices, PNG-encoded in parallel —
    // one task per slice, same layout the reference's fixtures use
    val t0 = System.nanoTime()
    val stackStr = stack.toString
    spark.range(nz).repartition(cpus.toInt).foreach { zl =>
      val z = zl.toInt
      val raw = new Array[Byte](ny * nx * 2)
      var y = 0
      while (y < ny) {
        var x = 0
        var h = z * 0x9E3779B1 + y * 0x85EBCA77
        while (x < nx) {
          h = (h ^ (h >>> 13)) * 0xC2B2AE35 + x
          val v = ((z * 31 + y * 17 + x * 13) + (h & 0x3FF)) & 0xFFFF
          val off = (y * nx + x) * 2
          raw(off) = (v & 0xFF).toByte
          raw(off + 1) = ((v >> 8) & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      Files.write(Paths.get(stackStr, f"$z%06d.png"),
        ImageCodec.encodePng16(nx, ny, raw))
      ()
    }
    val genSec = (System.nanoTime() - t0) / 1e9

    val rawBytes = nz.toLong * ny * nx * 2
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt

    def del(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }

    // alternating v2/v3 passes, min per mode — interleaving cancels
    // the JIT-warmup bias a fixed order bakes into whichever runs first
    def convert(out: String, fmt: Int, grid: Option[Seq[Int]]): Double = {
      val t = System.nanoTime()
      SmartSpimJob.convertStack(spark, stack,
        JobSettings(inputSource = root.toString, outputDirectory = out,
          chunkSize = Seq(128, 128, 128), downsampleLevels = 4,
          zarrFormat = fmt, shardGrid = grid),
        Seq(2.0, 1.8, 1.8))
      (System.nanoTime() - t) / 1e9
    }
    // v3 `sharding_indexed` (2×2×2 chunks per shard) alongside v2: the
    // 100 TB object-store posture — ~8× fewer store objects for one
    // extra compressed-level shuffle.
    val out = root.resolve("out").toString
    val out3 = root.resolve("out3").toString
    var convSec = Double.MaxValue
    var convSec3 = Double.MaxValue
    for (p <- 0 until passes) {
      if (p > 0) { del(root.resolve("out")); del(root.resolve("out3")) }
      convSec = math.min(convSec, convert(out, 2, None))
      convSec3 = math.min(convSec3, convert(out3, 3, Some(Seq(2, 2, 2))))
    }

    // output volume actually written (all levels, compressed)
    def walkStats(dir: String): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val files = Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".")) // Hadoop local .crc sidecars
        .toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
    val (outObjects, outBytes) = walkStats(out)
    val (outObjects3, outBytes3) = walkStats(out3)
    val mbps = rawBytes / 1e6 / convSec
    val mbps3 = rawBytes / 1e6 / convSec3

    println(f"""{"metric":"imaging_mbps","value":$mbps%.1f,"unit":"MB/s","agg":"min-of-$passes","raw_bytes":$rawBytes,"out_bytes":$outBytes,"out_objects":$outObjects,"gen_sec":$genSec%.1f,"convert_sec":$convSec%.1f,"v3_sharded":{"mbps":$mbps3%.1f,"convert_sec":$convSec3%.1f,"out_bytes":$outBytes3,"out_objects":$outObjects3,"shard":"2,2,2"},"slices":$nz,"h":$ny,"w":$nx,"chunk":"128,128,128","levels":4,"codec":"blosc-zstd-3-shuffle"}""")

    del(root)
    spark.stop()
  }
}
