package perfbench

import java.awt.image.{BufferedImage, DataBufferUShort}
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import javax.imageio.ImageIO

import scala.jdk.CollectionConverters._

/** One stack of the fixture: channel dir, tile index and voxel shape. */
final case class StackGeom(channel: String, tile: Int, nz: Int, ny: Int, nx: Int) {
  def col: Int = 400000 + 20000 * tile
  def relDir: String = s"SmartSPIM/$channel/$col/${col}_500000"
  def voxels: Long = nz.toLong * ny * nx
}

/** A seeded SmartSPIM acquisition: every stack's slices in one format
  * (`png` or `tif`), plus `acquisition.json` and `derivatives/`, laid out
  * so that `SmartSpimJob.runJob` takes its real path. */
final case class FixtureSpec(name: String, ext: String, stacks: Seq[StackGeom], seed: Long) {
  def key: String = {
    val g = stacks.map(s => s"${s.nz}x${s.ny}x${s.nx}").distinct.mkString("_")
    val layout = Integer.toHexString(stacks.map(_.relDir).mkString(",").hashCode)
    s"$name-$ext-${stacks.size}st-$g-$layout-s$seed"
  }
  def rawBytes: Long = stacks.map(_.voxels * 2).sum
}

/** Light-sheet-like content, a pure function of (seed, stack, z, y, x):
  * a dim illumination gradient, sparse bright anisotropic blobs (nuclei)
  * and shot noise whose spread grows with the signal. Any slice can be
  * rendered on its own, so the output checks regenerate exactly what the
  * fixture files hold without reading them back. */
final class Renderer(seed: Long, stackIndex: Int, g: StackGeom) {
  private val rnd = new java.util.SplittableRandom(seed * 1000003L + stackIndex)
  private val n = math.max(8L, g.voxels / 40000L).toInt
  private val cz = Array.fill(n)(rnd.nextDouble() * g.nz)
  private val cy = Array.fill(n)(rnd.nextDouble() * g.ny)
  private val cx = Array.fill(n)(rnd.nextDouble() * g.nx)
  private val rr = Array.fill(n)(2.5 + rnd.nextDouble() * 4.5)
  private val peak = Array.fill(n)(1000.0 + rnd.nextDouble() * 11000.0)
  private val salt = seed * 0x9E3779B97F4A7C15L + stackIndex * 0xBF58476D1CE4E5B9L
  // blobs reaching slice z, bucketed once
  private val byZ: Array[Array[Int]] = {
    val b = Array.fill(g.nz)(Array.newBuilder[Int])
    for (i <- 0 until n) {
      val rz = rr(i) * 0.6
      val z0 = math.max(0, math.floor(cz(i) - rz).toInt)
      val z1 = math.min(g.nz - 1, math.ceil(cz(i) + rz).toInt)
      var z = z0
      while (z <= z1) { b(z) += i; z += 1 }
    }
    b.map(_.result())
  }

  private def mix(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Row-major (y, x) uint16 values of slice z. */
  def slice(z: Int): Array[Char] = {
    val ny = g.ny; val nx = g.nx
    val sig = new Array[Double](ny * nx)
    var y = 0
    while (y < ny) {
      var x = 0
      val row = y * nx
      while (x < nx) { sig(row + x) = 90.0 + 30.0 * x / nx + 20.0 * y / ny; x += 1 }
      y += 1
    }
    byZ(z).foreach { i =>
      val r = rr(i); val rz = r * 0.6
      val dz = (z - cz(i)) / rz
      val rem = 1.0 - dz * dz
      if (rem > 0) {
        val rxy = r * math.sqrt(rem)
        val y0 = math.max(0, math.floor(cy(i) - rxy).toInt)
        val y1 = math.min(ny - 1, math.ceil(cy(i) + rxy).toInt)
        val x0 = math.max(0, math.floor(cx(i) - rxy).toInt)
        val x1 = math.min(nx - 1, math.ceil(cx(i) + rxy).toInt)
        var yy = y0
        while (yy <= y1) {
          var xx = x0
          while (xx <= x1) {
            val d = ((yy - cy(i)) * (yy - cy(i)) + (xx - cx(i)) * (xx - cx(i))) / (r * r) +
              dz * dz
            if (d < 1.0) sig(yy * nx + xx) += peak(i) * (1.0 - d) * (1.0 - d)
            xx += 1
          }
          yy += 1
        }
      }
    }
    val out = new Array[Char](ny * nx)
    val base = salt + z.toLong * ny * nx
    var k = 0
    while (k < out.length) {
      val h = mix(base + k)
      // sum of four uniforms ~ unit-variance noise after scaling
      val u = ((h & 0xFFFF) + ((h >>> 16) & 0xFFFF) + ((h >>> 32) & 0xFFFF) +
        ((h >>> 48) & 0xFFFF)) / 65536.0 - 2.0
      val s = sig(k)
      val v = math.round(s + u * 1.7320508 * math.sqrt(s))
      out(k) = math.max(0L, math.min(65535L, v)).toChar
      k += 1
    }
    out
  }

  def volume(): Array[Char] = {
    val plane = g.ny * g.nx
    val out = new Array[Char](g.nz * plane)
    for (z <- 0 until g.nz) System.arraycopy(slice(z), 0, out, z * plane, plane)
    out
  }
}

object Fixtures {
  private val keep = 4 // fixtures kept on disk, most recently used first

  def renderers(spec: FixtureSpec): Seq[Renderer] =
    spec.stacks.zipWithIndex.map { case (g, i) => new Renderer(spec.seed, i, g) }

  def encode(ext: String, g: StackGeom, px: Array[Char]): Array[Byte] = {
    val img = new BufferedImage(g.nx, g.ny, BufferedImage.TYPE_USHORT_GRAY)
    val buf = img.getRaster.getDataBuffer.asInstanceOf[DataBufferUShort].getData
    var i = 0
    while (i < px.length) { buf(i) = px(i).toShort; i += 1 }
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, if (ext == "png") "png" else "tiff", bos),
      s"no ImageIO writer for $ext")
    bos.toByteArray
  }

  private val acquisition =
    """{"tiles": [{"file_name": "tile_0",
      |  "coordinate_transformations": [
      |    {"type": "translation", "translation": ["0", "0", "0"]},
      |    {"type": "scale", "scale": ["1.8", "1.8", "2.0"]}]}]}""".stripMargin

  /** Input root of `spec` under `work/fixtures`, generated on first use.
    * Returns (root, generation seconds; 0 when the cached copy served). */
  def materialize(spec: FixtureSpec, work: Path, threads: Int): (Path, Double) = {
    val dir = work.resolve("fixtures")
    val root = dir.resolve(spec.key)
    val done = root.resolve("DONE")
    if (Files.exists(done)) {
      Files.setLastModifiedTime(done, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis()))
      return (root, 0.0)
    }
    Files2.deleteTree(root)
    val t0 = System.nanoTime()
    Files.createDirectories(root.resolve("derivatives"))
    Files.writeString(root.resolve("acquisition.json"), acquisition)
    Files.writeString(root.resolve("derivatives/processing.json"),
      s"""{"fixture": "${spec.key}", "seed": ${spec.seed}}""")
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = renderers(spec).zip(spec.stacks).flatMap { case (r, g) =>
        val sd = root.resolve(g.relDir)
        Files.createDirectories(sd)
        (0 until g.nz).map { z =>
          pool.submit(new Runnable {
            def run(): Unit =
              Files.write(sd.resolve(f"$z%06d.${spec.ext}"), encode(spec.ext, g, r.slice(z)))
          })
        }
      }
      tasks.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    Files.writeString(done, "ok")
    evict(dir, root)
    (root, Stats.secondsSince(t0))
  }

  private def evict(dir: Path, current: Path): Unit = {
    val s = Files.list(dir)
    val all = try s.iterator().asScala.toSeq finally s.close()
    def used(p: Path): Long = {
      val d = p.resolve("DONE")
      if (Files.exists(d)) Files.getLastModifiedTime(d).toMillis else 0L
    }
    all.filter(_ != current).sortBy(p => -used(p)).drop(keep - 1)
      .foreach(Files2.deleteTree)
  }
}
