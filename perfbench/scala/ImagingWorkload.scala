package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.JobSettings
import graft.imaging.{BloscCodec, ImageCodec, SmartSpimJob, SmartSpimPipeline}

/** A conversion workload: the fixture, the store format and how many
  * sweeps of single-chunk reads over the whole store follow each
  * conversion. */
final case class ImagingSpec(fixture: FixtureSpec, format: Int,
    shard: Option[Seq[Int]], sweeps: Int) {
  val chunk: Seq[Int] = Seq(128, 128, 128)
  val levels = 4
  val voxelZyx: Seq[Double] = Seq(2.0, 1.8, 1.8)
}

/** Expected content of one stack, level by level, computed by the
  * benchmark alone: the generator's voxels and an independent
  * floor-mean (dtype-truncating 2x2x2 windowed mean, windows clamped at
  * the array edge). */
final class Expected(geom: StackGeom, r: Renderer, levels: Int) {
  val shapes: Seq[Seq[Int]] = Iterator.iterate(Seq(geom.nz, geom.ny, geom.nx))(
    _.map(s => (s + 1) / 2)).take(levels).toSeq
  lazy val data: Seq[Array[Char]] = {
    val l0 = r.volume()
    Iterator.iterate((l0, shapes.head)) { case (a, sh) =>
      (Expected.floorMean(a, sh), sh.map(s => (s + 1) / 2)) }
      .take(levels).map(_._1).toSeq
  }

  /** Logical (unpadded) voxels of one chunk, little-endian bytes. */
  def chunkBytes(level: Int, zc: Int, yc: Int, xc: Int, chunk: Seq[Int]): Array[Byte] = {
    val Seq(nz, ny, nx) = shapes(level)
    val Seq(cz, cy, cx) = chunk
    val z0 = zc * cz; val y0 = yc * cy; val x0 = xc * cx
    val dz = math.min(cz, nz - z0); val dy = math.min(cy, ny - y0); val dx = math.min(cx, nx - x0)
    val a = data(level)
    val out = new Array[Byte](dz * dy * dx * 2)
    var i = 0
    for (z <- 0 until dz; y <- 0 until dy) {
      var x = 0
      val base = ((z0 + z) * ny + (y0 + y)) * nx + x0
      while (x < dx) {
        val v = a(base + x)
        out(i) = (v & 0xFF).toByte; out(i + 1) = (v >> 8).toByte
        i += 2; x += 1
      }
    }
    out
  }

  def grid(level: Int, chunk: Seq[Int]): Seq[Int] =
    shapes(level).zip(chunk).map { case (s, c) => (s + c - 1) / c }
}

object Expected {
  def floorMean(a: Array[Char], sh: Seq[Int]): Array[Char] = {
    val Seq(nz, ny, nx) = sh
    val oz = (nz + 1) / 2; val oy = (ny + 1) / 2; val ox = (nx + 1) / 2
    val out = new Array[Char](oz * oy * ox)
    var z = 0
    while (z < oz) {
      var y = 0
      while (y < oy) {
        var x = 0
        while (x < ox) {
          var sum = 0L; var n = 0
          var iz = 2 * z
          while (iz < math.min(2 * z + 2, nz)) {
            var iy = 2 * y
            while (iy < math.min(2 * y + 2, ny)) {
              var ix = 2 * x
              while (ix < math.min(2 * x + 2, nx)) {
                sum += a((iz * ny + iy) * nx + ix); n += 1; ix += 1
              }
              iy += 1
            }
            iz += 1
          }
          out((z * oy + y) * ox + x) = (sum / n).toChar
          x += 1
        }
        y += 1
      }
      z += 1
    }
    out
  }

  def crc(b: Array[Byte]): Long = { val c = new CRC32(); c.update(b); c.getValue }
}

/** Drives `SmartSpimJob.runJob` on one fixture and checks what it wrote. */
final class ImagingWorkload(spec: ImagingSpec, root: Path, seed: Long) {
  private val fx = spec.fixture
  private val stackDirs = fx.stacks.map(g => root.resolve(g.relDir).toString)
  lazy val expected: Seq[Expected] = Fixtures.renderers(fx).zip(fx.stacks).map {
    case (r, g) => new Expected(g, r, spec.levels) }
  private val rnd = new java.util.SplittableRandom(seed ^ 0x5EED10CCL)

  def settings(out: Path): JobSettings = JobSettings(
    inputSource = root.toString, outputDirectory = out.toString,
    chunkSize = spec.chunk, downsampleLevels = spec.levels,
    zarrFormat = spec.format, shardGrid = spec.shard)

  def stores(out: Path): Seq[String] = stackDirs.map(SmartSpimJob.storeFor(out.toString, _))

  def rawMb: Double = fx.rawBytes / 1e6
  def level0Bytes: Long = fx.rawBytes

  /** The public entry point, timed. Returns the number of stacks. */
  def convert(spark: SparkSession, out: Path): Int =
    SmartSpimJob.runJob(spark, settings(out))

  private def level0(spark: SparkSession, out: Path) =
    stores(out).map(s => spark.read.format("zarr").load(s).where(col("level") === 0))
      .reduce(_ unionByName _)

  /** Level-0 read-back through the `zarr` DataSource: (chunks, bytes). */
  def readback(spark: SparkSession, out: Path): (Long, Long) = {
    val r = level0(spark, out).agg(count(lit(1)), sum(length(col("data")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Every chunk of every level of every stack, once, in a seeded order:
    * each sweep reads the same chunks, so the latency sample has the same
    * make-up for every seed. Keys are (stack, level, zc, yc, xc). */
  def sweep(): Seq[(Int, Int, Int, Int, Int)] = {
    val keys = for {
      s <- fx.stacks.indices
      level <- 0 until spec.levels
      g = expected(s).grid(level, spec.chunk)
      zc <- 0 until g(0); yc <- 0 until g(1); xc <- 0 until g(2)
    } yield (s, level, zc, yc, xc)
    new scala.util.Random(rnd.nextLong()).shuffle(keys)
  }

  /** One chunk through the DataSource with coordinate pushdown; the
    * CRC32 of its voxels. */
  def lookup(spark: SparkSession, out: Path, k: (Int, Int, Int, Int, Int)): Long = {
    val (s, level, zc, yc, xc) = k
    val rows = spark.read.format("zarr").load(stores(out)(s))
      .where(col("level") === level && col("zc") === zc && col("yc") === yc &&
        col("xc") === xc).select("data").collect()
    require(rows.length == 1, s"lookup $k returned ${rows.length} rows")
    Expected.crc(rows.head.getAs[Array[Byte]](0))
  }

  def lookupExpected(k: (Int, Int, Int, Int, Int)): Long = {
    val (s, level, zc, yc, xc) = k
    Expected.crc(expected(s).chunkBytes(level, zc, yc, xc, spec.chunk))
  }

  /** Stored objects (relative path -> (size, CRC32)). Blosc output is
    * deterministic, so every conversion of one fixture must match. */
  def manifest(out: Path): Map[String, (Long, Long)] =
    Files2.storeObjects(out).map { p =>
      val b = Files.readAllBytes(p)
      out.relativize(p).toString -> (b.length.toLong, Expected.crc(b))
    }.toMap

  // ------------------------------------------------------------ checks

  private def json(p: Path): JValue = JsonMethods.parse(Files.readString(p))

  private def ints(j: JValue): Seq[Int] = j match {
    case JArray(vs) => vs.collect { case JInt(i) => i.toInt }
    case _ => Nil
  }

  private def doubles(j: JValue): Seq[Double] = j match {
    case JArray(vs) => vs.collect {
      case JInt(i) => i.toDouble; case JDouble(d) => d; case JDecimal(d) => d.toDouble }
    case _ => Nil
  }

  /** OME-NGFF multiscales block: axes t,c,z,y,x, datasets 0..L-1, and
    * per-level scale = voxel size x 2^level. */
  private def checkMultiscales(ms: JValue, where: String, bad: String => Unit): Unit = {
    val m = ms match { case JArray(h :: _) => h; case _ => bad(s"$where: no multiscales"); return }
    val axes = (m \ "axes") match {
      case JArray(as) => as.map(a => (a \ "name") match { case JString(n) => n; case _ => "?" })
      case _ => Nil
    }
    if (axes != List("t", "c", "z", "y", "x")) bad(s"$where: axes $axes")
    val ds = (m \ "datasets") match { case JArray(d) => d; case _ => Nil }
    if (ds.size != spec.levels) bad(s"$where: ${ds.size} datasets")
    ds.zipWithIndex.foreach { case (d, i) =>
      if ((d \ "path") != JString(i.toString)) bad(s"$where: dataset $i path")
      val scale = (d \ "coordinateTransformations") match {
        case JArray(ts) => ts.find(t => (t \ "type") == JString("scale"))
          .map(t => doubles(t \ "scale")).getOrElse(Nil)
        case _ => Nil
      }
      val want = Seq(1.0, 1.0) ++ spec.voxelZyx.map(_ * math.pow(2, i))
      if (scale.size != 5 || scale.zip(want).exists { case (a, b) => math.abs(a - b) > 1e-9 })
        bad(s"$where: level $i scale $scale")
    }
  }

  private def checkMetadata(out: Path, bad: String => Unit): Unit = {
    val deriv = out.resolve("derivatives/processing.json")
    if (!Files.isRegularFile(deriv) ||
        Files.readString(deriv) != Files.readString(root.resolve("derivatives/processing.json")))
      bad("derivatives not copied")
    stores(out).zip(expected).foreach { case (s, e) =>
      val st = Path.of(s)
      try {
        if (spec.format == 2) {
          if ((json(st.resolve(".zgroup")) \ "zarr_format") != JInt(2)) bad(s"$s: .zgroup")
          val attrs = json(st.resolve(".zattrs"))
          checkMultiscales(attrs \ "multiscales", s, bad)
          if ((attrs \ "multiscales")(0) \ "version" != JString("0.4")) bad(s"$s: version")
          if ((attrs \ "omero") == JNothing) bad(s"$s: omero")
          for (l <- 0 until spec.levels) {
            val za = json(st.resolve(s"$l/.zarray"))
            if (ints(za \ "shape") != Seq(1, 1) ++ e.shapes(l)) bad(s"$s/$l: shape")
            if (ints(za \ "chunks") != Seq(1, 1) ++ spec.chunk) bad(s"$s/$l: chunks")
            if ((za \ "dtype") != JString("<u2")) bad(s"$s/$l: dtype")
            if ((za \ "compressor" \ "cname") != JString("zstd")) bad(s"$s/$l: cname")
          }
        } else {
          val g = json(st.resolve("zarr.json"))
          if ((g \ "node_type") != JString("group")) bad(s"$s: node_type")
          val ome = g \ "attributes" \ "ome"
          if ((ome \ "version") != JString("0.5")) bad(s"$s: ome version")
          checkMultiscales(ome \ "multiscales", s, bad)
          for (l <- 0 until spec.levels) {
            val za = json(st.resolve(s"$l/zarr.json"))
            if (ints(za \ "shape") != Seq(1, 1) ++ e.shapes(l)) bad(s"$s/$l: shape")
            if ((za \ "data_type") != JString("uint16")) bad(s"$s/$l: data_type")
            val codec = (za \ "codecs")(0)
            spec.shard.foreach { g3 =>
              if ((codec \ "name") != JString("sharding_indexed")) bad(s"$s/$l: not sharded")
              if (ints(codec \ "configuration" \ "chunk_shape") != Seq(1, 1) ++ spec.chunk)
                bad(s"$s/$l: inner chunk")
              if (ints(za \ "chunk_grid" \ "configuration" \ "chunk_shape") !=
                  Seq(1, 1) ++ spec.chunk.zip(g3).map { case (c, n) => c * n })
                bad(s"$s/$l: shard shape")
            }
          }
        }
      } catch { case t: Throwable => bad(s"$s: metadata unreadable: $t") }
    }
  }

  /** Stored payload of one chunk, read without the engine's reader:
    * the v2 chunk file, or the slot of the v3 shard named by the
    * shard's trailing (offset, nbytes) index. None if absent. */
  private def storedChunk(store: Path, level: Int, zc: Int, yc: Int, xc: Int): Option[Array[Byte]] =
    spec.shard match {
      case None =>
        val p = if (spec.format == 2) store.resolve(s"$level/0/0/$zc/$yc/$xc")
                else store.resolve(s"$level/c/0/0/$zc/$yc/$xc")
        if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
      case Some(g) =>
        val Seq(gz, gy, gx) = g
        val p = store.resolve(s"$level/c/0/0/${zc / gz}/${yc / gy}/${xc / gx}")
        if (!Files.exists(p)) return None
        val b = Files.readAllBytes(p)
        val slots = gz * gy * gx
        val idx = b.length - 4 - 16 * slots
        val slot = ((zc % gz) * gy + (yc % gy)) * gx + (xc % gx)
        val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val off = bb.getLong(idx + 16 * slot); val n = bb.getLong(idx + 16 * slot + 8)
        if (off < 0) None else Some(java.util.Arrays.copyOfRange(b, off.toInt, (off + n).toInt))
    }

  /** Every voxel of every level against [[Expected]], plus metadata.
    * Returns the problems found (empty when the store is right). */
  def check(out: Path, threads: Int): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def bad(s: String): Unit = problems.synchronized { if (problems.size < 10) problems += s }
    checkMetadata(out, bad)
    val Seq(cz, cy, cx) = spec.chunk
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      stores(out).zip(expected).foreach { case (s, e) =>
        val store = Path.of(s)
        val futs = for {
          l <- 0 until spec.levels
          g = e.grid(l, spec.chunk)
          zc <- 0 until g(0); yc <- 0 until g(1); xc <- 0 until g(2)
        } yield pool.submit(new Runnable { def run(): Unit = {
          try storedChunk(store, l, zc, yc, xc) match {
            case None => bad(s"$s level $l chunk ($zc,$yc,$xc) missing")
            case Some(raw) =>
              val full = BloscCodec.decompress(raw)
              if (full.length != cz * cy * cx * 2)
                bad(s"$s level $l chunk ($zc,$yc,$xc) size ${full.length}")
              else {
                val want = e.chunkBytes(l, zc, yc, xc, spec.chunk)
                val Seq(nz, ny, nx) = e.shapes(l)
                val dy = math.min(cy, ny - yc * cy); val dx = math.min(cx, nx - xc * cx)
                val dz = math.min(cz, nz - zc * cz)
                var ok = true
                var z = 0
                while (ok && z < dz) {
                  var y = 0
                  while (ok && y < dy) {
                    ok = java.util.Arrays.equals(full, ((z * cy + y) * cx) * 2,
                      ((z * cy + y) * cx + dx) * 2, want, ((z * dy + y) * dx) * 2,
                      ((z * dy + y) * dx + dx) * 2)
                    y += 1
                  }
                  z += 1
                }
                if (!ok) bad(s"$s level $l chunk ($zc,$yc,$xc) voxels differ")
              }
          } catch { case t: Throwable => bad(s"$s level $l chunk ($zc,$yc,$xc): $t") }
        }})
        futs.foreach(_.get())
      }
    } finally pool.shutdown()
    problems.toSeq
  }

  /** Flip bytes in the middle of one stored object (fault injection for
    * the benchmark's own tests). */
  def corruptOneChunk(out: Path): Unit = {
    val victim = Files2.storeObjects(out).filter { p =>
      val n = p.getFileName.toString
      n.forall(_.isDigit) && Files.size(p) > 64
    }.head
    val b = Files.readAllBytes(victim)
    var i = b.length / 2
    while (i < math.min(b.length, b.length / 2 + 32)) { b(i) = (b(i) ^ 0x5A).toByte; i += 1 }
    Files.write(victim, b)
  }

  // ------------------------------------------------- traced staged pass

  /** Each layer called on its own, with an action after it: one span
    * per layer. Returns (layer -> (seconds, spark shuffle bytes, spill)). */
  def staged(spark: SparkSession, out: Path, rec: SpanRecorder,
      l: BenchListener): mutable.LinkedHashMap[String, (Double, Long, Long)] = {
    val res = mutable.LinkedHashMap.empty[String, (Double, Long, Long)]
    val persisted = mutable.ArrayBuffer.empty[Dataset[_]]
    def layer[A](name: String)(body: => A): A = {
      val r = rec.span(name)(body)
      Trace.drain(spark.sparkContext)
      val s = rec.spans.last
      Trace.attachJobs(rec, l, s)
      val e = Trace.engine(l, l.jobsIn(s.start, s.end))
      res(name) = (s.dur, e.shuffleWrite, e.spill)
      r
    }
    def keep[T](ds: Dataset[T]): Dataset[T] = {
      persisted += ds; ds.persist(StorageLevel.MEMORY_AND_DISK)
    }
    val shard = spec.shard
    def parts(shapes: Seq[Seq[Int]]): Option[Int] = shard.map { g =>
      SmartSpimPipeline.colocatedParts(spark, shapes.map(sh =>
        sh.lazyZip(spec.chunk).lazyZip(g).map { (s, c, n) =>
          (((s + c - 1) / c + n - 1) / n).toLong }.product).sum)
    }
    def storeOf(o: String): String => String = SmartSpimJob.storeFor(o, _)
    val o = out.toString
    def write(ds: Dataset[SmartSpimPipeline.ChunkRow], level: Int): Unit =
      layer(s"write.L$level") {
        SmartSpimPipeline.writeLevelBy(ds, storeOf(o), level, spec.chunk, 3, true, true,
          "zstd", spec.format, shard, colocated = shard.isDefined)
      }
    try {
      val sl = layer("decode") {
        val d = keep(SmartSpimPipeline.slices(spark, stackDirs, fx.ext)); d.count(); d }
      var shapes = expected.map(_.shapes.head)
      var cur = layer("rechunk") {
        val c = keep(SmartSpimPipeline.rechunk(sl, spec.chunk, shard, parts(shapes)))
        c.count(); c }
      write(cur, 0)
      for (lv <- 1 until spec.levels) {
        shapes = expected.map(_.shapes(lv))
        val prev = cur
        cur = layer(s"pyramid.L$lv") {
          val n = keep(SmartSpimPipeline.downsampleLevel(prev, spec.chunk, Seq(2, 2, 2),
            shard, parts(shapes)))
          n.count(); n }
        write(cur, lv)
      }
    } finally persisted.foreach(_.unpersist(blocking = true))
    res
  }

  // ------------------------------------------------ single-thread kernels

  private def kernelMbps(bytes: Long)(body: => Unit): Double = {
    body // warm
    var n = 0; val t0 = System.nanoTime()
    while (n < 3 || Stats.secondsSince(t0) < 0.3) { body; n += 1 }
    bytes * n / 1e6 / Stats.secondsSince(t0)
  }

  /** (decode MB/s, windowed-mean MB/s, compress MB/s, decompress MB/s,
    * blosc ratio) on this workload's own slices and chunks. */
  def kernels(): (Double, Double, Double, Double, Double) = {
    val g = fx.stacks.head
    val files = (0 until math.min(8, g.nz)).map(z =>
      Files.readAllBytes(root.resolve(g.relDir).resolve(f"$z%06d.${fx.ext}")))
    val decode = kernelMbps(files.size.toLong * g.ny * g.nx * 2)(
      files.foreach(ImageCodec.decode))
    val e = expected.head
    val gr = e.grid(0, spec.chunk)
    val Seq(cz, cy, cx) = spec.chunk
    val chunks = (for (zc <- 0 until gr(0); yc <- 0 until gr(1); xc <- 0 until gr(2))
      yield (zc, yc, xc)).take(4).map { case (zc, yc, xc) =>
      val logical = e.chunkBytes(0, zc, yc, xc, spec.chunk)
      val Seq(nz, ny, nx) = e.shapes.head
      val dz = math.min(cz, nz - zc * cz); val dy = math.min(cy, ny - yc * cy)
      val dx = math.min(cx, nx - xc * cx)
      val full = new Array[Byte](cz * cy * cx * 2)
      for (z <- 0 until dz; y <- 0 until dy)
        System.arraycopy(logical, ((z * dy + y) * dx) * 2, full, ((z * cy + y) * cx) * 2, dx * 2)
      (dz, dy, dx, logical, full)
    }
    val logicalBytes = chunks.map(_._4.length.toLong).sum
    val fullBytes = chunks.map(_._5.length.toLong).sum
    val wm = kernelMbps(logicalBytes)(chunks.foreach { case (dz, dy, dx, lg, _) =>
      SmartSpimPipeline.windowedMean(dz, dy, dx, lg, Seq(2, 2, 2)) })
    val comp = chunks.map(c => BloscCodec.compress(c._5, 2, 3, true, "zstd"))
    val cm = kernelMbps(fullBytes)(chunks.foreach(c => BloscCodec.compress(c._5, 2, 3, true, "zstd")))
    val dm = kernelMbps(fullBytes)(comp.foreach(BloscCodec.decompress))
    (decode, wm, cm, dm, fullBytes.toDouble / comp.map(_.length.toLong).sum)
  }
}
