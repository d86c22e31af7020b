package graft.imaging

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import graft.{SparkSessionTestWrapper, TempDirs}
import graft.core.{JobRecorder, JobSettings}

/** End-to-end conversion of a synthesized SmartSPIM fixture
  * (reference tests/test_integration.py layout, but with golden-output
  * voxel comparison, which the reference lacks — SURVEY.md §5).
  */
class PipelineE2ESpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  // deliberately non-divisible dims: Z=5, Y=70, X=96 with 32³ chunks
  private val NZ = 5; private val NY = 70; private val NX = 96
  private val CHUNK = Seq(32, 32, 32)

  private def voxel(z: Int, y: Int, x: Int): Int = (z * 10007 + y * 101 + x) % 65536

  /** In-test independent reference: dtype-preserving 2× windowed mean. */
  private def downsampleRef(src: Array[Short], nz: Int, ny: Int, nx: Int)
      : (Array[Short], Int, Int, Int) = {
    val oz = (nz + 1) / 2; val oy = (ny + 1) / 2; val ox = (nx + 1) / 2
    val out = new Array[Short](oz * oy * ox)
    for (z <- 0 until oz; y <- 0 until oy; x <- 0 until ox) {
      var sum = 0L; var n = 0
      for (iz <- z * 2 until math.min(z * 2 + 2, nz);
           iy <- y * 2 until math.min(y * 2 + 2, ny);
           ix <- x * 2 until math.min(x * 2 + 2, nx)) {
        sum += src((iz * ny + iy) * nx + ix) & 0xFFFF
        n += 1
      }
      out((z * oy + y) * ox + x) = (sum / n).toShort
    }
    (out, oz, oy, ox)
  }

  private def writeFixture(root: java.nio.file.Path): java.nio.file.Path = {
    SyntheticStack.write(root.resolve("SmartSPIM/Ex_445_Em_469/440000/440000_460000"),
      NZ, NY, NX)(voxel)
  }

  test("stack → OME-Zarr pyramid is voxel-exact at every level") {
    val root = tempDir("graft-e2e")
    val stack = writeFixture(root)
    val out = root.resolve("out")
    val settings = JobSettings(
      inputSource = root.toString, outputDirectory = out.toString,
      chunkSize = CHUNK, downsampleLevels = 3)
    SmartSpimJob.convertStack(spark, stack, settings, Seq(2.0, 1.8, 1.8))

    val store = out.resolve("Ex_445_Em_469/440000_460000.ome.zarr").toString

    // level 0: exact source voxels
    val lvl0 = SmartSpimPipeline.readLevel(store, 0, Seq(NZ, NY, NX), CHUNK, compressed = true)
    for (z <- 0 until NZ; y <- 0 until NY; x <- 0 until NX)
      assert((lvl0((z * NY + y) * NX + x) & 0xFFFF) == voxel(z, y, x),
        s"level0 mismatch at ($z,$y,$x)")

    // level 1 and 2: windowed-mean goldens from the independent impl
    val (exp1, z1, y1, x1) = downsampleRef(lvl0, NZ, NY, NX)
    val lvl1 = SmartSpimPipeline.readLevel(store, 1, Seq(z1, y1, x1), CHUNK, compressed = true)
    assert(lvl1.sameElements(exp1), "level1 voxels differ from windowed-mean golden")

    val (exp2, z2, y2, x2) = downsampleRef(exp1, z1, y1, x1)
    val lvl2 = SmartSpimPipeline.readLevel(store, 2, Seq(z2, y2, x2), CHUNK, compressed = true)
    assert(lvl2.sameElements(exp2), "level2 voxels differ from windowed-mean golden")

    // metadata: .zarray / .zattrs / .zgroup
    val zarray = new String(Files.readAllBytes(Paths.get(store, "0", ".zarray")))
    assert(zarray.contains("\"dtype\" : \"<u2\"") || zarray.contains("\"dtype\":\"<u2\""))
    assert(zarray.contains("zstd"))
    val zattrs = new String(Files.readAllBytes(Paths.get(store, ".zattrs")))
    assert(zattrs.contains("multiscales") && zattrs.contains("omero"))
    // Em_469 → band < 470 → 0x3F2EFE (png_to_zarr.py:397-436)
    assert(zattrs.contains("3f2efe"))
    // level-1 z scale = 2.0 * 2 = 4.0
    assert(zattrs.contains("4.0"))
    assert(Files.exists(Paths.get(store, ".zgroup")))
  }

  test("pooled multi-stack conversion matches per-stack conversion byte-for-byte") {
    def writeStack(root: java.nio.file.Path, channel: String, col: String,
        row: String, seed: Int): java.nio.file.Path =
      SyntheticStack.write(root.resolve(s"SmartSPIM/$channel/$col/${col}_$row"),
        NZ, NY, NX)((z, y, x) => (voxel(z, y, x) + seed * 977) % 65536)
    val root = tempDir("graft-e2e-pooled")
    val stacks = Seq(
      writeStack(root, "Ex_445_Em_469", "440000", "460000", 1),
      writeStack(root, "Ex_445_Em_469", "440000", "480000", 2),
      writeStack(root, "Ex_561_Em_600", "440000", "460000", 3))
    val outPooled = root.resolve("pooled"); val outSingle = root.resolve("single")
    def settingsFor(out: java.nio.file.Path) = JobSettings(
      inputSource = root.toString, outputDirectory = out.toString,
      chunkSize = CHUNK, downsampleLevels = 2)
    SmartSpimJob.convertStacks(spark, stacks, settingsFor(outPooled), Seq(2.0, 1.8, 1.8))
    stacks.foreach(s =>
      SmartSpimJob.convertStack(spark, s, settingsFor(outSingle), Seq(2.0, 1.8, 1.8)))
    // every file in the single-stack output exists identically in pooled
    import scala.jdk.CollectionConverters._
    val files = Files.walk(outSingle).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val rel = outSingle.relativize(f)
      val g = outPooled.resolve(rel)
      assert(Files.exists(g), s"pooled output missing $rel")
      assert(java.util.Arrays.equals(Files.readAllBytes(f), Files.readAllBytes(g)),
        s"pooled output differs at $rel")
    }
  }

  test("wave-bounded write produces the same store as the single-job write") {
    import graft.SparkSessionTestWrapper.spark.implicits._
    val root = tempDir("graft-e2e-waves")
    val stack = writeFixture(root)
    val chunks = SmartSpimPipeline.rechunk(
      SmartSpimPipeline.slices(spark, stack.toString, "png"), CHUNK)
      .persist()
    val single = root.resolve("single").toString
    val waves = root.resolve("waves").toString
    SmartSpimPipeline.writeLevel(chunks, single, 0, CHUNK, 3,
      byteShuffle = true, compressed = true)
    // tiny target → multiple waves even on the small fixture
    SmartSpimPipeline.writeLevelInWaves(chunks, _ => waves, 0, CHUNK, 3,
      byteShuffle = true, compressed = true, Seq(NZ, NY, NX), targetSizeMb = 1)
    chunks.unpersist()
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(single)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val rel = Paths.get(single).relativize(f)
      val g = Paths.get(waves).resolve(rel)
      assert(Files.exists(g), s"wave write missing $rel")
      assert(java.util.Arrays.equals(Files.readAllBytes(f), Files.readAllBytes(g)),
        s"wave write differs at $rel")
    }
  }

  test("slices: numeric zero-padded names use the filename-z fast path (no join)") {
    val root = tempDir("graft-zfast")
    val stack = writeFixture(root) // %06d.png names, 0-based contiguous
    val ds = SmartSpimPipeline.slices(spark, stack.toString, "png")
    // plan must contain no join at all: z comes from the filename
    val p = ds.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join"), "fast path must not join a z-map")
    // and z must still equal the alphabetical rank
    val zs = ds.collect().map(s => s.z -> s.data(0)).toMap
    assert(zs.keySet == (0 until NZ).toSet)
  }

  test("slices: non-numeric / mixed-width names fall back to alphabetical rank") {
    // mixed widths: "0.png".."10.png" — alphabetical order is
    // 0,1,10,2,..,9, which IS the reference's glob order; numeric parse
    // would disagree, so the checker must reject the fast path.
    val root = tempDir("graft-zslow")
    val stack = root.resolve("s")
    Files.createDirectories(stack)
    val n = 11
    for (z <- 0 until n) {
      val px = new Array[Byte](4 * 4 * 2)
      px(0) = z.toByte // marker voxel identifies the source file
      Files.write(stack.resolve(s"$z.png"), ImageCodec.encodePng16(4, 4, px))
    }
    val ds = SmartSpimPipeline.slices(spark, stack.toString, "png")
    val byZ = ds.collect().map(s => s.z -> (s.data(0) & 0xFF)).toMap
    val expected = (0 until n).map(_.toString).sorted // alphabetical file order
      .zipWithIndex.map { case (name, rank) => rank -> name.toInt }.toMap
    assert(byZ == expected, "fallback z must be the alphabetical rank")
  }

  test("slices: a gap, a stack starting at 1 or one non-conforming stack fall back to rank") {
    // each slice marks its alphabetical rank within its stack in voxel 0
    def stack(dir: Path, stems: Seq[String]): Path = {
      Files.createDirectories(dir)
      for ((stem, rank) <- stems.sorted.zipWithIndex) {
        val px = new Array[Byte](4 * 4 * 2)
        px(0) = rank.toByte
        Files.write(dir.resolve(s"$stem.png"), ImageCodec.encodePng16(4, 4, px))
      }
      dir
    }
    val root = tempDir("graft-zrank")
    val cases = Seq(
      "gap" -> Seq(stack(root.resolve("gap/s"), Seq("0", "1", "3"))),
      "from 1" -> Seq(stack(root.resolve("from1/s"), Seq("001", "002", "003"))),
      "one of two" -> Seq(stack(root.resolve("two/ok"), Seq("0", "1", "2")),
        stack(root.resolve("two/bad"), Seq("0", "2", "4"))))
    for ((name, dirs) <- cases) {
      val rows = SmartSpimPipeline.slices(spark, dirs.map(_.toString), "png").collect()
      assert(rows.length == dirs.size * 3, name)
      rows.foreach(r => assert(r.z == r.data(0), s"$name: z must be the alphabetical rank"))
    }
  }

  test("slices: files outside the extension glob do not defeat the filename-z fast path") {
    val root = tempDir("graft-zglob")
    val stack = writeFixture(root)
    Files.writeString(stack.resolve("notes.txt"), "not a slice")
    val ds = SmartSpimPipeline.slices(spark, stack.toString, "png")
    val p = ds.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join"), "a non-png file must not force the rank join")
    assert(ds.collect().map(_.z).sorted.toSeq == (0 until NZ))
  }

  test("conversion job shape: at most levels + 1 Spark jobs and no level cached") {
    val root = tempDir("graft-e2e-shape")
    val stack = writeFixture(root)
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    // the filename-z check is made where the reader is built: no job
    // runs there, so none can start before the decode stage
    val (_, readerJobs) = JobRecorder.during(sc)(
      SmartSpimPipeline.slices(spark, stack.toString, "png"))
    assert(readerJobs.isEmpty, s"building the reader ran jobs: $readerJobs")
    val levels = 3
    val (_, jobs) = JobRecorder.during(sc)(SmartSpimJob.convertStack(spark, stack,
      JobSettings(inputSource = root.toString, outputDirectory = root.resolve("out").toString,
        chunkSize = CHUNK, downsampleLevels = levels), Seq(2.0, 1.8, 1.8)))
    assert(jobs.size <= levels + 1, s"${jobs.size} jobs: $jobs")
    assert(spark.sharedState.cacheManager.isEmpty, "a level was left in the cache")
    assert(sc.getPersistentRDDs.keySet == persisted, "a level RDD was left persisted")
  }

  test("TIFF stack converts end-to-end voxel-exact (F2/S2 tif path)") {
    val root = tempDir("graft-e2e-tiff")
    val stack = root.resolve("SmartSPIM/Ex_445_Em_469/440000/440000_460000")
    Files.createDirectories(stack)
    val (nz, ny, nx) = (3, 40, 48)
    for (z <- 0 until nz) {
      val img = new java.awt.image.BufferedImage(nx, ny,
        java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
      for (y <- 0 until ny; x <- 0 until nx)
        img.getRaster.setSample(x, y, 0, voxel(z, y, x))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "TIFF", bos))
      Files.write(stack.resolve(f"$z%06d.tif"), bos.toByteArray)
    }
    val out = root.resolve("out")
    SmartSpimJob.convertStack(spark, stack, JobSettings(
      inputSource = root.toString, outputDirectory = out.toString,
      chunkSize = CHUNK, downsampleLevels = 1), Seq(2.0, 1.8, 1.8))
    val store = out.resolve("Ex_445_Em_469/440000_460000.ome.zarr").toString
    val lvl0 = SmartSpimPipeline.readLevel(store, 0, Seq(nz, ny, nx), CHUNK, compressed = true)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      assert((lvl0((z * ny + y) * nx + x) & 0xFFFF) == voxel(z, y, x),
        s"tiff voxel mismatch at ($z,$y,$x)")
  }

  test("uncompressed store (compressor none) also round-trips") {
    val root = tempDir("graft-e2e-raw")
    val stack = writeFixture(root)
    val out = root.resolve("out")
    val settings = JobSettings(
      inputSource = root.toString, outputDirectory = out.toString,
      compressorName = "none", chunkSize = CHUNK, downsampleLevels = 1)
    SmartSpimJob.convertStack(spark, stack, settings, Seq(2.0, 1.8, 1.8))
    val store = out.resolve("Ex_445_Em_469/440000_460000.ome.zarr").toString
    val lvl0 = SmartSpimPipeline.readLevel(store, 0, Seq(NZ, NY, NX), CHUNK, compressed = false)
    for (z <- 0 until NZ; y <- 0 until NY; x <- 0 until NX)
      assert((lvl0((z * NY + y) * NX + x) & 0xFFFF) == voxel(z, y, x))
  }
}
