package graft.imaging

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import graft.{SparkSessionTestWrapper, TempDirs}
import graft.core.JobSettings

/** Job-level semantics (reference tests/test_smartspim_job.py):
  * discovery order, sharding, voxel-resolution parse, error paths. */
class SmartSpimJobSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  private val acquisitionJson =
    """{
      |  "tiles": [
      |    {
      |      "file_name": "Ex_445_Em_469/440000/440000_460000",
      |      "coordinate_transformations": [
      |        {"type": "translation", "translation": ["0", "0", "0"]},
      |        {"type": "scale", "scale": ["1.8", "1.8", "2.0"]}
      |      ]
      |    }
      |  ]
      |}""".stripMargin

  private def mkFixture(channels: Seq[String], stacksPerChannel: Int): Path = {
    val root = tempDir("graft-job")
    Files.writeString(root.resolve("acquisition.json"), acquisitionJson)
    Files.createDirectories(root.resolve("derivatives"))
    Files.writeString(root.resolve("derivatives/metadata.json"), """{"session": 1}""")
    for (ch <- channels; i <- 0 until stacksPerChannel) {
      val stack = root.resolve(s"SmartSPIM/$ch/${440000 + i}/${440000 + i}_460000")
      Files.createDirectories(stack)
      for (z <- 0 until 2) {
        val px = Array.tabulate(16 * 16 * 2)(k => ((k + z) % 251).toByte)
        Files.write(stack.resolve(f"$z%06d.png"), ImageCodec.encodePng16(16, 16, px))
      }
    }
    root
  }

  test("discoverStacks walks 3 levels and sorts deterministically") {
    val root = mkFixture(Seq("Ex_488_Em_525", "Ex_445_Em_469"), 2)
    val stacks = SmartSpimJob.discoverStacks(root.toString)
    assert(stacks.size == 4)
    assert(stacks.map(_.toString) == stacks.map(_.toString).sorted)
    assert(stacks.head.toString.contains("Ex_445_Em_469"))
  }

  test("voxelResolution parses acquisition.json ZYX-ordered (fixture 2.0,1.8,1.8)") {
    val root = mkFixture(Seq("Ex_445_Em_469"), 1)
    val v = SmartSpimJob.voxelResolution(root.resolve("acquisition.json"))
    assert(v == Seq(2.0, 1.8, 1.8))
  }

  test("voxelResolution: missing file raises (smartspim_job.py:67-71)") {
    intercept[java.io.FileNotFoundException] {
      SmartSpimJob.voxelResolution(tempDir("x").resolve("nope.json"))
    }
  }

  test("readJsonAsMap tolerates missing files (io/utils.py:111-135)") {
    assert(ZarrMeta.readJsonAsMap(
      tempDir("x").resolve("nope.json")).isEmpty)
  }

  test("emissionWavelength / wavelengthToHex parity with the reference table") {
    assert(SmartSpimJob.emissionWavelength("Ex_445_Em_469") == 469)
    assert(SmartSpimJob.emissionWavelength("Ex_445_Em_469.zarr") == 469)
    assert(SmartSpimJob.wavelengthToHex(469) == 0x3F2EFE)
    assert(SmartSpimJob.wavelengthToHex(300) == 0x690AFE)
    assert(SmartSpimJob.wavelengthToHex(619) == 0xF0121E)
    assert(SmartSpimJob.wavelengthToHex(750) == 0xF00050)  // falls through
    assert(SmartSpimJob.wavelengthToHex(9000) == 0xF00050) // >= 750 → pink
  }

  test("runJob converts only this shard's stacks (round-robin parity)") {
    val root = mkFixture(Seq("Ex_445_Em_469", "Ex_488_Em_525"), 2)
    val out = root.resolve("out")
    val n = SmartSpimJob.runJob(spark, JobSettings(
      inputSource = root.toString, outputDirectory = out.toString,
      numOfPartitions = 4, partitionToProcess = 0,
      chunkSize = Seq(16, 16, 16), downsampleLevels = 1))
    assert(n == 1) // 4 stacks over 4 partitions → 1 each
    // partition 0 gets the first sorted stack: Ex_445_Em_469/440000
    assert(Files.exists(out.resolve("Ex_445_Em_469/440000_460000.ome.zarr/0/0/0/0/0/0")))
    // derivatives copied verbatim, only from partition 0 (S12)
    assert(Files.readString(out.resolve("derivatives/metadata.json"))
      .contains("\"session\""))
  }

  test("derivatives: partition >0 skips the copy; missing dir errors on 0") {
    val root = mkFixture(Seq("Ex_445_Em_469", "Ex_488_Em_525"), 2)
    val out = root.resolve("out2")
    SmartSpimJob.runJob(spark, JobSettings(
      inputSource = root.toString, outputDirectory = out.toString,
      numOfPartitions = 4, partitionToProcess = 1,
      chunkSize = Seq(16, 16, 16), downsampleLevels = 1))
    assert(!Files.exists(out.resolve("derivatives")))
    val bare = mkFixture(Seq("Ex_445_Em_469"), 1)
    import scala.jdk.CollectionConverters._
    Files.walk(bare.resolve("derivatives")).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
    intercept[java.io.FileNotFoundException] {
      SmartSpimJob.runJob(spark, JobSettings(
        inputSource = bare.toString,
        outputDirectory = bare.resolve("out").toString,
        chunkSize = Seq(16, 16, 16), downsampleLevels = 1))
    }
  }

  test("v3 sharded job: voxel-identical to v2, one object per shard, NGFF 0.5 group") {
    val root = mkFixture(Seq("Ex_445_Em_469"), 1)
    def run(out: Path, fmt: Int, grid: Option[Seq[Int]]): Unit =
      SmartSpimJob.runJob(spark, JobSettings(
        inputSource = root.toString, outputDirectory = out.toString,
        chunkSize = Seq(4, 4, 4), downsampleLevels = 2,
        zarrFormat = fmt, shardGrid = grid))
    val (v2, v3) = (root.resolve("outv2"), root.resolve("outv3"))
    val v3u = root.resolve("outv3u")
    run(v2, 2, None)
    run(v3, 3, Some(Seq(2, 2, 2)))
    run(v3u, 3, None) // v3 per-chunk objects (c/-prefixed keys, no shards)
    val rel = "Ex_445_Em_469/440000_460000.ome.zarr"
    def voxels(out: Path): Seq[(Int, Int, Int, Int, Seq[Byte])] =
      spark.read.format("zarr").load(out.resolve(rel).toString)
        .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getAs[Array[Byte]]("data").toSeq)).sortBy(t => (t._1, t._2, t._3, t._4))
    val (a, b) = (voxels(v2), voxels(v3))
    assert(a.nonEmpty && a == b) // same chunks, same decompressed bytes
    assert(voxels(v3u) == a)     // unsharded v3 job agrees too
    // level 0 grid is 1x4x4 chunks; 2x2x2 chunks/shard → 1x2x2 = 4 objects
    import scala.jdk.CollectionConverters._
    val shardFiles = Files.walk(v3.resolve(s"$rel/0/c")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")) // Hadoop local-FS .crc sidecars
      .toSeq
    assert(shardFiles.size == 4)
    val rootDoc = Files.readString(v3.resolve(s"$rel/zarr.json"))
    assert(rootDoc.contains("\"zarr_format\" : 3") || rootDoc.contains("\"zarr_format\":3"))
    assert(rootDoc.contains("0.5") && rootDoc.contains("multiscales"))
    // settings JSON round-trip + v2/shard misuse rejected
    val js = JobSettings.fromJson(
      s"""{"input_source":"$root","output_directory":"$v3",
         |"zarr_format":3,"shard_grid":[2,2,2]}""".stripMargin)
    assert(js.zarrFormat == 3 && js.shardGrid.contains(Seq(2, 2, 2)))
    intercept[IllegalArgumentException] {
      JobSettings(inputSource = "a", outputDirectory = "b",
        shardGrid = Some(Seq(2, 2, 2))) // v2 + shard grid
    }
  }

  test("per-level write report: stored bytes equal the chunk and shard objects on disk") {
    val root = mkFixture(Seq("Ex_445_Em_469"), 1)
    val stack = SmartSpimJob.discoverStacks(root.toString).head
    import scala.jdk.CollectionConverters._
    for ((fmt, grid) <- Seq(2 -> None, 3 -> Some(Seq(2, 2, 2)))) {
      val out = root.resolve(s"report-v$fmt")
      val report = SmartSpimJob.convertStack(spark, stack, JobSettings(
        inputSource = root.toString, outputDirectory = out.toString,
        chunkSize = Seq(4, 4, 4), downsampleLevels = 3, zarrFormat = fmt, shardGrid = grid),
        Seq(2.0, 1.8, 1.8))
      val store = out.resolve("Ex_445_Em_469/440000_460000.ome.zarr")
      assert(report.map(_.level) == Seq(0, 1, 2))
      report.foreach { l =>
        // chunk or shard objects only: no level metadata, no local-FS .crc sidecars
        val objects = Files.walk(store.resolve(l.level.toString)).iterator().asScala
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
            p.getFileName.toString != "zarr.json").toSeq
        assert(objects.nonEmpty)
        assert(l.bytes == objects.map(Files.size).sum, s"v$fmt level ${l.level}")
        if (grid.isEmpty) assert(l.chunks == objects.size, s"v$fmt level ${l.level}")
        assert(l.encodeNs > 0 && l.putNs > 0)
      }
    }
    // level 0 is 1×4×4 chunks of the 2×16×16 stack
    assert(SmartSpimJob.convertStack(spark, stack, JobSettings(
      inputSource = root.toString, outputDirectory = root.resolve("report-again").toString,
      chunkSize = Seq(4, 4, 4), downsampleLevels = 1), Seq(2.0, 1.8, 1.8)).head.chunks == 16)
  }

  test("full job writes through a second FileSystem scheme (s3a:// contract, S9/S10)") {
    // mock:// is RawLocalFileSystem under a foreign scheme
    // (src/test/resources/core-site.xml). Every output path — chunk
    // sink, .zarray/.zattrs/.zgroup metadata, derivatives copy — must
    // route through Hadoop FileSystem, or this job fails the way an
    // s3a:// run would.
    val root = mkFixture(Seq("Ex_445_Em_469"), 1)
    val outLocal = tempDir("graft-mockfs")
    val outUri = s"mock://$outLocal/out"
    val before = graft.testfs.MockFileSystem.created.get()
    SmartSpimJob.runJob(spark, JobSettings(
      inputSource = root.toString, outputDirectory = outUri,
      chunkSize = Seq(16, 16, 16), downsampleLevels = 2))
    val created = graft.testfs.MockFileSystem.created.get() - before
    assert(created > 0, "no file went through the mock:// scheme")
    // chunks + metadata + derivatives all landed (local view of mock://)
    val store = outLocal.resolve("out/Ex_445_Em_469/440000_460000.ome.zarr")
    assert(Files.exists(store.resolve("0/0/0/0/0/0")), "level-0 chunk missing")
    assert(Files.exists(store.resolve("1/.zarray")), "level-1 .zarray missing")
    assert(Files.exists(store.resolve(".zattrs")), ".zattrs missing")
    assert(Files.readString(outLocal.resolve("out/derivatives/metadata.json"))
      .contains("\"session\""))
    // and the store decodes voxel-exact through the local alias
    val lvl0 = SmartSpimPipeline.readLevel(store.toString, 0, Seq(2, 16, 16),
      Seq(16, 16, 16), compressed = true)
    val expect0 = Array.tabulate(16 * 16 * 2)(k => (k % 251).toByte)
    for (i <- 0 until 16 * 16) {
      val v = ((lvl0(i) & 0xFFFF))
      val e = ((expect0(2 * i + 1) & 0xFF) << 8) | (expect0(2 * i) & 0xFF)
      assert(v == e, s"voxel $i through mock:// differs")
    }
  }

  test("validateNgff accepts the job's .zattrs and rejects mutations") {
    import org.json4s._
    val good = ZarrMeta.multiscales("stack", 3, Seq(2, 2, 2), Seq(2.0, 1.8, 1.8))
    ZarrMeta.validateNgff(good) // must not throw
    // wrong version
    val badVersion = good.transformField {
      case ("version", JString("0.4")) => ("version", JString("0.3"))
    }
    intercept[IllegalArgumentException](ZarrMeta.validateNgff(badVersion))
    // axis order broken
    val badAxes = good.transformField {
      case ("name", JString("z")) => ("name", JString("q"))
    }
    intercept[IllegalArgumentException](ZarrMeta.validateNgff(badAxes))
    // dataset paths not contiguous
    val badPath = good.transformField {
      case ("path", JString("1")) => ("path", JString("7"))
    }
    intercept[IllegalArgumentException](ZarrMeta.validateNgff(badPath))
    // scale arity broken
    val badScale = good.transformField {
      case ("scale", JArray(vs)) => ("scale", JArray(vs.tail))
    }
    intercept[IllegalArgumentException](ZarrMeta.validateNgff(badScale))
    // empty multiscales
    intercept[IllegalArgumentException](
      ZarrMeta.validateNgff(JObject("multiscales" -> JArray(Nil))))
  }

  test("invalid extension rejected (smartspim_job.py:138-154)") {
    val root = mkFixture(Seq("Ex_445_Em_469"), 1)
    val stack = SmartSpimJob.discoverStacks(root.toString).head
    // rewrite the stack with a bogus file type
    Files.list(stack).forEach(p => Files.delete(p))
    Files.writeString(stack.resolve("000000.bmp"), "junk")
    intercept[IllegalArgumentException] {
      SmartSpimJob.convertStack(spark, stack, JobSettings(
        inputSource = root.toString,
        outputDirectory = root.resolve("out").toString), Seq(2.0, 1.8, 1.8))
    }
  }
}
