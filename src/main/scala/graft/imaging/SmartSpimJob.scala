package graft.imaging

import org.apache.spark.sql.SparkSession
import org.json4s._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.core.JobSettings

/** End-to-end SmartSPIM conversion job (reference smartspim_job.py):
  * discover stacks under `SmartSPIM/<channel>/<col>/<col>_<row>`,
  * shard deterministically, convert each stack to an OME-Zarr pyramid.
  *
  * Under Spark, one application owns the whole run; the round-robin
  * shard filter is kept for parity / multi-cluster splits (P1/P2).
  * S3 output falls out of writing to an `s3a://` store path directly —
  * no local staging + `aws s3 sync` step (S9-S11).
  */
object SmartSpimJob {

  /** Scalar twin of GraftFunctions.wavelengthToHex (same table,
    * png_to_zarr.py:397-436; >= 750 nm falls through to pink). */
  def wavelengthToHex(wavelength: Int): Int = {
    val bands = Seq(
      460 -> 0x690AFE, 470 -> 0x3F2EFE, 480 -> 0x4B90FE, 490 -> 0x59D5F8,
      500 -> 0x5DF8D6, 520 -> 0x5AFEB8, 540 -> 0x58FEA1, 560 -> 0x51FF1E,
      565 -> 0xBBFB01, 575 -> 0xE9EC02, 580 -> 0xF5C503, 590 -> 0xF39107,
      600 -> 0xF15211, 620 -> 0xF0121E, 750 -> 0xF00050)
    bands.collectFirst { case (ub, v) if wavelength < ub => v }.getOrElse(0xF00050)
  }

  /** Emission wavelength from a channel dir name like `Ex_445_Em_469`
    * (png_to_zarr.py:588-590). */
  def emissionWavelength(channelName: String): Int =
    channelName.stripSuffix(".zarr").split("_").last.toInt

  /** 3-level directory walk collecting stack dirs, sorted so every
    * node computes the same list (smartspim_job.py:43-63). */
  def discoverStacks(inputSource: String): Seq[Path] = {
    val root = Paths.get(inputSource, "SmartSPIM")
    def dirs(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Seq.empty
      else Files.list(p).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    val all = for {
      channel <- dirs(root)
      colDir <- dirs(channel)
      stack <- dirs(colDir)
    } yield stack
    all.sortBy(_.toString)
  }

  /** Voxel resolution [z, y, x] µm from acquisition.json
    * (smartspim_job.py:65-90; missing file is an error, but a missing
    * generic JSON reads as empty — io/utils.py:111-135). */
  def voxelResolution(acquisitionPath: Path): Seq[Double] = {
    if (!Files.isRegularFile(acquisitionPath))
      throw new java.io.FileNotFoundException(
        s"acquisition.json file not found at: $acquisitionPath")
    val json = ZarrMeta.readJsonAsMap(acquisitionPath).getOrElse(JObject())
    val tiles = (json \ "tiles").asInstanceOf[JArray].arr
    val transforms = (tiles.head \ "coordinate_transformations").asInstanceOf[JArray].arr
    val scale = transforms.collectFirst {
      case t if (t \ "type") == JString("scale") =>
        (t \ "scale").asInstanceOf[JArray].arr.map {
          case JString(s) => s.toDouble
          case JDouble(d) => d
          case JInt(i) => i.toDouble
          case JDecimal(d) => d.toDouble
          case other => throw new IllegalArgumentException(s"bad scale $other")
        }
    }.getOrElse(throw new IllegalArgumentException("no scale transform in acquisition.json"))
    Seq(scale(2), scale(1), scale(0)) // file is XYZ; job wants ZYX
  }

  /** Store path for a stack dir, by convention:
    * `<out>/<channel>/<stack>.ome.zarr`. Pure (serializable closures
    * capture only the output dir string). */
  def storeFor(outputDirectory: String, stackDir: String): String = {
    val p = stackDir.stripSuffix("/")
    val parts = p.split('/')
    val stackName = parts.last
    val channelName = parts(parts.length - 3)
    s"$outputDirectory/$channelName/$stackName.ome.zarr"
  }

  /** Convert one stack directory to `<out>/<channel>/<stack>.ome.zarr`;
    * returns the per-level write report of [[convertStacks]]. */
  def convertStack(spark: SparkSession, stack: Path, settings: JobSettings,
      voxelZyx: Seq[Double]): Seq[ZarrStore.LevelWrites] =
    convertStacks(spark, Seq(stack), settings, voxelZyx)

  /** Pooled conversion: every stack in the shard flows through ONE
    * pipeline — one scan, one rechunk shuffle and one shuffle per
    * pyramid level, keyed by stack, and one action at the end. A driver
    * loop of per-stack jobs would serialize scheduling at 10k stacks;
    * this shape keeps a large cluster busy end-to-end. Per-stack
    * metadata stays on the driver (tiny JSON).
    *
    * Returns what the writers counted per level, summed over every
    * stack; nothing is written into the output tree for it. */
  def convertStacks(spark: SparkSession, stacks: Seq[Path], settings: JobSettings,
      voxelZyx: Seq[Double]): Seq[ZarrStore.LevelWrites] = {
    if (stacks.isEmpty) return Seq.empty
    val compressed = settings.compressorName == "blosc"
    val chunk = settings.chunkSize
    val outDir = settings.outputDirectory
    val levels = settings.downsampleLevels
    val layout = ZarrStore.Layout(settings.zarrFormat, chunk, settings.shardGrid,
      settings.compressorLevel, settings.byteShuffle, compressed,
      settings.compressorCname)
    val stats = (0 until levels).map(ZarrStore.WriteStats(spark.sparkContext, _))

    // per-stack validation + full-res shape probe (reference S4: pims
    // metadata read of the first file; F2 extension check)
    case class StackInfo(dir: Path, extension: String, shape0: Seq[Int])
    val infos = stacks.map { stack =>
      val files = Files.list(stack).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      if (files.isEmpty) throw new java.io.FileNotFoundException(s"No images found in $stack")
      val n = files.head.getFileName.toString
      val extension = n.substring(n.lastIndexOf('.') + 1).toLowerCase
      if (!Seq("png", "tif", "tiff").contains(extension))
        throw new IllegalArgumentException(
          s"Extension $extension is not valid! Only PNGs and Tiff.")
      val probe = ImageCodec.decode(Files.readAllBytes(files.minBy(_.toString)))
      StackInfo(stack, extension, Seq(files.size, probe.height, probe.width))
    }

    // one pooled pipeline per extension group (usually exactly one)
    infos.groupBy(_.extension).foreach { case (extension, group) =>
      // v3 sharded mode keys every level's ONE rechunk/merge shuffle by
      // the shard grid, so the sharded writer streams whole shard
      // objects per-partition with no second exchange (round-11); the
      // probed shapes give the exact shard count per level, which sizes
      // that shuffle (round-12 — see colocatedParts)
      val shardKey = settings.shardGrid
      def partsFor(shapeMap: Map[String, Seq[Int]]): Option[Int] = shardKey.map(g =>
        SmartSpimPipeline.colocatedParts(spark, shapeMap.values.map(_.lazyZip(chunk)
          .lazyZip(g).map((s, c, n) => (((s + c - 1) / c + n - 1) / n).toLong).product).sum))
      val shapes = Iterator.iterate(group.map(i => i.dir.toString -> i.shape0).toMap)(
        _.view.mapValues(_.zip(settings.scaleFactor)
          .map { case (s, f) => (s + f - 1) / f }).toMap).take(levels).toSeq
      val store: String => String = storeFor(outDir, _)
      // one lazy chain, no level cached: level L is written by the map
      // side of level L+1's shuffle; the last level's write is the action
      val level0 = SmartSpimPipeline.rechunk(
        SmartSpimPipeline.slices(spark, group.map(_.dir.toString), extension), chunk,
        shardKey, partsFor(shapes.head))
      val last = (0 until levels - 1).foldLeft(level0) { (cur, level) =>
        SmartSpimPipeline.assembleFragments(
          SmartSpimPipeline.writeAndDownsample(cur, store, level, settings.scaleFactor,
            layout, Some(stats(level))),
          shardKey, partsFor(shapes(level + 1)))
      }
      SmartSpimPipeline.writeLevelBy(last, store, levels - 1, chunk,
        settings.compressorLevel, settings.byteShuffle, compressed,
        settings.compressorCname, settings.zarrFormat, settings.shardGrid,
        colocated = shardKey.isDefined, stats = Some(stats(levels - 1)))
      for ((shapeMap, level) <- shapes.zipWithIndex; (stackDir, shape) <- shapeMap)
        ZarrStore.writeLevelMeta(store(stackDir), level, shape.map(_.toLong), layout)
    }

    // group + OME-NGFF metadata per stack (driver-side, X7)
    infos.foreach { info =>
      val stackDir = info.dir.toString
      val store = storeFor(outDir, stackDir)
      val channelName = info.dir.getParent.getParent.getFileName.toString
      val stackName = info.dir.getFileName.toString
      val em = emissionWavelength(channelName)
      val color = wavelengthToHex(em)
      val shapeT = Seq(1L, 1L, info.shape0(0).toLong, info.shape0(1).toLong,
        info.shape0(2).toLong)
      val omero = ZarrMeta.omero(
        stackName, shapeT, Seq(s"Channel:$channelName:0"), Seq(color),
        minMax = Seq((0.0, 65535.0)),      // uint16 dtype bounds (A2)
        startEnd = Seq((0.0, 350.0)))      // hard-coded window (A3, :623-627)
      if (settings.zarrFormat == 2) {
        val attrs = JObject(
          ZarrMeta.multiscales(stackName, settings.downsampleLevels,
            settings.scaleFactor, voxelZyx).obj ++
          JObject("omero" -> omero).obj)
        // write-time schema validation, mirroring the reference's
        // fmt.validate (png_to_zarr.py:293-295)
        ZarrMeta.validateNgff(attrs)
        ZarrStore.writeGroupMeta(store, 2, Some(attrs))
      } else {
        // zarr v3 / OME-NGFF 0.5: ONE `zarr.json` group doc carries the
        // "ome" attributes envelope (version at the envelope, RFC-2);
        // omero rides along as the transitional rendering block.
        val ome = JObject(
          ZarrMeta.ome05Multiscales(stackName, settings.downsampleLevels,
            settings.scaleFactor, voxelZyx).obj ++
          JObject("omero" -> omero).obj)
        ZarrMeta.validateNgff05(ome)
        ZarrStore.writeGroupMeta(store, 3, Some(ome))
      }
      ZarrStore.writeGroupMeta(s"$outDir/$channelName", settings.zarrFormat)
    }
    stats.map(_.value)
  }

  /** Derivatives passthrough (S12, smartspim_job.py:197-215): copy
    * `<input>/derivatives/` verbatim into the output store, gated on
    * shard 0 exactly like the reference (one copy per run, not per
    * shard); errors if the directory is missing. Hadoop FileUtil so the
    * destination may be file:// or s3a:// alike. */
  def uploadDerivatives(settings: JobSettings): Unit = {
    val src = Paths.get(settings.inputSource, "derivatives")
    if (!Files.isDirectory(src))
      throw new java.io.FileNotFoundException(
        s"Derivatives folder not found at: $src")
    val conf = new org.apache.hadoop.conf.Configuration()
    val from = new org.apache.hadoop.fs.Path(src.toString)
    val to = new org.apache.hadoop.fs.Path(
      settings.s3Location.getOrElse(settings.outputDirectory), "derivatives")
    org.apache.hadoop.fs.FileUtil.copy(from.getFileSystem(conf), from,
      to.getFileSystem(conf), to, false, true, conf)
  }

  /** Full job: discover → shard → convert every stack in this shard
    * (smartspim_job.py:221-230). */
  def runJob(spark: SparkSession, settings: JobSettings): Int = {
    val stacks = discoverStacks(settings.inputSource)
    val shard = JobSettings.partitionList(stacks, settings.numOfPartitions)(
      settings.partitionToProcess)
    if (settings.partitionToProcess == 0) uploadDerivatives(settings)
    val voxel = voxelResolution(Paths.get(settings.inputSource, "acquisition.json"))
    convertStacks(spark, shard, settings, voxel)
    shard.size
  }
}
