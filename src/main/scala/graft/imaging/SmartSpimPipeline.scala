package graft.imaging

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.nio.file.{Files, Paths}

/** The SmartSPIM image dataflow, Spark-first (SURVEY.md §3.2):
  *
  *   binaryFile scan → decode (S2/C2) → fragment explode → chunk
  *   assembly (the rechunk shuffle, P3) → per level: blosc/zstd encode +
  *   zarr chunk write (S7/C1) and windowed-mean downsample (A1) in one
  *   map pass ([[writeAndDownsample]]) → merge sub-blocks (one shrinking
  *   shuffle per pyramid level) → the last level's write via
  *   foreachPartition.
  *
  * Scale design: pixel payloads never pass through a window function, a
  * driver collect or a cache; the pyramid is one lazy chain with one
  * action. The only full-data shuffle is the level-0 rechunk (inherent
  * — the reference's dask `rechunk` does the same, png_to_zarr.py:
  * 592-593); each pyramid level then shuffles 8× less data. Slice
  * z-indices are parsed from the `<z>.<ext>` filename whenever the
  * scan's file listing proves that safe — no z-map join at all.
  */
object SmartSpimPipeline {

  /** One decoded Z-slice (reference: one dask chunk per file). */
  final case class SliceRow(stack: String, z: Int, height: Int, width: Int,
      data: Array[Byte])

  /** A slice fragment destined for one storage chunk. */
  final case class Fragment(stack: String, zc: Int, yc: Int, xc: Int,
      zoff: Int, yoff: Int, xoff: Int, dy: Int, dx: Int, data: Array[Byte])

  /** One zarr storage chunk (chunk-as-row; SURVEY.md §1.4). dz/dy/dx are
    * the actual (edge-clamped) dims; the writer pads to full chunk. */
  final case class ChunkRow(stack: String, zc: Int, yc: Int, xc: Int,
      dz: Int, dy: Int, dx: Int, data: Array[Byte])

  /** Sub-block of a downsampled chunk en route to its coarser chunk.
    * (Public: Spark's generated code must reach the accessors.) */
  final case class SubBlock(stack: String, zc: Int, yc: Int, xc: Int,
      zoff: Int, yoff: Int, xoff: Int, dz: Int, dy: Int, dx: Int,
      data: Array[Byte])

  // ------------------------------------------------------------- reading

  /** Lazy stack reader (S2): one row per slice, z = rank of the file
    * path within its stack (glob-alphabetical Z order, readers.py:145).
    *
    * Fast path: the reference layout names slices `<z>.<ext>` with
    * zero-padded z (so alphabetical order IS numeric order). When the
    * scan's own file listing, already held on the driver, shows every
    * stack's filenames numeric, fixed-width and contiguous from 0
    * ([[filenameIsZ]]), z is parsed straight from the filename — no
    * Spark job, zero shuffles, zero joins, zero broadcasts on the image
    * bytes, at any scale. Otherwise fall back to a per-stack window
    * rank joined back on path (a plain equi-join; no broadcast — at
    * ~12.5M slices per 100 TB a broadcast z-map would be multi-GB).
    */
  def slices(spark: SparkSession, dir: String, ext: String): Dataset[SliceRow] =
    slices(spark, Seq(dir), ext)

  /** Multi-stack variant: one scan over every stack dir in the shard,
    * so the whole shard becomes ONE pipeline (one rechunk shuffle, one
    * map stage per level) instead of a driver loop of per-stack jobs —
    * the shape that keeps 1000 executors busy on 10k stacks. */
  def slices(spark: SparkSession, dirs: Seq[String], ext: String): Dataset[SliceRow] = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$ext")
      .load(dirs: _*)
    val indexed =
      if (filenameIsZ(files.inputFiles.toSeq))
        files.select(col("path"), regexp_extract(col("path"), Stem, 1).cast("int").as("z"),
          col("content"))
      else {
        // ranking is per stack so the window shuffle stays partitioned
        // even when many stacks share one glob; join back on path with
        // NO broadcast hint (the z-map grows with the input).
        val zmap = spark.read.format("binaryFile")
          .option("pathGlobFilter", s"*.$ext").load(dirs: _*)
          .select(col("path"),
            regexp_replace(col("path"), "/[^/]+$", "").as("stack_dir"))
          .withColumn("z", row_number().over(
            Window.partitionBy("stack_dir").orderBy("path")) - 1)
          .drop("stack_dir")
        files.join(zmap, "path")
          .select(col("path"), col("z"), col("content"))
      }
    indexed
      .as[(String, Int, Array[Byte])]
      .map { case (path, z, content) =>
        val dec = ImageCodec.decode(content)
        val stack = {
          val p = path.stripSuffix("/")
          val cut = p.lastIndexOf('/')
          p.substring(0, math.max(cut, 0))
        }
        SliceRow(stack, z, dec.height, dec.width, dec.data)
      }
  }

  /** A slice file's numeric stem: the `<z>` of `.../<z>.<ext>`. */
  private val Stem = "/(\\d+)\\.[^./]+$"

  /** Whether z can be read from the filename: per stack dir, every
    * slice is named by its numeric [[Stem]], all stems have one width
    * (so alphabetical order is numeric order) and they are exactly
    * 0..n-1. `paths` is the scan's file listing. */
  private[imaging] def filenameIsZ(paths: Seq[String]): Boolean = {
    val stem = Stem.r
    paths.nonEmpty && paths.groupBy(p => p.substring(0, p.lastIndexOf('/'))).values.forall {
      files =>
        val zs = files.flatMap(p => stem.findFirstMatchIn(p).map(_.group(1)))
        zs.size == files.size && zs.map(_.length).distinct.size == 1 &&
          zs.flatMap(_.toLongOption).sorted == (0L until files.size)
    }
  }

  // ------------------------------------------------- rechunk (P3 shuffle)

  /** Explode each (1, Y, X) slice into per-chunk fragments and assemble
    * (cz, cy, cx) chunks — the central shuffle, ≡ dask rechunk
    * (png_to_zarr.py:592-593). `shard` keys that one shuffle by the v3
    * shard grid instead, producing shard-co-located chunks (see
    * [[assembleFragments]]). */
  def rechunk(slicesDs: Dataset[SliceRow], chunk: Seq[Int],
      shard: Option[Seq[Int]] = None,
      parts: Option[Int] = None): Dataset[ChunkRow] = {
    val spark = slicesDs.sparkSession
    import spark.implicits._
    val Seq(cz, cy, cx) = chunk
    val frags = slicesDs.flatMap { s =>
      val nyc = (s.height + cy - 1) / cy
      val nxc = (s.width + cx - 1) / cx
      for {
        yc <- 0 until nyc
        xc <- 0 until nxc
      } yield {
        val y0 = yc * cy; val dy = math.min(cy, s.height - y0)
        val x0 = xc * cx; val dx = math.min(cx, s.width - x0)
        val out = new Array[Byte](dy * dx * 2)
        var r = 0
        while (r < dy) {
          System.arraycopy(s.data, ((y0 + r) * s.width + x0) * 2, out, r * dx * 2, dx * 2)
          r += 1
        }
        Fragment(s.stack, s.z / cz, yc, xc, s.z % cz, 0, 0, dy, dx, out)
      }
    }
    assembleFragments(frags.map(f =>
      SubBlock(f.stack, f.zc, f.yc, f.xc, f.zoff, f.yoff, f.xoff, 1, f.dy, f.dx, f.data)),
      shard, parts)
  }

  /** Copy one chunk's sub-blocks into place. Chunk dims are the
    * covered extents (contiguous from 0 by construction). */
  private def assembleOne(stack: String, zc: Int, yc: Int, xc: Int,
      fs: Array[SubBlock]): ChunkRow = {
    val dz = fs.map(f => f.zoff + f.dz).max
    val dy = fs.map(f => f.yoff + f.dy).max
    val dx = fs.map(f => f.xoff + f.dx).max
    val out = new Array[Byte](dz * dy * dx * 2)
    fs.foreach { f =>
      var z = 0
      while (z < f.dz) {
        var y = 0
        while (y < f.dy) {
          System.arraycopy(
            f.data, (z * f.dy + y) * f.dx * 2,
            out, (((f.zoff + z) * dy + (f.yoff + y)) * dx + f.xoff) * 2,
            f.dx * 2)
          y += 1
        }
        z += 1
      }
    }
    ChunkRow(stack, zc, yc, xc, dz, dy, dx, out)
  }

  /** Shuffle width for a shard-keyed assembly with a KNOWN shard
    * count: 2× the shards (mostly-singleton hash buckets, makespan ≈
    * total/cores) capped at 4 tasks per core, never below the
    * session's configured shuffle width — so a real deployment's
    * bytes-based sizing always wins and only the small-job straggler
    * regime is widened. */
  def colocatedParts(spark: SparkSession, shardCount: Long): Int = {
    val conf = spark.sessionState.conf.numShufflePartitions
    val cap = 4L * spark.sparkContext.defaultParallelism
    math.max(conf.toLong, math.min(2L * math.max(shardCount, 1L), cap)).toInt
  }

  /** Group sub-blocks by target chunk and copy them into place.
    *
    * With `shard` set (zarr v3 `sharding_indexed` downstream), the ONE
    * shuffle is keyed by the SHARD — a pure function of the chunk key
    * (round-11 verdict item 2) — and chunks assemble from a
    * within-partition sort instead of a groupByKey: the output is
    * shard-co-located AND shard-contiguous, so the sharded writer can
    * stream whole shard objects with NO second exchange
    * ([[writeLevelBy]] `colocated=true`). Peak task memory stays one
    * chunk's fragments (the sort spills; runs are consumed
    * incrementally), not one shard's.
    *
    * `parts` (round-12) widens THAT shuffle when the caller knows the
    * shard count: hash-placing k shards into p partitions leaves the
    * slowest partition with ~max-bucket shards (balls-in-bins), and in
    * the small-job regime (k within a few× of the core count — every
    * pyramid level above 0, and level 0 itself on a single stack) the
    * straggler bucket is 2-3× the mean, which gates the whole write
    * stage. 2× the shard count in partitions makes buckets mostly
    * singletons, so the stage makespan is total-work/cores instead of
    * max-bucket. At real scale (shards ≫ partitions) the hint is
    * inert: [[colocatedParts]] never drops below the session's
    * configured shuffle width. */
  private[imaging] def assembleFragments(frags: Dataset[SubBlock],
      shard: Option[Seq[Int]] = None,
      parts: Option[Int] = None): Dataset[ChunkRow] = {
    val spark = frags.sparkSession
    import spark.implicits._
    shard match {
      case Some(Seq(gz, gy, gx)) =>
        frags
          .repartition(parts.getOrElse(spark.sessionState.conf.numShufflePartitions),
            col("stack"), expr(s"zc div $gz"),
            expr(s"yc div $gy"), expr(s"xc div $gx"))
          .sortWithinPartitions(col("stack"), expr(s"zc div $gz"),
            expr(s"yc div $gy"), expr(s"xc div $gx"),
            col("zc"), col("yc"), col("xc"))
          .mapPartitions { it =>
            val b = it.buffered
            new Iterator[ChunkRow] {
              override def hasNext: Boolean = b.hasNext
              override def next(): ChunkRow = {
                val h = b.head
                val key = (h.stack, h.zc, h.yc, h.xc)
                val run = scala.collection.mutable.ArrayBuffer(b.next())
                while (b.hasNext &&
                    (b.head.stack, b.head.zc, b.head.yc, b.head.xc) == key)
                  run += b.next()
                assembleOne(h.stack, h.zc, h.yc, h.xc, run.toArray)
              }
            }
          }
      case _ =>
        frags.groupByKey(f => (f.stack, f.zc, f.yc, f.xc))
          .mapGroups { (key: (String, Int, Int, Int), it: Iterator[SubBlock]) =>
            assembleOne(key._1, key._2, key._3, key._4, it.toArray)
          }
    }
  }

  // ------------------------------------------- pyramid (A1, per level)

  /** Dtype-preserving non-overlapping windowed mean on one chunk's
    * voxels: mean over the (clamped) s³ window, truncated toward zero —
    * matches xarray_multiscale windowed_mean + preserve_dtype
    * (png_to_zarr.py:386-392). Pure, shuffle-free.
    */
  def windowedMean(dz: Int, dy: Int, dx: Int, data: Array[Byte],
      s: Seq[Int]): (Int, Int, Int, Array[Byte]) = {
    val Seq(sz, sy, sx) = s
    val oz = (dz + sz - 1) / sz; val oy = (dy + sy - 1) / sy; val ox = (dx + sx - 1) / sx
    val out = new Array[Byte](oz * oy * ox * 2)
    var z = 0
    while (z < oz) {
      val z1 = math.min((z + 1) * sz, dz)
      var y = 0
      while (y < oy) {
        val y1 = math.min((y + 1) * sy, dy)
        var x = 0
        while (x < ox) {
          val x1 = math.min((x + 1) * sx, dx)
          var sum = 0L; var n = 0
          var iz = z * sz
          while (iz < z1) {
            var iy = y * sy
            while (iy < y1) {
              var ix = x * sx
              val rowBase = (iz * dy + iy) * dx
              while (ix < x1) {
                val off = (rowBase + ix) * 2
                sum += ((data(off + 1) & 0xFF) << 8) | (data(off) & 0xFF)
                n += 1; ix += 1
              }
              iy += 1
            }
            iz += 1
          }
          val v = (sum / n).toInt // floor: preserve_dtype truncation
          val off = ((z * oy + y) * ox + x) * 2
          out(off) = (v & 0xFF).toByte
          out(off + 1) = ((v >> 8) & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      z += 1
    }
    (oz, oy, ox, out)
  }

  /** The pyramid step's geometry, in one place: chunk → its windowed
    * mean by `factor`, applied `times` times, as the sub-block it
    * fills in the chunk of the level `times` steps coarser. Requires
    * the chunk dims to be divisible by factor^times (true for the
    * reference defaults 128³ / 2³). */
  private def subBlockOf(chunk: Seq[Int], factor: Seq[Int],
      times: Int = 1): ChunkRow => SubBlock = {
    val Seq(cz, cy, cx) = chunk
    val Seq(fz, fy, fx) = factor.map(f => math.pow(f, times).toInt)
    require(cz % fz == 0 && cy % fy == 0 && cx % fx == 0,
      "chunk size must be divisible by the scale factor^levels")
    c => {
      val (dz, dy, dx, data) = Iterator.iterate((c.dz, c.dy, c.dx, c.data)) {
        case (z, y, x, d) => windowedMean(z, y, x, d, factor) }.drop(times).next()
      SubBlock(c.stack, c.zc / fz, c.yc / fy, c.xc / fx,
        (c.zc % fz) * (cz / fz), (c.yc % fy) * (cy / fy), (c.xc % fx) * (cx / fx),
        dz, dy, dx, data)
    }
  }

  /** One pyramid step: downsample every chunk in place (no shuffle),
    * then merge the s³ sibling sub-blocks into full-size chunks of the
    * next level (a shuffle over 1/8th the bytes for s=2). */
  def downsampleLevel(chunks: Dataset[ChunkRow], chunk: Seq[Int],
      factor: Seq[Int], shard: Option[Seq[Int]] = None,
      parts: Option[Int] = None): Dataset[ChunkRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    assembleFragments(chunks.map(subBlockOf(chunk, factor)), shard, parts)
  }

  /** The conversion's pyramid step: write each chunk of level `level`,
    * then emit its downsampled sub-block of the next level, in one map
    * pass. Merged by [[assembleFragments]], the next level is built by
    * the map side of its own shuffle, so the written level is never
    * cached or read twice; keys are deterministic and puts atomic, so a
    * retried or resubmitted task rewrites the same bytes. For a sharded
    * `layout`, `chunks` must be the shard-keyed assembly. */
  def writeAndDownsample(chunks: Dataset[ChunkRow], storeOf: String => String,
      level: Int, factor: Seq[Int], layout: ZarrStore.Layout,
      stats: Option[ZarrStore.WriteStats] = None): Dataset[SubBlock] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val down = subBlockOf(layout.chunk, factor)
    chunks.mapPartitions(it => writing(it, storeOf, level, layout, stats).map(down))
  }

  /** Fused multi-level downsample: compute pyramid level `levels`
    * DIRECTLY from level-0 chunks in one pass — the optional operator
    * fusion SURVEY §4 sketches (`downsample(downsample(x))` → one
    * stride-2^k pass).
    *
    * Semantics are the ITERATED ones, bit-for-bit: the kernel applies
    * the dtype-truncating windowed mean `levels` times to each chunk's
    * local array (floor-of-floor, clamped at array edges), so the
    * result is identical to `downsampleLevel` applied `levels` times —
    * NOT a single mean over the 2^k-wide window, which rounds
    * differently. Locality holds because 2^k-aligned windows of extent
    * 2^k never cross a chunk boundary when 2^k divides the chunk dim
    * (edge chunks clamp at the array edge, which is their own edge).
    *
    * At scale this replaces k shuffles with ONE shuffle over 8^-k of
    * the input bytes — the path to use when only a coarse level is
    * consumed (thumbnailing, registration preview, QC stats), while
    * [[writeAndDownsample]] remains the path that writes every level. */
  def downsampleToLevel(chunks: Dataset[ChunkRow], chunk: Seq[Int],
      factor: Seq[Int], levels: Int): Dataset[ChunkRow] = {
    require(levels >= 1, "levels must be >= 1")
    val spark = chunks.sparkSession
    import spark.implicits._
    assembleFragments(chunks.map(subBlockOf(chunk, factor, levels)))
  }

  // ------------------------------------------------------- zarr sink (S7)

  /** One task's `chunks`, each written as it passes through one
    * [[ZarrStore.ChunkWriter]]: the open shard is committed when the
    * input is exhausted, and aborted by the task's completion listener
    * otherwise (a no-op after the commit). */
  private def writing(chunks: Iterator[ChunkRow], storeOf: String => String, level: Int,
      layout: ZarrStore.Layout, stats: Option[ZarrStore.WriteStats]): Iterator[ChunkRow] = {
    val w = new ZarrStore.ChunkWriter(layout, stats)
    TaskContext.get().addTaskCompletionListener[Unit](_ => w.abort())
    var open = true
    new Iterator[ChunkRow] {
      override def hasNext: Boolean = chunks.hasNext || {
        if (open) { w.finish(); open = false }
        false
      }
      override def next(): ChunkRow = {
        val c = chunks.next()
        w.write(storeOf(c.stack), level, c.zc, c.yc, c.xc, c.dz, c.dy, c.dx, c.data)
        c
      }
    }
  }

  /** Write one level's chunks as zarr v2 chunk objects of one store
    * (key layout, padding, codec and atomic put: [[ZarrStore]]). */
  def writeLevel(chunks: Dataset[ChunkRow], store: String, level: Int,
      chunk: Seq[Int], clevel: Int, byteShuffle: Boolean,
      compressed: Boolean, cname: String = "zstd"): Unit =
    writeLevelBy(chunks, _ => store, level, chunk, clevel, byteShuffle,
      compressed, cname)

  /** Multi-store variant: `storeOf` maps a chunk row's stack key to its
    * OME-Zarr store path, so one write job covers every stack in the
    * shard (the pooled pipeline). The closure must be serializable —
    * derive the store from the stack path, don't capture a session.
    *
    * `format` 2 (default) writes the reference's v2 layout, 3 the v3
    * default key encoding; `shard` (chunks-per-shard Z,Y,X; v3 only)
    * writes `sharding_indexed` shard objects instead of chunk objects.
    * Every object goes through one [[ZarrStore.ChunkWriter]] per task,
    * which counts into `stats` when given.
    *
    * With `colocated=true` (round-11: the single-shuffle sharded
    * write), `chunks` MUST come from a shard-keyed assembly
    * ([[rechunk]]/[[downsampleLevel]] with the SAME `shard` grid):
    * each partition then holds whole shards, contiguously — the writer
    * streams shard objects per-partition with ZERO additional exchange,
    * and per-task memory is one encoded payload. With
    * `colocated=false` the writer assumes nothing and first re-keys the
    * chunks through that same shard-keyed assembly (one shuffle of the
    * uncompressed level), then streams the same way. */
  def writeLevelBy(chunks: Dataset[ChunkRow], storeOf: String => String,
      level: Int, chunk: Seq[Int], clevel: Int, byteShuffle: Boolean,
      compressed: Boolean, cname: String = "zstd",
      format: Int = 2, shard: Option[Seq[Int]] = None,
      colocated: Boolean = false, stats: Option[ZarrStore.WriteStats] = None): Unit = {
    val layout = ZarrStore.Layout(format, chunk, shard, clevel, byteShuffle,
      compressed, cname)
    val rows = layout.grid match {
      case Some(g) if !colocated =>
        // re-key the chunks by shard: the same one-shuffle shard
        // assembly the colocated callers ran upstream
        val session = chunks.sparkSession
        import session.implicits._
        assembleFragments(chunks.map(c =>
          SubBlock(c.stack, c.zc, c.yc, c.xc, 0, 0, 0, c.dz, c.dy, c.dx, c.data)),
          Some(g))
      case _ => chunks
    }
    rows.foreachPartition { (it: Iterator[ChunkRow]) =>
      writing(it, storeOf, level, layout, stats).foreach(_ => ())
    }
  }

  /** Wave-bounded write (reference P5/P6, BlockedArrayWriter.store,
    * zarr_writer.py:188-213): split the chunk grid into voxel blocks of
    * ~`targetSizeMb` (ChunkPlanner.getBlockShape, "cycle" growth) and
    * write one wave per block as its own Spark job. Under Spark this is
    * OPTIONAL — the DAG scheduler handles millions of tasks — but it
    * bounds in-flight shuffle/write volume against a slow object store
    * at 100 TB, exactly the reference's stated motivation ("reduce the
    * scheduling burden for massive (terabyte-scale) arrays").
    * `chunks` should be persisted by the caller: each wave filters the
    * same Dataset. */
  def writeLevelInWaves(chunks: Dataset[ChunkRow], storeOf: String => String,
      level: Int, chunk: Seq[Int], clevel: Int, byteShuffle: Boolean,
      compressed: Boolean, shape: Seq[Int], targetSizeMb: Long,
      cname: String = "zstd"): Unit = {
    val block = ChunkPlanner.getBlockShape(shape, chunk, itemSize = 2, targetSizeMb)
    ChunkPlanner.genSlices(shape, block).foreach { box =>
      // voxel box → inclusive chunk-coordinate ranges
      val lo = box.lo.zip(chunk).map { case (v, c) => v / c }
      val hi = box.hi.zip(chunk).map { case (v, c) => (v - 1) / c }
      val wave = chunks.filter(c =>
        c.zc >= lo(0) && c.zc <= hi(0) &&
        c.yc >= lo(1) && c.yc <= hi(1) &&
        c.xc >= lo(2) && c.xc <= hi(2))
      writeLevelBy(wave, storeOf, level, chunk, clevel, byteShuffle, compressed, cname)
    }
  }

  // -------------------------------------------------- read-back (S6/test)

  /** Driver-side level reader for verification: assembles the full
    * (Z, Y, X) voxel array from chunk files. Test-scale only. */
  def readLevel(store: String, level: Int, shape: Seq[Int], chunk: Seq[Int],
      compressed: Boolean): Array[Short] = {
    val Seq(nz, ny, nx) = shape
    val Seq(cz, cy, cx) = chunk
    val out = new Array[Short](nz * ny * nx)
    for {
      zc <- 0 until (nz + cz - 1) / cz
      yc <- 0 until (ny + cy - 1) / cy
      xc <- 0 until (nx + cx - 1) / cx
    } {
      val p = Paths.get(store, ZarrStore.chunkKey(2, level, zc, yc, xc))
      if (Files.exists(p)) {
        val raw = Files.readAllBytes(p)
        val full = if (compressed) BloscCodec.decompress(raw) else raw
        var z = 0
        while (z < math.min(cz, nz - zc * cz)) {
          var y = 0
          while (y < math.min(cy, ny - yc * cy)) {
            var x = 0
            while (x < math.min(cx, nx - xc * cx)) {
              val src = ((z * cy + y) * cx + x) * 2
              val v = (((full(src + 1) & 0xFF) << 8) | (full(src) & 0xFF)).toShort
              out(((zc * cz + z) * ny + (yc * cy + y)) * nx + (xc * cx + x)) = v
              x += 1
            }
            y += 1
          }
          z += 1
        }
      }
    }
    out
  }
}
