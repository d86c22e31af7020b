package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSessionTestWrapper, TempDirs}
import graft.imaging.{BloscCodec, ZarrMeta, ZarrStore}

/** DataSource V2 `zarr` format: write/read round trip, chunk-grid
  * filter pushdown, listing-only column pruning, edge-chunk padding
  * and clipping, blosc compression, SQL function injection. */
class ZarrSourceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark
  import spark.implicits._

  private val Shape = Seq(3, 5, 6)   // (Z, Y, X)
  private val Chunk = Seq(2, 4, 4)

  /** voxel value = linear index, so every position is distinguishable */
  private def voxel(z: Int, y: Int, x: Int): Int =
    (z * Shape(1) + y) * Shape(2) + x

  /** Chunk rows (level, zc, yc, xc, dz, dy, dx, data) covering Shape. */
  private def chunkRows(level: Int): Seq[(Int, Int, Int, Int, Int, Int, Int, Array[Byte])] = {
    val Seq(nz, ny, nx) = Shape
    val Seq(cz, cy, cx) = Chunk
    for {
      zc <- 0 until (nz + cz - 1) / cz
      yc <- 0 until (ny + cy - 1) / cy
      xc <- 0 until (nx + cx - 1) / cx
    } yield {
      val dz = math.min(cz, nz - zc * cz)
      val dy = math.min(cy, ny - yc * cy)
      val dx = math.min(cx, nx - xc * cx)
      val data = new Array[Byte](dz * dy * dx * 2)
      for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx) {
        val v = voxel(zc * cz + z, yc * cy + y, xc * cx + x)
        val off = ((z * dy + y) * dx + x) * 2
        data(off) = (v & 0xFF).toByte
        data(off + 1) = ((v >> 8) & 0xFF).toByte
      }
      (level, zc, yc, xc, dz, dy, dx, data)
    }
  }

  private def writeZarrayMeta(store: Path, level: Int, compressed: Boolean): Unit = {
    val dir = store.resolve(level.toString)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(".zarray"), ZarrMeta.render(
      ZarrMeta.zarray(Seq(1L, 1L, Shape(0).toLong, Shape(1).toLong, Shape(2).toLong),
        Seq(1, 1, Chunk(0), Chunk(1), Chunk(2)), 3, byteShuffle = true, compressed)))
  }

  private def makeStore(compressed: Boolean): Path = {
    val store = tempDir("zarr-src-spec")
    // self-describing write: shape option makes commit() emit .zarray
    chunkRows(0).toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "data")
      .write.format("zarr").mode("append")
      .option("chunk", Chunk.mkString(","))
      .option("shape", Shape.mkString(","))
      .option("compressed", compressed.toString)
      .save(store.toString)
    assert(Files.exists(store.resolve("0/.zarray")), "commit should write .zarray")
    store
  }

  for (compressed <- Seq(false, true)) {
    test(s"write/read round trip preserves every voxel (compressed=$compressed)") {
      val store = makeStore(compressed)
      val rows = spark.read.format("zarr").load(store.toString)
        .select("zc", "yc", "xc", "dz", "dy", "dx", "data")
        .as[(Int, Int, Int, Int, Int, Int, Array[Byte])]
        .collect()
      assert(rows.length == 2 * 2 * 2)
      rows.foreach { case (zc, yc, xc, dz, dy, dx, data) =>
        assert(data.length == dz * dy * dx * 2) // clipped, not padded
        for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx) {
          val off = ((z * dy + y) * dx + x) * 2
          val got = ((data(off + 1) & 0xFF) << 8) | (data(off) & 0xFF)
          assert(got == voxel(Chunk(0) * zc + z, Chunk(1) * yc + y, Chunk(2) * xc + x),
            s"voxel mismatch at chunk ($zc,$yc,$xc) local ($z,$y,$x)")
        }
      }
    }
  }

  test("stored chunk files are padded to the full chunk shape") {
    val store = makeStore(compressed = false)
    // edge chunk (1,1,1): clamped dims (1,1,2) but stored payload 2*4*4*2
    val edge = store.resolve("0/0/0/1/1/1")
    assert(Files.exists(edge))
    assert(Files.readAllBytes(edge).length == Chunk.product * 2)
  }

  test("coordinate filters prune the chunk listing at planning time") {
    val store = makeStore(compressed = false)
    val scanAll = new ZarrScan(store.toString, Array.empty,
      graft.sources.ZarrTable.SCHEMA)
    val all = scanAll.planInputPartitions()
      .map(_.asInstanceOf[ZarrInputPartition].specs.size).sum
    assert(all == 8)
    val pruned = new ZarrScan(store.toString,
      Array(org.apache.spark.sql.sources.EqualTo("zc", 0),
        org.apache.spark.sql.sources.GreaterThan("xc", 0)),
      graft.sources.ZarrTable.SCHEMA)
    val kept = pruned.planInputPartitions()
      .map(_.asInstanceOf[ZarrInputPartition].specs.size).sum
    assert(kept == 2) // zc=0 × yc∈{0,1} × xc=1
    // and the DataFrame-level query returns exactly those chunks
    val got = spark.read.format("zarr").load(store.toString)
      .where($"zc" === 0 && $"xc" > 0)
      .select("zc", "yc", "xc").as[(Int, Int, Int)].collect().toSet
    assert(got == Set((0, 0, 1), (0, 1, 1)))
  }

  test("metadata-only scans never open chunk files (column pruning)") {
    val store = tempDir("zarr-src-spec-meta")
    writeZarrayMeta(store, 0, compressed = false)
    // no chunk files exist at all — a data scan would find nulls, but a
    // coordinate-only scan must still enumerate the full grid
    val n = spark.read.format("zarr").load(store.toString)
      .select("level", "zc", "yc", "xc").count()
    assert(n == 8)
    val withData = spark.read.format("zarr").load(store.toString)
      .select("zc", "data").where($"data".isNull).count()
    assert(withData == 8) // absent files surface as null payloads
  }

  test("v2 writer and foreachPartition sink produce identical chunk bytes") {
    import graft.imaging.SmartSpimPipeline.ChunkRow
    val store1 = makeStore(compressed = true)
    val store2 = tempDir("zarr-src-spec-fep")
    val ds = chunkRows(0)
      .map { case (_, zc, yc, xc, dz, dy, dx, data) =>
        ChunkRow("s", zc, yc, xc, dz, dy, dx, data) }
      .toDS()
    graft.imaging.SmartSpimPipeline.writeLevel(ds, store2.toString, 0, Chunk,
      clevel = 3, byteShuffle = true, compressed = true)
    for ((_, zc, yc, xc, _, _, _, _) <- chunkRows(0)) {
      val a = Files.readAllBytes(store1.resolve(s"0/0/0/$zc/$yc/$xc"))
      val b = Files.readAllBytes(store2.resolve(s"0/0/0/$zc/$yc/$xc"))
      assert(BloscCodec.decompress(a).sameElements(BloscCodec.decompress(b)),
        s"chunk ($zc,$yc,$xc) differs between v2 writer and foreachPartition sink")
    }
    // zarr v3 with (2,2,2) chunks per shard: the job's colocated shard
    // writer (input shard-keyed and shard-contiguous, as rechunk makes
    // it) plus the job's level metadata, against the sink
    val grid = Seq(2, 2, 2)
    val store3 = makeStoreV3(compressed = true, Some(grid))
    val store4 = tempDir("zarr-src-spec-fep-v3")
    val colocated = ds
      .repartition(floor(col("zc") / 2), floor(col("yc") / 2), floor(col("xc") / 2))
      .sortWithinPartitions(floor(col("zc") / 2), floor(col("yc") / 2),
        floor(col("xc") / 2), col("zc"), col("yc"), col("xc"))
      .as[ChunkRow]
    val out4 = store4.toString // the store closure ships to the tasks
    graft.imaging.SmartSpimPipeline.writeLevelBy(colocated, _ => out4, 0,
      Chunk, 3, byteShuffle = true, compressed = true, "zstd", 3, Some(grid),
      colocated = true)
    ZarrStore.writeLevelMeta(out4, 0, Shape.map(_.toLong),
      ZarrStore.Layout(3, Chunk, Some(grid), 3, byteShuffle = true, compressed = true))
    assert(Files.readAllBytes(store3.resolve("0/zarr.json"))
      .sameElements(Files.readAllBytes(store4.resolve("0/zarr.json"))),
      "level zarr.json differs between the job writer and the sink")
    def decoded(store: Path): Seq[(Int, Int, Int, Seq[Byte])] =
      spark.read.format("zarr").load(store.toString)
        .select("zc", "yc", "xc", "data").as[(Int, Int, Int, Array[Byte])]
        .collect().toSeq.map(r => (r._1, r._2, r._3, r._4.toSeq))
        .sortBy(r => (r._1, r._2, r._3))
    val (sink, job) = (decoded(store3), decoded(store4))
    assert(sink.size == 8 && sink.forall(_._4.nonEmpty))
    assert(sink == job, "inner chunks differ between v3 shard writer and sink")
  }

  test("random shapes/chunks round-trip through the v2 source (property)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 6) {
      val shape = Seq(rnd.nextInt(7) + 1, rnd.nextInt(9) + 1, rnd.nextInt(9) + 1)
      val chunk = Seq(rnd.nextInt(4) + 1, rnd.nextInt(5) + 1, rnd.nextInt(5) + 1)
      val compressed = rnd.nextBoolean()
      val Seq(nz, ny, nx) = shape
      val Seq(cz, cy, cx) = chunk
      def voxelOf(z: Int, y: Int, x: Int): Int = ((z * 131 + y * 17 + x * 7) * 523) % 65536
      val rows = for {
        zc <- 0 until (nz + cz - 1) / cz
        yc <- 0 until (ny + cy - 1) / cy
        xc <- 0 until (nx + cx - 1) / cx
      } yield {
        val dz = math.min(cz, nz - zc * cz)
        val dy = math.min(cy, ny - yc * cy)
        val dx = math.min(cx, nx - xc * cx)
        val data = new Array[Byte](dz * dy * dx * 2)
        for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx) {
          val v = voxelOf(zc * cz + z, yc * cy + y, xc * cx + x)
          val off = ((z * dy + y) * dx + x) * 2
          data(off) = (v & 0xFF).toByte; data(off + 1) = ((v >> 8) & 0xFF).toByte
        }
        (0, zc, yc, xc, dz, dy, dx, data)
      }
      val store = tempDir(s"zarr-prop")
      rows.toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "data")
        .write.format("zarr").mode("append")
        .option("chunk", chunk.mkString(","))
        .option("shape", shape.mkString(","))
        .option("compressed", compressed.toString).save(store.toString)
      val back = spark.read.format("zarr").load(store.toString)
        .select("zc", "yc", "xc", "dz", "dy", "dx", "data")
        .as[(Int, Int, Int, Int, Int, Int, Array[Byte])].collect()
      assert(back.length == rows.length, s"shape=$shape chunk=$chunk")
      back.foreach { case (zc, yc, xc, dz, dy, dx, data) =>
        for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx) {
          val off = ((z * dy + y) * dx + x) * 2
          val got = ((data(off + 1) & 0xFF) << 8) | (data(off) & 0xFF)
          assert(got == voxelOf(cz * zc + z, cy * yc + y, cx * xc + x),
            s"shape=$shape chunk=$chunk compressed=$compressed chunk($zc,$yc,$xc) local($z,$y,$x)")
        }
      }
    }
  }

  test("re-writing the same chunks is idempotent (task-retry semantics)") {
    val store = makeStore(compressed = true)
    val before = Files.readAllBytes(store.resolve("0/0/0/0/0/0"))
    // a task retry re-executes the same deterministic writes
    chunkRows(0).toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "data")
      .write.format("zarr").mode("append")
      .option("chunk", Chunk.mkString(","))
      .option("shape", Shape.mkString(","))
      .option("compressed", "true")
      .save(store.toString)
    val after = Files.readAllBytes(store.resolve("0/0/0/0/0/0"))
    assert(after.sameElements(before), "retry must leave identical bytes")
    // no stray temp files left behind
    import scala.jdk.CollectionConverters._
    val temps = Files.walk(store).iterator().asScala
      .filter(p => p.getFileName.toString.contains(".tmp-")).toSeq
    assert(temps.isEmpty, s"leftover temp files: $temps")
  }

  test("the v2 source reads a store written by the FULL job pipeline") {
    // job-side writer (convertStack: .zarray from ZarrMeta, chunk sink,
    // blosc) → DSv2 reader (readLevelMeta + chunk scan): the two write
    // paths and one read path must agree end to end.
    val root = tempDir("graft-zarr-cross")
    val (nz, ny, nx) = (2, 16, 16)
    val stack = graft.imaging.SyntheticStack.write(
      root.resolve("SmartSPIM/Ex_445_Em_469/440000/440000_460000"), nz, ny, nx)(
      (z, y, x) => (z * 4099 + (y * nx + x) * 17) % 65536)
    graft.imaging.SmartSpimJob.convertStack(spark, stack,
      graft.core.JobSettings(inputSource = root.toString,
        outputDirectory = root.resolve("out").toString,
        chunkSize = Seq(16, 16, 16), downsampleLevels = 1), Seq(2.0, 1.8, 1.8))
    val store = root.resolve("out/Ex_445_Em_469/440000_460000.ome.zarr").toString
    val rows = spark.read.format("zarr").load(store)
      .where(col("level") === 0).collect()
    // shape (2,16,16) with 16^3 chunks → exactly one chunk (0,0,0)
    assert(rows.length == 1 && rows.head.getAs[Int]("zc") == 0)
    val data = rows.head.getAs[Array[Byte]]("data")
    // voxel (z=1, y=3, x=5) through the job write + v2 read
    val off = ((1 * 16 + 3) * 16 + 5) * 2
    val got = ((data(off + 1) & 0xFF) << 8) | (data(off) & 0xFF)
    assert(got == (1 * 4099 + (3 * 16 + 5) * 17) % 65536)
  }

  // ------------------------------------------------------------ zarr v3

  /** The sharded-write contract (ZarrDataWriter scaladoc): co-locate
    * each shard's chunks in one task by repartitioning on the shard
    * key, contiguously by sorting within partitions on it. */
  private def shardAligned(df: org.apache.spark.sql.DataFrame,
      shard: Seq[Int]): org.apache.spark.sql.DataFrame = {
    val Seq(gz, gy, gx) = shard
    val key = Seq(col("level"), floor(col("zc") / gz),
      floor(col("yc") / gy), floor(col("xc") / gx))
    df.repartition(key: _*)
      .sortWithinPartitions(key ++ Seq(col("zc"), col("yc"), col("xc")): _*)
  }

  private def makeStoreV3(compressed: Boolean, shard: Option[Seq[Int]]): Path = {
    val store = tempDir("zarr-src-spec-v3")
    val df0 = chunkRows(0).toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "data")
    val df = shard.fold(df0)(sh => shardAligned(df0, sh))
    val w = df.write.format("zarr").mode("append")
      .option("chunk", Chunk.mkString(","))
      .option("shape", Shape.mkString(","))
      .option("compressed", compressed.toString)
      .option("zarr_format", "3")
    shard.fold(w)(sh => w.option("shard", sh.mkString(","))).save(store.toString)
    store
  }

  /** Messages along a throwable's cause chain. */
  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private def assertAllVoxels(store: Path): Unit = {
    val rows = spark.read.format("zarr").load(store.toString)
      .select("zc", "yc", "xc", "dz", "dy", "dx", "data")
      .as[(Int, Int, Int, Int, Int, Int, Array[Byte])].collect()
    assert(rows.length == 8)
    rows.foreach { case (zc, yc, xc, dz, dy, dx, data) =>
      assert(data != null && data.length == dz * dy * dx * 2)
      for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx) {
        val off = ((z * dy + y) * dx + x) * 2
        val got = ((data(off + 1) & 0xFF) << 8) | (data(off) & 0xFF)
        assert(got == voxel(Chunk(0) * zc + z, Chunk(1) * yc + y, Chunk(2) * xc + x),
          s"voxel mismatch at chunk ($zc,$yc,$xc) local ($z,$y,$x)")
      }
    }
  }

  for (compressed <- Seq(false, true)) {
    test(s"v3 unsharded round trip (compressed=$compressed): zarr.json + c/ keys") {
      val store = makeStoreV3(compressed, None)
      assert(Files.exists(store.resolve("0/zarr.json")))
      assert(Files.exists(store.resolve("zarr.json")), "root v3 group doc")
      assert(Files.exists(store.resolve("0/c/0/0/0/0/0")), "default chunk key encoding")
      assertAllVoxels(store)
    }
  }

  for (compressed <- Seq(false, true)) {
    test(s"v3 sharded round trip (compressed=$compressed): one object per shard") {
      // chunk grid 2x2x2, shard (1,2,2) chunks -> 2 shard objects total
      val store = makeStoreV3(compressed, Some(Seq(1, 2, 2)))
      assert(Files.exists(store.resolve("0/c/0/0/0/0/0")))
      assert(Files.exists(store.resolve("0/c/0/0/1/0/0")))
      assert(!Files.exists(store.resolve("0/c/0/0/0/0/1")),
        "chunks must live INSIDE shards, not as loose objects")
      assertAllVoxels(store)
    }
  }

  test("v3 shard footer: row-major uint64-LE index + valid crc32c") {
    val store = makeStoreV3(compressed = false, Some(Seq(1, 2, 2)))
    val bytes = Files.readAllBytes(store.resolve("0/c/0/0/0/0/0"))
    val slots = 4 // 1*2*2 inner chunks per shard
    val idx = java.util.Arrays.copyOfRange(bytes, bytes.length - slots * 16 - 4,
      bytes.length - 4)
    val crc = new java.util.zip.CRC32C(); crc.update(idx)
    val stored = java.nio.ByteBuffer
      .wrap(bytes, bytes.length - 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(stored == crc.getValue.toInt, "crc32c over the index must verify")
    val bb = java.nio.ByteBuffer.wrap(idx).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val entries = Array.fill(slots)((bb.getLong, bb.getLong))
    assert(entries.forall { case (o, n) => o >= 0 && n > 0 }, "all 4 slots present")
    // uncompressed inner chunks are exactly the padded chunk bytes
    assert(entries.forall(_._2 == Chunk.product * 2))
    assert(entries.map(_._1).toSeq == entries.map(_._1).toSeq.sorted,
      "row-major append order")
  }

  test("v3 sharded: filter pushdown prunes to chunks inside one shard") {
    val store = makeStoreV3(compressed = true, Some(Seq(1, 2, 2)))
    val got = spark.read.format("zarr").load(store.toString)
      .where($"zc" === 1 && $"xc" > 0)
      .select("zc", "yc", "xc").as[(Int, Int, Int)].collect().toSet
    assert(got == Set((1, 0, 1), (1, 1, 1)))
  }

  test("v3 sharded: a missing inner chunk reads as null data") {
    val store = tempDir("zarr-v3-missing")
    // write only the (0,0,0) chunk of a 2x2x2 grid into (2,2,2)-chunk shards
    chunkRows(0).take(1).toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "data")
      .write.format("zarr").mode("append")
      .option("chunk", Chunk.mkString(","))
      .option("shape", Shape.mkString(","))
      .option("zarr_format", "3").option("shard", "2,2,2")
      .save(store.toString)
    val rows = spark.read.format("zarr").load(store.toString)
      .select("zc", "yc", "xc", "data")
      .as[(Int, Int, Int, Array[Byte])].collect()
    assert(rows.length == 8)
    assert(rows.count(_._4 != null) == 1)
    assert(rows.find(r => (r._1, r._2, r._3) == ((0, 0, 0))).get._4 != null)
  }

  test("v3 sink: a shard split round-robin over two tasks fails, naming the shard") {
    val store = tempDir("zarr-v3-split")
    // the 8 chunks of ONE (2,2,2) shard; slice i of the rdd gets
    // chunks i, i+2, i+4, i+6 — each task holds half of the shard
    val rows = chunkRows(0).zipWithIndex.sortBy(_._2 % 2).map(_._1)
    val df = spark.sparkContext.parallelize(rows, 2)
      .toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "data")
    assert(df.rdd.getNumPartitions == 2)
    val ex = intercept[Throwable] {
      df.write.format("zarr").mode("append")
        .option("chunk", Chunk.mkString(","))
        .option("shape", Shape.mkString(","))
        .option("zarr_format", "3").option("shard", "2,2,2")
        .save(store.toString)
    }
    assert(messages(ex).exists(_.contains("0/c/0/0/0/0/0")), s"got: ${messages(ex)}")
  }

  test("v3 sharded re-write is idempotent (task-retry semantics)") {
    val store = makeStoreV3(compressed = true, Some(Seq(1, 2, 2)))
    val before = Files.readAllBytes(store.resolve("0/c/0/0/0/0/0"))
    shardAligned(
      chunkRows(0).toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "data"),
      Seq(1, 2, 2))
      .write.format("zarr").mode("append")
      .option("chunk", Chunk.mkString(","))
      .option("shape", Shape.mkString(","))
      .option("compressed", "true")
      .option("zarr_format", "3").option("shard", "1,2,2")
      .save(store.toString)
    val after = Files.readAllBytes(store.resolve("0/c/0/0/0/0/0"))
    assert(after.sameElements(before))
    import scala.jdk.CollectionConverters._
    val temps = Files.walk(store).iterator().asScala
      .filter(p => p.getFileName.toString.contains(".tmp-")).toSeq
    assert(temps.isEmpty, s"leftover temp files: $temps")
  }

  test("v3 metadata parse: LevelMeta carries format, inner chunk and shard grid") {
    val storeSharded = makeStoreV3(compressed = true, Some(Seq(1, 2, 2)))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val m = ZarrTable.readLevelMeta(fs,
      new org.apache.hadoop.fs.Path(storeSharded.toString), 0).get
    assert(m.format == 3 && m.chunk == Chunk && m.shard.contains(Seq(1, 2, 2))
      && m.compressed)
    val storePlain = makeStoreV3(compressed = false, None)
    val m2 = ZarrTable.readLevelMeta(fs,
      new org.apache.hadoop.fs.Path(storePlain.toString), 0).get
    assert(m2.format == 3 && m2.chunk == Chunk && m2.shard.isEmpty && !m2.compressed)
  }

  test("NGFF 0.5 group doc: ome attributes render and versions sit at the envelope") {
    import org.json4s._
    val g = ZarrMeta.zarrJsonGroup(Some(
      ZarrMeta.ome05Multiscales("img", 3, Seq(2, 2, 2), Seq(2.0, 1.8, 1.8))))
    val j = org.json4s.jackson.JsonMethods.parse(ZarrMeta.render(g))
    assert((j \ "zarr_format") == JInt(3) && (j \ "node_type") == JString("group"))
    assert((j \ "attributes" \ "ome" \ "version") == JString("0.5"))
    val ms = (j \ "attributes" \ "ome" \ "multiscales")(0)
    assert((ms \ "version") == JNothing, "0.5 drops per-multiscale version")
    val paths = (ms \ "datasets" \\ "path")
    assert((ms \ "axes").children.length == 5)
  }

  // ------------------------------------- third-party shard index geometry

  /** Rewrites a writer-produced sharded store (index at END with a
    * crc32c tail) into an alternate geometry a third-party v3 writer
    * may legally choose — `index_codecs: [bytes]` (no crc) and/or
    * `index_location: start` — and patches the declaration to match.
    * Reads must then follow the DECLARED geometry; the old
    * object-length heuristic would misparse any no-crc shard whose
    * payload is >= 4 bytes. */
  private def reshapeShards(store: Path, crc: Boolean, atStart: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val slots = 4 // shard grid (1,2,2)
    val base = slots * 16
    Files.walk(store.resolve("0/c")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.forall(_.isDigit)).foreach { p =>
        val bytes = Files.readAllBytes(p)
        val payload = java.util.Arrays.copyOfRange(bytes, 0, bytes.length - base - 4)
        val bb = java.nio.ByteBuffer
          .wrap(bytes, bytes.length - base - 4, base)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val idxLen = base + (if (crc) 4 else 0)
        val offs = new Array[Long](slots)
        val lens = new Array[Long](slots)
        for (i <- 0 until slots) {
          val (o, n) = (bb.getLong, bb.getLong)
          // index-at-start ⇒ payload shifts by idxLen; offsets stay
          // absolute within the shard object per the v3 spec
          offs(i) = if (o < 0 || !atStart) o else o + idxLen
          lens(i) = n
        }
        val newIdx =
          if (crc) ZarrStore.shardIndex(offs, lens)
          else {
            val b = java.nio.ByteBuffer.allocate(base)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            for (i <- 0 until slots) { b.putLong(offs(i)); b.putLong(lens(i)) }
            b.array()
          }
        Files.write(p, if (atStart) newIdx ++ payload else payload ++ newIdx)
        // the DSv2 sink wrote through Hadoop's checksummed local FS;
        // rewriting bytes out-of-band invalidates its .crc sidecar
        Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      }
    val metaP = store.resolve("0/zarr.json")
    val bytesLe: JValue =
      ("name" -> "bytes") ~ ("configuration" -> (("endian" -> "little"): JObject))
    val idxCodecs: JValue = JArray(
      if (crc) List(bytesLe, ("name" -> "crc32c") ~ JObject()) else List(bytesLe))
    val patched = JsonMethods.parse(Files.readString(metaP)).transformField {
      case ("index_location", _) =>
        ("index_location", JString(if (atStart) "start" else "end"))
      case ("index_codecs", _) => ("index_codecs", idxCodecs)
    }
    Files.writeString(metaP, JsonMethods.pretty(JsonMethods.render(patched)))
    Files.deleteIfExists(metaP.resolveSibling(s".${metaP.getFileName}.crc"))
  }

  for ((crc, atStart) <- Seq((false, false), (false, true), (true, true))) {
    test(s"v3 sharded third-party geometry reads by declaration: " +
        s"crc=$crc index_location=${if (atStart) "start" else "end"}") {
      val store = makeStoreV3(compressed = false, Some(Seq(1, 2, 2)))
      reshapeShards(store, crc, atStart)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        new org.apache.hadoop.conf.Configuration())
      val m = ZarrTable.readLevelMeta(fs,
        new org.apache.hadoop.fs.Path(store.toString), 0).get
      assert(m.shardIdxCrc == crc && m.shardIdxStart == atStart)
      assertAllVoxels(store)
    }
  }

  test("v3 shard index crc mismatch fails loudly, not with silent wrong voxels") {
    val store = makeStoreV3(compressed = false, Some(Seq(1, 2, 2)))
    val p = store.resolve("0/c/0/0/0/0/0")
    val bytes = Files.readAllBytes(p)
    // flip one bit inside the last slot's nbytes field without
    // recomputing the crc tail
    bytes(bytes.length - 12) = (bytes(bytes.length - 12) ^ 0x1).toByte
    Files.write(p, bytes)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    val ex = intercept[Throwable] {
      spark.read.format("zarr").load(store.toString).select("data").collect()
    }
    assert(messages(ex).exists(_.contains("crc32c")), s"got: ${messages(ex)}")
  }

  test("GraftExtensions injects dot_product and cosine_sim into the registry") {
    // the test session is built by the plain factory: the functions
    // come from the service-loaded extension
    val r = spark.sql("SELECT cosine_sim(array(3.0F, 4.0F), array(3.0F, 4.0F)) c, " +
      "dot_product(array(3.0F, 4.0F), array(1.0F, 2.0F)) d").collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 11.0)
  }
}
