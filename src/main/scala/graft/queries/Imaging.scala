package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.imaging.{ImageCodec, SmartSpimPipeline}
import graft.imaging.SmartSpimPipeline.{ChunkRow, SliceRow}

/** Driver-gate coverage for the imaging core (SURVEY.md §2 S2/P3/A1/C2):
  * until this query, the scan→rechunk→downsample dataflow was verified
  * only by sbt suites; here it runs under the SAME DuckDB hash gate as
  * every relational operator.
  *
  * A deterministic synthetic stack — voxel(z,y,x) = (31z + 17y + 13x)
  * mod 65536 — is built in-plan (one slice per task), pushed through
  * the REAL pipeline code paths (16-bit PNG encode→decode roundtrip
  * per slice, fragment-explode rechunk shuffle, dtype-truncating
  * windowed-mean pyramid step with sibling-merge), and reduced to one
  * md5 digest per stored chunk over the chunk's voxels in local
  * row-major order. The DuckDB oracle regenerates the voxel grid with
  * `range()`, replays the floor-mean (`sum // count` — windows never
  * straddle chunks because the chunk dims divide by the factor) and
  * hashes the same comma-joined strings: every byte of every chunk at
  * both levels is pinned cross-engine.
  *
  * The grid is deliberately tiny (8×32×32): this is a semantics gate,
  * not a throughput test — the 100 TB arguments for the same code
  * paths live with the pipeline itself (SmartSpimPipeline's scaladoc)
  * and its plan/bench suites.
  */
object Imaging {
  type Q = (SparkSession, String) => DataFrame

  private val NZ = 8; private val NY = 32; private val NX = 32
  private val CHUNK = Seq(4, 16, 16)
  private val FACTOR = Seq(2, 2, 2)

  /** voxel value at (z, y, x) — shared by the slice synthesizer and
    * (re-derived in SQL) the oracle. */
  private def voxel(z: Int, y: Int, x: Int): Int = (31 * z + 17 * y + 13 * x) % 65536

  private def digestRows(level: Int, ds: Dataset[ChunkRow]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { c =>
      val sb = new StringBuilder
      val n = c.dz * c.dy * c.dx
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(',')
        sb.append(((c.data(2 * i + 1) & 0xFF) << 8) | (c.data(2 * i) & 0xFF))
        i += 1
      }
      (level, c.zc, c.yc, c.xc, c.dz, c.dy, c.dx, sb.toString)
    }.toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "vals")
  }

  /** The synthetic stack pushed through the real pipeline: levels 0-2
    * as chunk datasets (rechunk shuffle, iterated + fused floor-mean). */
  private def pyramid(s: SparkSession): Seq[Dataset[ChunkRow]] = {
    import s.implicits._
    val slices: Dataset[SliceRow] = s.range(NZ).map { zl =>
      val z = zl.toInt
      val raw = new Array[Byte](NY * NX * 2)
      var y = 0
      while (y < NY) {
        var x = 0
        while (x < NX) {
          val v = voxel(z, y, x)
          val off = (y * NX + x) * 2
          raw(off) = (v & 0xFF).toByte
          raw(off + 1) = ((v >> 8) & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      // real codec roundtrip: the fast 16-bit PNG path is on the gated path
      val dec = ImageCodec.decode(ImageCodec.encodePng16(NX, NY, raw))
      SliceRow("synth", z, dec.height, dec.width, dec.data)
    }
    val l0 = SmartSpimPipeline.rechunk(slices, CHUNK)
    val l1 = SmartSpimPipeline.downsampleLevel(l0, CHUNK, FACTOR)
    // level 2 via the FUSED path (downsampleToLevel straight from
    // level 0) — its iterated-floor-mean equivalence is spec-pinned,
    // and this row puts it under the cross-engine hash gate as well
    val l2 = SmartSpimPipeline.downsampleToLevel(l0, CHUNK, FACTOR, 2)
    Seq(l0, l1, l2)
  }

  private def digestOf(levels: Seq[DataFrame]): DataFrame =
    levels.reduce(_ union _)
      .select(col("level"), col("zc"), col("yc"), col("xc"),
        col("dz"), col("dy"), col("dx"), md5(col("vals")).as("digest"))
      .orderBy("level", "zc", "yc", "xc")

  /** Per-chunk md5 digests of levels 0 and 1 of the synthetic stack.
    * Takes no input table — the dataset dir is unused (the stack is
    * synthesized so the oracle can regenerate it exactly). */
  val qImagingDigest: Q = (s, _) => {
    val Seq(l0, l1, l2) = pyramid(s)
    digestOf(Seq(digestRows(0, l0), digestRows(1, l1), digestRows(2, l2)))
  }

  /** The SAME digest gate, but every chunk first round-trips through
    * the zarr v3 SHARDED DSv2 sink + source (round-10 verdict item 5):
    * pyramid levels write into one v3 store (2×2×2 chunks per shard,
    * blosc-compressed inner chunks, crc32c footer index, shard-aligned
    * repartition and sort per the sink contract), then the digest is
    * computed from the READ-BACK rows — so the identical DuckDB oracle hash
    * pins the full v3 write+read path byte-for-byte, alongside the
    * in-memory q_imaging_digest. */
  val qImagingDigestV3: Q = (s, _) => {
    import s.implicits._
    val Seq(l0, l1, l2) = pyramid(s)
    val store = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"),
      s"graft_digest_v3_${java.util.UUID.randomUUID().toString.replace("-", "")}")
      .getAbsolutePath
    def writeLevel(level: Int, ds: Dataset[ChunkRow], shape: Seq[Int]): Unit =
      ds.map(c => (level, c.zc, c.yc, c.xc, c.dz, c.dy, c.dx, c.data))
        .toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "data")
        // sink contract: each shard's chunks in one task, contiguously
        .repartition(col("level"), floor(col("zc") / 2),
          floor(col("yc") / 2), floor(col("xc") / 2))
        .sortWithinPartitions(col("level"), floor(col("zc") / 2),
          floor(col("yc") / 2), floor(col("xc") / 2),
          col("zc"), col("yc"), col("xc"))
        .write.format("zarr").mode("append")
        .option("chunk", CHUNK.mkString(","))
        .option("shape", shape.mkString(","))
        .option("zarr_format", "3").option("shard", "2,2,2")
        .option("level", level.toString)
        .save(store)
    writeLevel(0, l0, Seq(NZ, NY, NX))
    writeLevel(1, l1, Seq(NZ / 2, NY / 2, NX / 2))
    writeLevel(2, l2, Seq(NZ / 4, NY / 4, NX / 4))
    val vals = s.read.format("zarr").load(store)
      .as[(Int, Int, Int, Int, Int, Int, Int, Array[Byte])]
      .map { case (level, zc, yc, xc, dz, dy, dx, data) =>
        val sb = new StringBuilder
        val n = dz * dy * dx
        var i = 0
        while (i < n) {
          if (i > 0) sb.append(',')
          sb.append(((data(2 * i + 1) & 0xFF) << 8) | (data(2 * i) & 0xFF))
          i += 1
        }
        (level, zc, yc, xc, dz, dy, dx, sb.toString)
      }.toDF("level", "zc", "yc", "xc", "dz", "dy", "dx", "vals")
    // materialize the (bounded: one row per chunk of the synthetic
    // stack) digest before handing the frame back, so the tmp store
    // can be deleted NOW instead of leaking one directory per
    // bench/verify pass (the returned frame no longer reads it lazily)
    val out = digestOf(Seq(vals))
    val rows = out.collect()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(store))
    s.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  def queries: Map[String, Q] = Map(
    "q_imaging_digest" -> qImagingDigest,
    "q_imaging_digest_v3" -> qImagingDigestV3)

  def oracleSql: Map[String, String] = Map(
    // identical voxel law for both: the v3 variant must read back the
    // exact bytes the in-memory pipeline produced
    "q_imaging_digest" -> digestSql,
    "q_imaging_digest_v3" -> digestSql)

  private lazy val digestSql: String = {
      val Seq(cz, cy, cx) = CHUNK
      s"""WITH v0 AS (
         |  SELECT t1.z AS z, t2.y AS y, t3.x AS x,
         |    (31 * t1.z + 17 * t2.y + 13 * t3.x) % 65536 AS v
         |  FROM range(0, $NZ) t1(z), range(0, $NY) t2(y), range(0, $NX) t3(x)),
         |d0 AS (
         |  SELECT 0 AS level, z // $cz AS zc, y // $cy AS yc, x // $cx AS xc,
         |    CAST(max(z) - min(z) + 1 AS INT) AS dz,
         |    CAST(max(y) - min(y) + 1 AS INT) AS dy,
         |    CAST(max(x) - min(x) + 1 AS INT) AS dx,
         |    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY z, y, x)) AS digest
         |  FROM v0 GROUP BY 2, 3, 4),
         |v1 AS (
         |  SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x,
         |    sum(v) // count(*) AS v
         |  FROM v0 GROUP BY 1, 2, 3),
         |d1 AS (
         |  SELECT 1 AS level, z // $cz AS zc, y // $cy AS yc, x // $cx AS xc,
         |    CAST(max(z) - min(z) + 1 AS INT) AS dz,
         |    CAST(max(y) - min(y) + 1 AS INT) AS dy,
         |    CAST(max(x) - min(x) + 1 AS INT) AS dx,
         |    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY z, y, x)) AS digest
         |  FROM v1 GROUP BY 2, 3, 4),
         |v2 AS (
         |  SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x,
         |    sum(v) // count(*) AS v
         |  FROM v1 GROUP BY 1, 2, 3),
         |d2 AS (
         |  SELECT 2 AS level, z // $cz AS zc, y // $cy AS yc, x // $cx AS xc,
         |    CAST(max(z) - min(z) + 1 AS INT) AS dz,
         |    CAST(max(y) - min(y) + 1 AS INT) AS dy,
         |    CAST(max(x) - min(x) + 1 AS INT) AS dx,
         |    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY z, y, x)) AS digest
         |  FROM v2 GROUP BY 2, 3, 4)
         |SELECT CAST(level AS INT) AS level, CAST(zc AS INT) AS zc,
         |  CAST(yc AS INT) AS yc, CAST(xc AS INT) AS xc, dz, dy, dx, digest
         |FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2) u
         |ORDER BY level, zc, yc, xc""".stripMargin
  }
}
