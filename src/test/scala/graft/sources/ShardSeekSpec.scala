package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSessionTestWrapper, TempDirs}
import graft.imaging.{ZarrMeta, ZarrStore}
import graft.testfs.MockFileSystem

/** Large-shard READ proof (round-11 verdict item 6): a one-chunk
  * lookup in a v3 shard much larger than the chunk must seek via the
  * footer index — read volume ≈ index + that chunk's payload — never
  * buffer the whole shard object (whole-object buffering OOMs 32
  * concurrent 8 g-heap tasks on production-sized shards; the WRITE
  * side already streams, this pins the read side).
  *
  * The store sits behind the byte-counting `mock://` FileSystem, so
  * the assertion is on actual bytes fetched, not on plan shape.
  */
class ShardSeekSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  // one shard of 4×4×4 uncompressed 64³ chunks: 64 slots × 512 KiB
  // payload = 32 MiB object + 1 KiB footer index
  private val C = 64
  private val G = 4
  private val N = C * G
  private val ChunkBytes = C * C * C * 2
  private val Slots = G * G * G
  private val IndexBytes = Slots * 16 + 4

  /** Store built with the streamed shard writer on the raw local FS
    * (no Hadoop .crc sidecars), read back through mock:// for byte
    * counting. */
  private lazy val store: Path = {
    val root = tempDir("graft-shard-seek")
    val lvl = root.resolve("0")
    Files.createDirectories(lvl.resolve("c/0/0/0/0"))
    Files.writeString(lvl.resolve("zarr.json"), ZarrMeta.render(
      ZarrMeta.zarrJsonArray(
        Seq(1L, 1L, N.toLong, N.toLong, N.toLong),
        Seq(1, 1, C, C, C), Some(Seq(1, 1, G, G, G)),
        3, byteShuffle = true, compressed = false)))
    val fs = FileSystem.getLocal(new Configuration()).getRaw
    val w = new ZarrStore.ShardWriter(Slots)
    try {
      for (slot <- 0 until Slots) {
        val payload = new Array[Byte](ChunkBytes)
        // distinguishable per-slot content at the first voxel
        payload(0) = (slot & 0xFF).toByte
        payload(1) = ((slot >> 8) & 0xFF).toByte
        w.write(fs, root.toString, "0/c/0/0/0/0/0", slot, payload)
      }
      w.finish()
    } finally w.abort()
    root
  }

  private def mockPath = s"mock://${store.toString}"

  test("one-chunk read fetches index + one payload, not the 32 MiB shard") {
    val shardSize = Files.size(store.resolve("0/c/0/0/0/0/0"))
    assert(shardSize > 32L * 1024 * 1024)
    MockFileSystem.bytesRead.set(0L)
    // chunk (2,3,1) → row-major slot 2*16 + 3*4 + 1 = 45
    val rows = spark.read.format("zarr").load(mockPath)
      .where("zc = 2 AND yc = 3 AND xc = 1")
      .select("data").collect()
    val read = MockFileSystem.bytesRead.get()
    assert(rows.length == 1 && rows.head.getAs[Array[Byte]]("data").length == ChunkBytes)
    assert(rows.head.getAs[Array[Byte]]("data")(0) == 45.toByte)
    assert(read >= ChunkBytes + IndexBytes,
      s"must fetch at least the payload and the footer index (read $read)")
    assert(read < 2L * ChunkBytes,
      s"one-chunk lookup fetched $read bytes of a $shardSize-byte shard — " +
        "reader is buffering the object instead of seeking the index")
  }

  test("metadata-only scan over the sharded store reads zero shard bytes") {
    MockFileSystem.bytesRead.set(0L)
    val n = spark.read.format("zarr").load(mockPath)
      .select("zc", "yc", "xc").collect().length
    assert(n == Slots)
    // only the level's zarr.json metadata (~2 KiB) may be read
    assert(MockFileSystem.bytesRead.get() < 8192,
      "coordinate-only scans must stay pure-listing")
  }

  test("full-shard read opens the footer once per reader, not per chunk") {
    MockFileSystem.bytesRead.set(0L)
    val rows = spark.read.format("zarr").load(mockPath)
      .select("data").collect()
    assert(rows.length == Slots)
    val read = MockFileSystem.bytesRead.get()
    val readers = spark.sparkContext.defaultParallelism.min(Slots)
    // all payloads + at most one index fetch per partition reader
    // (+ the level metadata JSON)
    assert(read >= Slots.toLong * ChunkBytes)
    assert(read <= Slots.toLong * ChunkBytes + readers.toLong * IndexBytes + 8192,
      s"index should be cached per reader (read $read)")
  }
}
