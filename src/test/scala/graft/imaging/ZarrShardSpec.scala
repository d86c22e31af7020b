package graft.imaging

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Binary layout law for v3 `sharding_indexed` shard objects
  * (ZarrStore.ShardWriter): body = concatenated present payloads in
  * arrival order, footer = row-major (offset, nbytes) uint64-LE pairs
  * + crc32c of the index bytes, missing slots = (-1, -1). The DSv2
  * reader's footer parse relies on exactly this. */
class ZarrShardSpec extends AnyFunSuite with TempDirs {

  private def parseFooter(obj: Array[Byte], slots: Int): Array[(Long, Long)] = {
    val idxLen = slots * 16
    val bb = java.nio.ByteBuffer.wrap(obj, obj.length - idxLen - 4, idxLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(slots)((bb.getLong, bb.getLong))
  }

  /** One shard object streamed through the writer, payloads in the
    * given (slot, payload) order; raw local FS, so no `.crc` sidecar. */
  private def streamed(slots: Int, payloads: (Int, Array[Byte])*): Array[Byte] = {
    val store = tempDir("zarr-shard-spec")
    val fs = FileSystem.getLocal(new Configuration()).getRaw
    val w = new ZarrStore.ShardWriter(slots)
    try {
      payloads.foreach { case (slot, p) => w.write(fs, store.toString, "s", slot, p) }
      w.finish()
    } finally w.abort()
    Files.readAllBytes(store.resolve("s"))
  }

  test("assemble: offsets address payloads, missing slots are (-1,-1), crc32c checks") {
    val a = Array[Byte](1, 2, 3)
    val c = Array[Byte](9, 8, 7, 6)
    val obj = streamed(3, 0 -> a, 2 -> c)
    assert(obj.length == a.length + c.length + 3 * 16 + 4)
    val idx = parseFooter(obj, 3)
    assert(idx(0) == (0L, 3L) && idx(1) == (-1L, -1L) && idx(2) == (3L, 4L))
    assert(obj.slice(0, 3).toSeq == a.toSeq)
    assert(obj.slice(idx(2)._1.toInt, idx(2)._1.toInt + 4).toSeq == c.toSeq)
    // crc32c over the index bytes matches the stored LE tail
    val idxBytes = obj.slice(obj.length - 3 * 16 - 4, obj.length - 4)
    val crc = new java.util.zip.CRC32C(); crc.update(idxBytes)
    val stored = java.nio.ByteBuffer.wrap(obj, obj.length - 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(stored == crc.getValue.toInt)
  }

  test("index() is assemble's tail; body order is free (streamed-writer law)") {
    val a = Array[Byte](1, 2, 3)
    val c = Array[Byte](9, 8, 7, 6)
    val obj = streamed(3, 0 -> a, 2 -> c)
    assert(ZarrStore.shardIndex(Array(0L, -1L, 3L), Array(3L, -1L, 4L)).toSeq ==
      obj.slice(a.length + c.length, obj.length).toSeq)
    // a streamed writer that saw slot 2 first writes body c++a with
    // swapped offsets — every slot still resolves to its own payload
    val streamedCA = streamed(3, 2 -> c, 0 -> a)
    assert(streamedCA.toSeq ==
      (c ++ a ++ ZarrStore.shardIndex(Array(4L, -1L, 0L), Array(3L, -1L, 4L))).toSeq)
    val idx = parseFooter(streamedCA, 3)
    assert(streamedCA.slice(idx(0)._1.toInt, idx(0)._1.toInt + idx(0)._2.toInt).toSeq == a.toSeq)
    assert(streamedCA.slice(idx(2)._1.toInt, idx(2)._1.toInt + idx(2)._2.toInt).toSeq == c.toSeq)
  }

  test("a shard that shows up again after another one fails, naming the shard") {
    val store = tempDir("zarr-shard-split")
    val fs = FileSystem.getLocal(new Configuration()).getRaw
    val w = new ZarrStore.ShardWriter(2)
    try {
      w.write(fs, store.toString, "s", 0, Array[Byte](1))
      w.write(fs, store.toString, "t", 0, Array[Byte](2))
      val ex = intercept[IllegalStateException] {
        w.write(fs, store.toString, "s", 1, Array[Byte](3))
      }
      assert(ex.getMessage.contains(s"$store/s"))
    } finally w.abort()
    // the finished shards stay committed; the failed one left no temp
    assert(Files.list(store).iterator().hasNext)
    assert(!Files.list(store).anyMatch(_.getFileName.toString.contains(".tmp-")))
  }

  test("all-missing shard: pure footer, every slot (-1,-1)") {
    // the streamed writer never opens a shard without a payload; the
    // footer it would append is the whole object
    val obj = ZarrStore.shardIndex(Array.fill(4)(-1L), Array.fill(4)(-1L))
    assert(obj.length == 4 * 16 + 4)
    assert(parseFooter(obj, 4).forall(_ == (-1L, -1L)))
  }
}
