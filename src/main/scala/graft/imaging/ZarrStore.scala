package graft.imaging

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path => HPath}
import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator
import org.json4s.JObject

/** The zarr store format in one place (reference: create_dataset +
  * BlockedArrayWriter.store, png_to_zarr.py:691-702,
  * zarr_writer.py:188-213). Every zarr object the engine writes — the
  * job's chunks, shards and metadata (SmartSpimPipeline, SmartSpimJob)
  * and the DSv2 `zarr` sink's — goes through here, and the DSv2 source
  * resolves its chunk paths here.
  *
  * Key layout, "/" separator, TCZYX with singleton t and c: v2
  * `<level>/.zarray` and chunks `<level>/0/0/<z>/<y>/<x>`; v3
  * `<level>/zarr.json` and chunks `<level>/c/0/0/<z>/<y>/<x>`, where a
  * `sharding_indexed` level stores one object per SHARD at the key of
  * its shard-grid coordinates (payloads, then a crc32c-guarded index).
  * Writes are atomic (temp + rename) and keys deterministic, so a
  * retried task overwrites with identical bytes.
  */
object ZarrStore {

  // ------------------------------------------------------------ layout

  def chunkKey(format: Int, level: Int, zc: Int, yc: Int, xc: Int): String =
    if (format == 2) s"$level/0/0/$zc/$yc/$xc" else s"$level/c/0/0/$zc/$yc/$xc"

  /** Key of the v3 shard object holding chunk (zc, yc, xc); `grid` is
    * the chunks-per-shard grid (z, y, x). */
  def shardKey(grid: Seq[Int], level: Int, zc: Int, yc: Int, xc: Int): String =
    chunkKey(3, level, zc / grid(0), yc / grid(1), xc / grid(2))

  /** Row-major slot of chunk (zc, yc, xc) in its shard's index. */
  def slot(grid: Seq[Int], zc: Int, yc: Int, xc: Int): Int =
    ((zc % grid(0)) * grid(1) + (yc % grid(1))) * grid(2) + (xc % grid(2))

  def levelMetaKey(format: Int, level: Int): String =
    if (format == 2) s"$level/.zarray" else s"$level/zarr.json"

  /** How one level's chunks are stored: zarr `format` (2 or 3), the
    * logical chunk (z, y, x), the chunks-per-shard grid (honoured in
    * v3 only) and the blosc settings. uint16 little-endian pixels. */
  final case class Layout(format: Int, chunk: Seq[Int], shard: Option[Seq[Int]],
      clevel: Int, byteShuffle: Boolean, compressed: Boolean,
      cname: String = "zstd") {
    /** The chunks-per-shard grid when this level is written as shards. */
    val grid: Option[Seq[Int]] = shard.filter(_ => format == 3)

    /** Pad an edge chunk (dims dz, dy, dx) to the full chunk shape with
      * the fill value, as zarr requires, and apply the blosc codec: the
      * chunk payload as stored. */
    def encode(dz: Int, dy: Int, dx: Int, data: Array[Byte]): Array[Byte] = {
      val Seq(cz, cy, cx) = chunk
      val full =
        if (dz == cz && dy == cy && dx == cx) data
        else {
          val out = new Array[Byte](cz * cy * cx * 2)
          var z = 0
          while (z < dz) {
            var y = 0
            while (y < dy) {
              System.arraycopy(data, ((z * dy + y) * dx) * 2,
                out, ((z * cy + y) * cx) * 2, dx * 2)
              y += 1
            }
            z += 1
          }
          out
        }
      if (compressed) BloscCodec.compress(full, 2, clevel, byteShuffle, cname)
      else full
    }
  }

  // --------------------------------------------------------- object put

  /** Open a temp sibling of `target` (`.<name>.tmp-<uuid>`). */
  private def createTmp(fs: FileSystem, target: HPath): (HPath, FSDataOutputStream) = {
    val dir = target.getParent
    fs.mkdirs(dir)
    val tmp = new HPath(dir, s".${target.getName}.tmp-${java.util.UUID.randomUUID}")
    (tmp, fs.create(tmp, true))
  }

  /** Commit a fully-written temp object to its deterministic target.
    * The first rename can lose only to a concurrent retry of the SAME
    * deterministic write (identical bytes): delete and retry once. A
    * second failure with the target present means the racer re-won, so
    * drop our tmp; with no target it is a real store fault, and
    * silently dropping the object would corrupt the array, so throw
    * (the task retries). */
  private def commitTmp(fs: FileSystem, tmp: HPath, target: HPath): Unit =
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      if (!fs.rename(tmp, target)) {
        if (fs.exists(target)) fs.delete(tmp, false)
        else throw new java.io.IOException(
          s"store commit failed: rename $tmp -> $target")
      }
    }

  /** Atomic whole-object put of `<store>/<key>`: temp + rename. */
  def put(fs: FileSystem, store: String, key: String, payload: Array[Byte]): Unit = {
    val target = new HPath(store, key)
    val (tmp, out) = createTmp(fs, target)
    try out.write(payload) finally out.close()
    commitTmp(fs, tmp, target)
  }

  // ------------------------------------------------------- shard writer

  /** The footer of a shard object: per-slot (offset, nbytes) pairs in
    * row-major slot order, uint64-LE, followed by the crc32c of those
    * index bytes. Missing slots (all-fill chunks never materialized)
    * carry (2^64-1, 2^64-1), i.e. (-1L, -1L). */
  def shardIndex(offsets: Array[Long], lens: Array[Long]): Array[Byte] = {
    val idx = java.nio.ByteBuffer.allocate(offsets.length * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < offsets.length) {
      idx.putLong(offsets(i)); idx.putLong(lens(i)); i += 1
    }
    val idxBytes = idx.array()
    val crc = new java.util.zip.CRC32C()
    crc.update(idxBytes)
    val out = java.util.Arrays.copyOf(idxBytes, idxBytes.length + 4)
    java.nio.ByteBuffer.wrap(out, idxBytes.length, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt)
    out
  }

  /** Streamed shard writer: ONE shard object open at a time, payloads
    * written to its temp object as they arrive with their slot's
    * (offset, nbytes) recorded, the index footer appended and the
    * object committed when the next shard starts or at [[finish]]
    * (`index_location: end` permits any body order). Peak memory is
    * one payload, not one shard: buffering whole shards across 32 local
    * tasks OOMed an 8 g heap on the 2 GB bench stack.
    *
    * Its input must be shard-contiguous: a shard it already finished
    * showing up again means the shard's chunks were split, and a second
    * object would silently replace the first, so it fails instead. */
  final class ShardWriter(slots: Int) {
    private var fs: FileSystem = _
    private var key: String = _
    private var tmp: HPath = _
    private var target: HPath = _
    private var out: FSDataOutputStream = _
    private val offsets = new Array[Long](slots)
    private val lens = new Array[Long](slots)
    private var off = 0L
    private val done = mutable.LinkedHashSet.empty[String]

    /** Append `payload` at `slot` of the shard `<store>/<shardKey>`. */
    def write(fs: FileSystem, store: String, shardKey: String, slot: Int,
        payload: Array[Byte]): Unit = {
      val k = s"$store/$shardKey"
      if (k != key) {
        finish()
        if (!done.add(k))
          throw new IllegalStateException(s"zarr shard $k: its chunks arrived " +
            "split (not contiguous in one task); the zarr sink requires " +
            "shard-clustered, shard-contiguous partitions")
        this.fs = fs
        key = k
        target = new HPath(store, shardKey)
        val (t, o) = createTmp(fs, target)
        tmp = t; out = o
        java.util.Arrays.fill(offsets, -1L)
        java.util.Arrays.fill(lens, -1L)
        off = 0L
      }
      offsets(slot) = off; lens(slot) = payload.length.toLong
      out.write(payload); off += payload.length
    }

    /** Footer and commit the open shard, if any. */
    def finish(): Unit = if (out != null) {
      out.write(shardIndex(offsets, lens)); out.close(); out = null
      commitTmp(fs, tmp, target)
      key = null
    }

    /** Close and delete the open shard's temp object (a no-op after
      * [[finish]]), so failed attempts leave no `.tmp-` orphans. */
    def abort(): Unit = if (out != null) {
      try out.close() finally { out = null; fs.delete(tmp, false); key = null }
    }

    /** Every shard object this writer opened, as `<store>/<key>`. */
    def written: Seq[String] = done.toSeq
  }

  // ------------------------------------------------------- chunk writer

  /** One level's writes, summed over the tasks that wrote it: chunks
    * stored, bytes stored (payloads plus shard index footers, i.e. the
    * bytes of the level's objects) and the time spent encoding chunks
    * and putting objects. */
  final case class LevelWrites(level: Int, chunks: Long, bytes: Long, encodeNs: Long,
      putNs: Long)

  /** Task-side counters behind one [[LevelWrites]]. Only successful task
    * attempts add to them; a stage that is re-run counts twice. */
  final case class WriteStats(level: Int, chunks: LongAccumulator, bytes: LongAccumulator,
      encodeNs: LongAccumulator, putNs: LongAccumulator) {
    def value: LevelWrites =
      LevelWrites(level, chunks.value, bytes.value, encodeNs.value, putNs.value)
  }

  object WriteStats {
    def apply(sc: SparkContext, level: Int): WriteStats = {
      def acc(name: String) = sc.longAccumulator(s"zarr.L$level.$name")
      WriteStats(level, acc("chunks"), acc("bytes"), acc("encode_ns"), acc("put_ns"))
    }
  }

  /** One task's writer of a level's chunks: each chunk is encoded and
    * stored as it arrives, as its own object or, for a sharded level,
    * through one [[ShardWriter]]. Holds one Hadoop Configuration and
    * the FileSystem of the store last written; counts into `stats` when
    * given. Call [[finish]] once after the last chunk, and [[abort]]
    * when the task ends (a no-op after finish). */
  final class ChunkWriter(layout: Layout, stats: Option[WriteStats] = None) {
    private val conf = new Configuration()
    private var root: String = _
    private var fs: FileSystem = _
    private val sharded = layout.grid.map(g => (g, new ShardWriter(g.product)))

    private def fsOf(store: String): FileSystem = {
      if (store != root) { fs = new HPath(store).getFileSystem(conf); root = store }
      fs
    }

    def write(store: String, level: Int, zc: Int, yc: Int, xc: Int,
        dz: Int, dy: Int, dx: Int, data: Array[Byte]): Unit = {
      val t0 = System.nanoTime()
      val payload = layout.encode(dz, dy, dx, data)
      val t1 = System.nanoTime()
      sharded match {
        case Some((g, w)) => w.write(fsOf(store), store, shardKey(g, level, zc, yc, xc),
          slot(g, zc, yc, xc), payload)
        case None =>
          put(fsOf(store), store, chunkKey(layout.format, level, zc, yc, xc), payload)
      }
      stats.foreach { s =>
        s.chunks.add(1); s.bytes.add(payload.length)
        s.encodeNs.add(t1 - t0); s.putNs.add(System.nanoTime() - t1)
      }
    }

    /** Commit the open shard; the shard objects written, as
      * `<store>/<key>` (empty for an unsharded level). */
    def finish(): Seq[String] = sharded.fold(Seq.empty[String]) { case (g, w) =>
      val t0 = System.nanoTime()
      w.finish()
      stats.foreach { s => // each shard ends in a 16-byte-per-slot index and its crc32c
        s.bytes.add(w.written.size * (16L * g.product + 4)); s.putNs.add(System.nanoTime() - t0)
      }
      w.written
    }

    def abort(): Unit = sharded.foreach(_._2.abort())
  }

  // ----------------------------------------------------------- metadata

  private def putText(store: String, key: String, text: String): Unit =
    put(new HPath(store).getFileSystem(new Configuration()), store, key,
      text.getBytes("UTF-8"))

  /** The level's array metadata — `.zarray` (v2) or `zarr.json` (v3) —
    * for a (z, y, x) `shape`. */
  def writeLevelMeta(store: String, level: Int, shape: Seq[Long], layout: Layout): Unit = {
    val shapeT = Seq(1L, 1L) ++ shape
    val chunkT = Seq(1, 1) ++ layout.chunk
    val doc =
      if (layout.format == 2)
        ZarrMeta.zarray(shapeT, chunkT, layout.clevel, layout.byteShuffle,
          layout.compressed, layout.cname)
      else
        ZarrMeta.zarrJsonArray(shapeT, chunkT, layout.grid.map(g => Seq(1, 1) ++ g),
          layout.clevel, layout.byteShuffle, layout.compressed, layout.cname)
    putText(store, levelMetaKey(layout.format, level), ZarrMeta.render(doc))
  }

  /** Group metadata of `group`. `ngff` is the OME-NGFF block of the
    * format's version: for v2 the 0.4 `.zattrs` document (written
    * beside `.zgroup`), for v3 the 0.5 `ome` attributes of the group's
    * `zarr.json`. With `replace = false` an existing group document is
    * kept. */
  def writeGroupMeta(group: String, format: Int, ngff: Option[JObject] = None,
      replace: Boolean = true): Unit = {
    val key = if (format == 2) ".zgroup" else "zarr.json"
    val doc = new HPath(group, key)
    if (replace || !doc.getFileSystem(new Configuration()).exists(doc)) {
      if (format == 2) {
        putText(group, key, ZarrMeta.render(ZarrMeta.zgroup))
        ngff.foreach(a => putText(group, ".zattrs", ZarrMeta.render(a)))
      } else putText(group, key, ZarrMeta.render(ZarrMeta.zarrJsonGroup(ngff)))
    }
  }
}
