package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Structured Streaming surface (SURVEY.md §2.10 — absent from the
  * reference, added by the engine). Batch/stream parity comes from
  * Catalyst: the streaming hourly rollup is checked against a plain
  * batch GROUP BY oracle over the same file.
  *
  * Every streaming query runs through one runner, [[drain]]. A query
  * supplies only its plan (events source → streaming frame) and its
  * finish (drained rows → result); the runner owns the rest:
  *  - the child session ([[streamSession]]; RocksDB when asked);
  *  - the source: the whole events file, or the memoized three-slice
  *    time-contiguous replay ([[stageSlices]]), each with its
  *    memoized schema;
  *  - a per-invocation unique query name and tmpfs checkpoint;
  *  - the one `writeStream`, into a memory, parquet-file or
  *    foreachBatch-upsert [[Sink]];
  *  - the drain (`processAllAvailable`) and the query's batch trail in
  *    [[progressTrail]], recorded whether or not the drain succeeds;
  *  - the read-back, `finish` and localization of the result.
  * Cleanup guarantee: however the invocation ends — a failed
  * micro-batch, a failed start, a failed finish — the query is
  * stopped, the memory sink's temp view dropped, and the checkpoint and
  * sink directories deleted before the runner returns or rethrows.
  * Nothing of a drained query outlives its invocation but its trail
  * entry.
  */
object Streaming {
  type Q = (SparkSession, String) => DataFrame

  /** The state store creates `shuffle.partitions` state partitions per
    * stateful operator; at demo volumes 32 partitions are pure overhead
    * (2 measured fastest — 1 and 4 both worse; re-measured round 16 on
    * the 6-query join/dedup/topk family: 2 → 20.4 s, 4 → 24.0, 8 →
    * 27.3 — per-batch state-commit overhead scales with partitions and
    * swamps the extra parallelism at these volumes, so the env
    * override below exists for DEPLOYMENTS whose per-batch volume
    * warrants more state partitions, not for the bench). Rather than
    * flipping the
    * session-global conf (which a CONCURRENT batch query on the shared
    * session would observe), each streaming query runs on its own child
    * session ([[graft.core.Sessions.child]]): shared SparkContext,
    * cached data and extensions, isolated SQLConf — no other query
    * can ever see n=2. The child also
    * carries the nanos-as-long legacy parquet flag the event fixtures
    * need, again without touching the parent. Children are not closed
    * (closing would stop the shared context); an idle child session is
    * a few conf maps, collected with the reference. */
  private[graft] def streamSession(parent: SparkSession, rocksDb: Boolean): SparkSession = {
    val s = graft.core.Sessions.child(parent,
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "2"),
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    // State-store provider switch (measured round 10 at sf1, calm
    // calib 0.38 both runs): RocksDB costs 1.2-1.8x vs the default
    // HDFS-backed store while state fits heap (q_stream_dedup 2M keys
    // 8.8 -> 15.9 s, sessions 1.45 -> 1.75 s, join_outer 2.6 -> 3.6 s
    // — SST/JNI overhead with no offload benefit), so the in-memory
    // store stays the default. RocksDB's value is bounding executor
    // heap once per-executor state EXCEEDS memory (billions of keys);
    // a deployment at that scale flips it with this env var or its
    // own session conf. Queries that REQUIRE RocksDB pass `rocksDb`.
    if (rocksDb || sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb"))
      useRocksDb(s)
    s
  }

  /** RocksDB provider + tuning for a child session (round 15, verdict
    * item 5 — q_stream_dedup was 2.18x the in-memory store at sf1's
    * millions of state rows):
    *  - changelog checkpointing ships per-batch deltas instead of
    *    re-snapshotting SST files into the checkpoint every commit —
    *    the dominant per-batch cost for state-row-heavy shapes;
    *  - the default 8 MB block cache / 64 MB write buffer are sized
    *    for hundreds of partitions per executor; at shuffle
    *    partitions = 2 each store can afford real memory, keeping
    *    read-modify-write probes out of SST re-reads.
    * Measured paired at sf1 (bench_r15_streams_sf1_{default,rocksdb}):
    * family total 1.34x → 0.93x vs the in-memory store; the
    * transformWithState queries (which REQUIRE RocksDB) gained 1.8x /
    * 2.8x from the same tuning, which is why they always get it. */
  private def useRocksDb(s: SparkSession): Unit = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB", "256")
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB", "128")
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber", "4")
    // round 16 (verdict item 7, the q_stream_dedup floor): with row
    // tracking on, every put pays an EXTRA existence get so the store
    // can maintain numRowsTotal — for insert-heavy state shapes
    // (dedup: one put per new key, millions per batch) that doubles
    // the RocksDB read traffic for a metric the queries never read.
    // Progress reports numRowsTotal = -1 under this flag; the
    // multi-batch eviction gates run on the default provider and are
    // unaffected.
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
  }

  /** Scoped checkpoint root for a drained demo query: tmpfs when the
    * host has one (offset/commit logs and state-store files are pure
    * fsync overhead for a query whose whole life is one drain — A/B at
    * sf0.1 shows the disk-backed default costs ~15-20% per query),
    * deleted on completion. A production deployment of a LONG-LIVED
    * stream supplies its own durable checkpointLocation instead — this
    * path only hosts throwaway per-invocation state.
    * (Trigger.AvailableNow was also A/B-tested here and measured
    * consistently SLOWER than processAllAvailable at demo volume —
    * 10.9 s vs 9.6 s subtotal — so the drain keeps the default
    * trigger.) */
  private[graft] def scopedCheckpoint(name: String): String = {
    val root =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else
        System.getProperty("java.io.tmpdir", "/tmp")
    s"$root/graft_ck_$name"
  }

  private def deleteRecursively(path: String): Unit = {
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
    }
    del(new java.io.File(path))
  }

  /** Per-query StreamingQueryProgress trail, keyed by inventory name
    * and written by [[drain]] after every drain, failed or not —
    * evidence for the multi-batch gates (Round13OpsSpec asserts the
    * interval joins really crossed >= 3 micro-batches with state rows
    * evicted between them) and the per-batch addBatch / planning /
    * commit split `Probe jobs` prints. Overwritten per invocation; a few
    * small JSON-backed objects. */
  private[graft] val progressTrail =
    new java.util.concurrent.ConcurrentHashMap[String,
      Array[org.apache.spark.sql.streaming.StreamingQueryProgress]]()

  /** Where a drained query's rows land, and where [[drain]] reads them
    * back from. */
  private[graft] sealed trait Sink
  private[graft] object Sink {
    /** The demo drain: rows held on the driver under a temp view named
      * after the query. */
    case object Memory extends Sink
    /** The production parquet file sink; read back through its
      * `_spark_metadata` commit log (a plain `spark.read.parquet` on
      * the sink dir resolves committed files only). */
    case object Files extends Sink
    /** foreachBatch upsert onto parquet partitioned by `key` under
      * dynamic partition overwrite: re-emitting a group replaces
      * exactly that group's partition, so a checkpoint-replayed batch
      * lands idempotently (last writer wins per group). */
    final case class Upsert(key: String*) extends Sink
  }

  /** Run one drained streaming query (the contract is in the object's
    * scaladoc): `plan` turns the events source — the whole file, or
    * the three-slice replay read one slice per micro-batch when
    * `replay` — into the streaming frame, started in output `mode`
    * into `sink`; `finish` turns the drained rows into the result,
    * which comes back localized. The progress trail is filed under
    * `inventoryName`, which also prefixes the query name. */
  private[graft] def drain(parent: SparkSession, d: String, inventoryName: String,
      mode: String, replay: Boolean = false, sink: Sink = Sink.Memory,
      rocksDb: Boolean = false)(plan: DataFrame => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    val s = streamSession(parent, rocksDb)
    val src = eventsStream(s, d, replay)
    val name = inventoryName + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ck = scopedCheckpoint(name)
    val outDir = ck + "_out"
    try {
      val w = plan(src).writeStream.outputMode(mode).queryName(name)
        .option("checkpointLocation", ck)
      val q = (sink match {
        case Sink.Memory => w.format("memory")
        case Sink.Files => w.format("parquet").option("path", outDir)
        case Sink.Upsert(key @ _*) =>
          val upsert: (DataFrame, Long) => Unit = (batch, _) =>
            batch.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(key: _*)
              .parquet(outDir)
          w.foreachBatch(upsert)
      }).start()
      try q.processAllAvailable()
      finally { q.stop(); progressTrail.put(inventoryName, q.recentProgress) }
      // memory-sink rows already live on the driver, so localizing the
      // (small, post-aggregation) result before the cleanup costs
      // nothing extra
      val out = finish(if (sink == Sink.Memory) s.table(name) else s.read.parquet(outDir))
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally {
      s.catalog.dropTempView(name)
      deleteRecursively(ck)
      deleteRecursively(outDir)
    }
  }

  /** The events file as a stream: the whole file, or with `replay` the
    * staged slices, one per micro-batch. */
  private def eventsStream(s: SparkSession, d: String, replay: Boolean): DataFrame = {
    val (path, schema) = eventsSource(s, d, replay)
    val reader = s.readStream.schema(schema)
    if (replay) reader.option("maxFilesPerTrigger", "1").parquet(path)
    else reader.option("pathGlobFilter", "events.parquet").parquet(path)
  }

  /** The events source a drained query streams from: its path and
    * schema, probed once per (fixture identity, replay). Each probe is
    * a file listing + footer read; the replay probe also stages the
    * slices. The key carries the fixture files' (max-mtime, total
    * length) so a dataset REGENERATED at the same path — with another
    * schema or other rows — re-probes and re-stages instead of
    * silently reading the stale one. A parquet dataset path is usually
    * a DIRECTORY of part files, and an in-place rewrite may leave the
    * directory inode's own (mtime, length) unchanged, hence the
    * contained files (a single-file layout degenerates to the file
    * itself). Superseded entries are a StructType and a staged dir,
    * left to sit until the JVM's shutdown hook. */
  private final case class SourceKey(dir: String, mtime: Long, len: Long,
      replay: Boolean)
  private val sources =
    new java.util.concurrent.ConcurrentHashMap[SourceKey, (String, StructType)]()
  private def eventsSource(s: SparkSession, d: String,
      replay: Boolean): (String, StructType) = {
    val f = new java.io.File(s"$d/events.parquet")
    val files = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f))
    val key = SourceKey(d, (f.lastModified +: files.map(_.lastModified)).max,
      files.map(_.length).sum, replay)
    sources.computeIfAbsent(key, _ =>
      if (replay) { val dir = stageSlices(s, d); (dir, s.read.parquet(dir).schema) }
      else (d, s.read.parquet(s"$d/events.parquet").schema))
  }

  /** Stage the events fixture into three TIME-CONTIGUOUS single-file
    * parquet slices with ascending mtimes under a scoped dir. A file
    * source reading the dir with `maxFilesPerTrigger=1` then replays
    * the fixture as three micro-batches in event-time order — the
    * multi-micro-batch regime an unbounded production stream actually
    * runs in (watermark advancing batch over batch, join/agg state
    * evicted between batches), instead of one batch dominating the
    * drain. Time-contiguity is the correctness keystone: every slice-k
    * event's timestamp is >= every slice-(k-1) event's, so nothing
    * ever arrives behind the watermark and the drained result equals
    * the single-batch (= batch-oracle) result for watermark-correct
    * operators; only the BATCH STRUCTURE changes.
    *
    * Slices are split by ROW RANK over ascending (ts, event_id), not by
    * uniform time ranges: rank slicing is still time-contiguous but
    * guarantees every slice is non-empty on ANY fixture — a skewed
    * timestamp distribution could leave a uniform-time slice empty and
    * break the >= 3-micro-batch law the gate specs assert
    * (ntile's global sort is a harness-staging cost, not a query cost).
    *
    * The staged dir is MEMOIZED by [[eventsSource]]: staging is pure
    * harness setup — a production stream reads files that already
    * exist — so re-writing the slices inside every invocation's timed
    * path was pure overhead (~17.6 s of the calm 145 s round-13 bench
    * total was the four multi-batch queries, a chunk of it
    * re-staging). Staged dirs are deleted by a JVM shutdown hook. */
  private def stageSlices(s: SparkSession, d: String): String = {
    val n = 3
    val dir = scopedCheckpoint("staged_" +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    new java.io.File(dir).mkdirs()
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(dir)))
    // slices carry the NORMALIZED ts (proper TimestampType): the
    // queries' own normalizeTs is then a no-op on the staged schema
    val ev = Tables.normalizeTs(
      s.read.option("pathGlobFilter", "events.parquet").parquet(d))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val sliced = ev.withColumn("__slice", ntile(n).over(w) - 1)
    val t0 = System.currentTimeMillis() - 600000
    (0 until n).foreach { k =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_slice_$k")
      sliced.where(col("__slice") === k).drop("__slice")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
        .find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file in $tmp"))
      val dest = new java.io.File(dir, f"slice_$k%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dest.setLastModified(t0 + k * 10000L)
      deleteRecursively(tmp.toString)
    }
    dir
  }

  /** Event-time tumbling-window counts, executed as a real streaming
    * query (file source → complete-mode memory sink, drained with
    * processAllAvailable). */
  val qStreamHourly: Q = (parent, d) =>
    drain(parent, d, "q_stream_hourly", "complete")(_
      .transform(Tables.normalizeTs)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v")))(_
      .select(unix_millis(col("window.start")).as("hour_ms"), col("event_type"),
        col("n"), col("sum_v"))
      .orderBy("hour_ms", "event_type"))

  /** Daily rollup driven through a `foreachBatch` PRODUCTION sink —
    * the standard exactly-once upsert recipe onto a sink with no
    * transactions. Update mode emits each micro-batch's CHANGED daily
    * windows; the batch function writes them to a parquet table
    * PARTITIONED BY THE FULL GROUPING KEY under dynamic partition
    * overwrite ([[Sink.Upsert]]), so re-emitting a group replaces
    * exactly that group's partition and a checkpoint-replayed batch
    * lands idempotently (last-writer-wins per group). Partition key ==
    * upsert key is the
    * correctness condition: update mode emits only CHANGED groups, so
    * a partition coarser than the grouping key (e.g. day only, when
    * the key is day × event_type) would overwrite a whole day with
    * the subset of its event types that changed in this micro-batch,
    * silently dropping the rest. Each emitted row carries its group's
    * COMPLETE latest state, so overwriting the (day_ms, event_type)
    * partition can never drop data. Unlike the complete-mode memory sink, state
    * shipping per batch is the DELTA, not the world. The converged
    * table is read back and hash-gated against the batch oracle; sink
    * files are scoped to the invocation and removed after
    * localization. (Window grain day, not hour: one partition dir per
    * window means the grain sets the object count — the same
    * object-budget trade as the imaging store's shard size.)
    * Multi-batch replay (3 time-contiguous slices): each micro-batch
    * upserts only ITS changed (day, type) groups, so the
    * partition-key==upsert-key condition is actually exercised — a
    * single-batch drain would mask a too-coarse partition key. */
  val qStreamFbatch: Q = (parent, d) =>
    drain(parent, d, "q_stream_fbatch", "update", replay = true,
        sink = Sink.Upsert("day_ms", "event_type"))(_
      .transform(Tables.normalizeTs)
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
      .select(unix_millis(col("window.start")).as("day_ms"), col("event_type"),
        col("n"), col("sum_v")))(_
      .select(col("day_ms").cast("long"), col("event_type"), col("n"),
        col("sum_v"))
      .orderBy("day_ms", "event_type"))

  /** Streaming heavy hitters: per-hour top-3 users by event count, the
    * leaderboard every ops dashboard runs on a firehose. The STREAMING
    * stage is the stateful piece — an event-time tumbling-window ×
    * user count in complete mode, state bounded at |windows|·|active
    * users| rows (the same state law as the hourly rollup, keyed one
    * level finer); per-window RANKING is not a supported streaming
    * operator (rank needs the window's final multiset), so the top-3
    * trim runs over the drained sink — exactly where a production
    * dashboard ranks, on the store the stream maintains. Ties break to
    * the lower user_id. */
  val qStreamTopk: Q = (parent, d) =>
    drain(parent, d, "q_stream_topk", "complete")(_
      .transform(Tables.normalizeTs)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))) { t =>
      val ranked = t.select(unix_millis(col("window.start")).as("hour_ms"),
          col("user_id"), col("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("hour_ms").orderBy(col("n").desc, col("user_id"))))
      ranked.where(col("rk") <= 3)
        .select("hour_ms", "rk", "user_id", "n")
        .orderBy("hour_ms", "rk")
    }

  /** Sessionization: a session breaks after 30 idle minutes. Batch
    * window-function form (the flatMapGroupsWithState streaming form
    * lives in graft.streaming with its own suite). */
  val qSessionize: Q = (s, d) => {
    val ev = Tables.events(s, d).where(col("user_id") % 25 === 0)
      .withColumn("t", unix_millis(col("ts")))
    val wOrd = Window.partitionBy("user_id").orderBy("t", "event_id")
    val sess = ev
      .withColumn("gap", col("t") - lag("t", 1).over(wOrd))
      .withColumn("brk", when(col("gap").isNull || col("gap") > 1800000L, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "sid").agg(count(lit(1)).as("n_ev"))
      .groupBy("user_id")
      .agg(max("sid").cast("long").as("n_sessions"),
        max("n_ev").as("max_sess_events"),
        sum("n_ev").cast("long").as("n_events"))
      .orderBy("user_id")
  }

  /** Watermarked append-mode variant (SURVEY.md §2.10): only windows
    * the 10-minute watermark has finalized are emitted — late data
    * beyond the watermark would be dropped, exactly the at-scale
    * contract. The final no-data micro-batch advances the watermark to
    * max(ts) - 10 min, so every window ending at or before that point
    * flushes; the oracle applies the same cutoff. */
  val qStreamHourlyWm: Q = (parent, d) =>
    drain(parent, d, "q_stream_hourly_wm", "append")(_
      .transform(Tables.normalizeTs)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n")))(_
      .select(unix_millis(col("window.start")).as("hour_ms"), col("event_type"),
        col("n"))
      .orderBy("hour_ms", "event_type"))

  /** Streaming exact dedup: the event stream unioned with itself (every
    * event duplicated) flows through dropDuplicatesWithinWatermark on
    * event_id — the streaming form of the training-pipeline dedup
    * stage. Unlike plain dropDuplicates (whose state never expires when
    * the event-time column isn't a dedup key), WithinWatermark evicts
    * each key once the watermark passes its event time, so state is
    * bounded by the watermark horizon at any scale. The oracle is the
    * plain batch profile: dedup must exactly undo the self-union (the
    * duplicate arrives in the same micro-batch, well inside the
    * horizon). */
  val qStreamDedup: Q = (parent, d) =>
    drain(parent, d, "q_stream_dedup", "append")(_
      .transform(Tables.normalizeTs)
      // project to the dedup key + watermark column + the one column
      // the audit aggregates BEFORE the stateful operator: the state
      // store, the memory sink, and the post-drain re-ship all carry
      // 3 narrow columns instead of the full event row (the wide sink
      // showed up as a 92 MB single-task ship at sf4)
      .select(col("ts"), col("event_id"), col("event_type"))
      // Duplicate every event IN-stream (explode over two copies) rather
      // than unioning the source with itself: identical duplicated input
      // for the dedup operator under test, but ONE file source — half
      // the scan and offset tracking per micro-batch.
      .withColumn("copy", explode(array(lit(0), lit(1)))).drop("copy")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id"))(_
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("event_id").as("nd"))
      .orderBy("event_type"))

  /** Stream-stream interval join: purchases matched to every click by
    * the same user in the preceding hour, both sides watermarked (the
    * range condition is what lets Spark bound join state). Inner join
    * emission doesn't wait on the watermark, so the drained result is
    * exactly the batch join — which is the oracle. Three
    * time-contiguous slices, one micro-batch each: the join runs in
    * the production regime — watermark advancing batch over batch,
    * state admitted in one batch and matched/evicted in a later one —
    * with the drained result still the batch oracle's. Each side reads
    * its own file source; sharing one, as the outer joins do, measured
    * at parity (OPTIMIZATION_r16.md §5). */
  val qStreamJoin: Q = (parent, d) =>
    drain(parent, d, "q_stream_join", "append", replay = true) { clicks =>
      intervalJoin(clicks, eventsStream(clicks.sparkSession, d, replay = true),
        0, "inner")
    }(_
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("purchase_id").as("n_purch"),
        countDistinct("click_id").as("n_clicks"))
      .orderBy("user_id"))

  /** Stream-stream LEFT-OUTER interval join (round-10 verdict item 4):
    * the state-EVICTION semantics made observable. Matched pairs emit
    * from the data batches like the inner join; an UNMATCHED click
    * emits null-extended only when the watermark passes the end of its
    * match window (c_ts + 1 h) — i.e. when the join-state manager can
    * prove no future purchase can match and evicts the row. The final
    * no-data micro-batch advances the watermark to max(ts) − 10 min,
    * so clicks whose window closed strictly before that cut flush as
    * unmatched; clicks still inside the horizon produce NO row unless
    * matched — exactly the bounded-state contract that holds on an
    * unbounded firehose, replayed by the oracle with the same cutoff
    * (watermark is ms-floored: Spark's EventTimeStats tracks event
    * time in ms, so the oracle compares at ms grain too). State is
    * bounded by the 1 h + 10 min horizon per side at any scale; the
    * only shuffle is the user-keyed symmetric-hash join. Multi-batch
    * replay (3 time-contiguous slices): unmatched clicks flush on
    * MID-STREAM watermark advances, not only at the final cut — the
    * eviction path a production firehose exercises. */
  val qStreamJoinOuter: Q = (parent, d) =>
    drain(parent, d, "q_stream_join_outer", "append", replay = true)(
      joinOuterLogic)(joinOuterFinish)

  /** Purchases joined to clicks by the same user within the click's
    * following hour, on the user sample `user_id % 10 == sample`, both
    * sides watermarked at 10 minutes — the interval-join plan of
    * [[qStreamJoin]], [[qStreamJoinOuter]] and [[qStreamJoinFull]].
    * Clicks come from `clickEvents`, purchases from `purchaseEvents`:
    * one events stream, or one source per side. */
  private def intervalJoin(clickEvents: DataFrame, purchaseEvents: DataFrame,
      sample: Int, joinType: String): DataFrame = {
    def src(events: DataFrame) = events
      .transform(Tables.normalizeTs)
      .where(col("user_id") % 10 === sample)
    val clicks = src(clickEvents).where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = src(purchaseEvents).where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
  }

  /** The left-outer interval-join plan on a raw events stream — shared
    * by [[qStreamJoinOuter]] and the checkpoint-restart RecoverySpec,
    * so recovery is proven on the exact production plan. */
  private[graft] def joinOuterLogic(events: DataFrame): DataFrame =
    intervalJoin(events, events, 0, "left_outer")

  /** Stream-stream FULL-outer interval join — completes the streaming
    * join matrix (inner [[qStreamJoin]], left-outer
    * [[qStreamJoinOuter]]): BOTH sides' state-eviction semantics are
    * under the oracle gate at once. A click with no purchase in its
    * following hour emits null-padded when the watermark passes its
    * join window (c_ts + 1h); a purchase with no click in its
    * PRECEDING hour emits null-padded when the watermark passes the
    * purchase itself (no future click can have an earlier timestamp) —
    * the two asymmetric eviction bounds Spark derives from the same
    * range condition. Disjoint user sample (% 10 = 1) from the other
    * interval joins. State on each side is bounded by its eviction
    * horizon — watermark delay + the hour window — never stream
    * length. Multi-batch replay (3 time-contiguous slices): BOTH
    * sides' asymmetric eviction bounds fire on mid-stream watermark
    * advances. */
  val qStreamJoinFull: Q = (parent, d) =>
    drain(parent, d, "q_stream_join_full", "append", replay = true)(
      joinFullLogic)(joinFullFinish)

  /** The full-outer interval-join plan on a raw events stream — shared
    * by [[qStreamJoinFull]] and the checkpoint-restart RecoverySpec,
    * so BOTH sides' eviction recovery is proven on the exact
    * production plan. */
  private[graft] def joinFullLogic(events: DataFrame): DataFrame =
    intervalJoin(events, events, 1, "full_outer")

  /** Contraction of the drained full-outer rows to the oracle shape. */
  private[graft] def joinFullFinish(df: DataFrame): DataFrame = df
    .groupBy(coalesce(col("c_user"), col("p_user")).as("user_id"))
    .agg(
      sum(when(col("click_id").isNotNull && col("purchase_id").isNotNull, 1L)
        .otherwise(0L)).as("n_pairs"),
      sum(when(col("click_id").isNotNull && col("purchase_id").isNull, 1L)
        .otherwise(0L)).as("n_uncl"),
      sum(when(col("click_id").isNull && col("purchase_id").isNotNull, 1L)
        .otherwise(0L)).as("n_unpu"),
      countDistinct("click_id").as("n_clicks"),
      countDistinct("purchase_id").as("n_purchases"))
    .orderBy("user_id")

  /** Contraction of the drained join-outer rows to the oracle shape. */
  private[graft] def joinOuterFinish(df: DataFrame): DataFrame = df
    .groupBy(col("c_user").as("user_id"))
    .agg(count(col("purchase_id")).as("n_pairs"),
      sum(when(col("purchase_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
      countDistinct("click_id").as("n_clicks"))
    .orderBy("user_id")

  /** Stream-static enrichment join: the event stream joins a STATIC
    * dimension (customer) per micro-batch — stateless (no watermark
    * needed; the static side is not a stream), the standard pattern for
    * decorating a 100 TB/day event firehose with dimension attributes.
    * The dim is broadcast: the stream side never shuffles for the
    * join; the only stateful operator is the final rollup. */
  val qStreamStaticJoin: Q = (parent, d) =>
    drain(parent, d, "q_stream_static_join", "complete") { src =>
      val dim = Tables.customer(src.sparkSession, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      src.transform(Tables.normalizeTs)
        .where(col("event_type") === "purchase")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
    }(_.orderBy("c_mktsegment"))

  /** Stateful session windows as a REAL streaming query — the
    * [[graft.streaming.Sessionizer]] flatMapGroupsWithState path
    * (previously covered only by its batch-parity unit suite) under
    * the oracle gate. Closed sessions emit from the data batch itself
    * (a later event past the 30-min gap closes them); each user's
    * final open session emits only when its event-time timeout
    * (last + gap) falls strictly before the final watermark
    * (max ts − 10 s), which the closing no-data micro-batch advances —
    * the same finalize-by-watermark contract as [[qStreamHourlyWm]],
    * and the oracle applies the identical cutoff. State is one small
    * record per active user: at 100 TB of events the store scales with
    * ACTIVE-user cardinality, not event volume, and the only shuffle
    * is the groupByKey on user_id. */
  val qStreamSessions: Q = (parent, d) =>
    drain(parent, d, "q_stream_sessions", "append")(sessionsLogic)(sessionsFinish)

  /** [[qStreamSessions]] through the PRODUCTION parquet FILE sink —
    * the path a deployment actually runs (the memory sink is a demo
    * drain). The sessionization plan streams into a parquet directory
    * whose `_spark_metadata` commit log is the sink's exactly-once
    * mechanism; the result is then read BACK through that commit log
    * ([[Sink.Files]]) and hash-gated against the SAME DuckDB oracle as
    * the memory-sink twin. RecoverySpec drives this exact plan+sink
    * combination through a kill-after-batch-0 restart, so the entry
    * chains end-to-end: production sink, crash recovery, and oracle
    * hash on one plan. Sink files are scoped to the invocation and
    * removed with its checkpoint, like every demo drain. */
  val qStreamSessionsFsink: Q = (parent, d) =>
    drain(parent, d, "q_stream_sessions_fsink", "append", sink = Sink.Files)(
      sessionsLogic)(sessionsFinish)

  /** The flatMapGroupsWithState sessionization plan on a raw events
    * stream — shared by [[qStreamSessions]], its file-sink twin
    * [[qStreamSessionsFsink]], and the checkpoint-restart
    * RecoverySpec, so recovery is proven on the exact production plan. */
  private[graft] def sessionsLogic(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val typed = events
      .transform(Tables.normalizeTs)
      .where(col("user_id") % 25 === 0)
      .select(col("user_id").as("userId"),
        unix_millis(col("ts")).as("tsMs"),
        col("event_id").as("eventId"))
      .as[graft.streaming.Sessionizer.Event]
    graft.streaming.Sessionizer.sessionize(typed, 1800000L, "10 seconds").toDF()
  }

  /** Renames the drained session rows to the oracle shape. */
  private[graft] def sessionsFinish(df: DataFrame): DataFrame = df
    .select(col("userId").as("user_id"), col("startMs").as("start_ms"),
      col("endMs").as("end_ms"), col("nEvents").as("n_events"),
      col("firstEvent").as("first_event"))
    .orderBy("user_id", "start_ms")

  /** One upsert event and the running per-key CDC state. */
  final case class CdcEvent(userId: Long, tsMs: Long, eventId: Long, etype: String)
  final case class CdcRow(userId: Long, etype: String, tsMs: Long,
      eventId: Long, nUpdates: Long)

  /** Last-writer-wins fold: comparison-based (max (ts, event_id) seen),
    * so the result is invariant under ANY micro-batch split of the
    * input — the property that makes a CDC consumer replayable. */
  private[graft] def cdcUpdate(userId: Long, it: Iterator[CdcEvent],
      state: org.apache.spark.sql.streaming.GroupState[CdcRow]): CdcRow = {
    var cur =
      if (state.exists) state.get
      else CdcRow(userId, null, Long.MinValue, Long.MinValue, 0L)
    it.foreach { e =>
      val newer = e.tsMs > cur.tsMs ||
        (e.tsMs == cur.tsMs && e.eventId > cur.eventId)
      cur = CdcRow(userId,
        if (newer) e.etype else cur.etype,
        if (newer) e.tsMs else cur.tsMs,
        if (newer) e.eventId else cur.eventId,
        cur.nUpdates + 1)
    }
    state.update(cur)
    cur
  }

  /** Streaming CDC apply — the dimension-maintenance pattern: an
    * upsert stream keyed by entity folds into one LAST-WRITER-WINS
    * state row per key via mapGroupsWithState in UPDATE output mode
    * (the one stateful-operator shape the surface didn't yet cover:
    * Sessionizer is flatMapGroupsWithState+Append, dedup is
    * dropDuplicatesWithinWatermark, the rollups are windowed aggs).
    * Each micro-batch emits the keys it touched; the finish picks each
    * key's final emission by the monotone update counter, so the
    * contraction is batch-count independent. State: ONE row per
    * entity — at 100 TB it scales with dimension cardinality, not
    * event volume, the same law as the sessionizer. */
  val qStreamCdc: Q = (parent, d) =>
    drain(parent, d, "q_stream_cdc", "update") { src =>
      val s = src.sparkSession
      import s.implicits._
      src.transform(Tables.normalizeTs)
        .where(col("user_id") % 15 === 0)
        .select(col("user_id").as("userId"), unix_millis(col("ts")).as("tsMs"),
          col("event_id").as("eventId"), col("event_type").as("etype"))
        .as[CdcEvent]
        .groupByKey(_.userId)
        .mapGroupsWithState(
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(cdcUpdate)
        .toDF()
    } { df =>
      val w = Window.partitionBy("userId").orderBy(col("nUpdates").desc)
      df.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("userId").as("user_id"), col("etype").as("last_type"),
          col("tsMs").as("last_ts_ms"), col("eventId").as("last_event_id"),
          col("nUpdates").as("n_updates"))
        .orderBy("user_id")
    }

  /** Sessions with per-session type diversity on the Spark 4
    * `transformWithState` path — [[graft.streaming.TypeSessionizer]]'s
    * StatefulProcessor (ValueState + MapState + event-time TIMERS)
    * under the same oracle discipline as the flatMapGroupsWithState
    * [[qStreamSessions]]: closed sessions emit from the data batch, a
    * user's final open session emits only when its timer (last + gap)
    * expires against the final watermark (max sampled ts − 10 s,
    * advanced by the closing no-data micro-batch). The v2 API requires
    * the RocksDB state-store provider — set on this query's own child
    * session (the session-isolation pattern all streaming queries here
    * use), so no other query observes it. Disjoint user sample
    * (user_id % 9 = 4) from the v1 sessions query. */
  val qStreamTws: Q = (parent, d) =>
    drain(parent, d, "q_stream_tws", "append", rocksDb = true)(twsLogic)(twsFinish)

  /** The transformWithState plan on a raw events stream — shared by
    * [[qStreamTws]] and the checkpoint-restart RecoverySpec, so v2
    * state (ValueState + MapState + timers) recovery is proven on the
    * exact production plan. */
  private[graft] def twsLogic(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val typed = events
      .transform(Tables.normalizeTs)
      .where(col("user_id") % 9 === 4)
      .select(col("user_id").as("userId"), unix_millis(col("ts")).as("tsMs"),
        col("event_id").as("eventId"), col("event_type").as("etype"))
      .as[graft.streaming.TypeSessionizer.TEvent]
    graft.streaming.TypeSessionizer.sessionize(typed, 1800000L, "10 seconds").toDF()
  }

  /** Renames the drained tws rows to the oracle shape. */
  private[graft] def twsFinish(df: DataFrame): DataFrame = df
    .select(col("userId").as("user_id"), col("startMs").as("start_ms"),
      col("endMs").as("end_ms"), col("nEvents").as("n_events"),
      col("nTypes").as("n_types"))
    .orderBy("user_id", "start_ms")

  /** Sessionized aggregate on Spark's NATIVE session_window operator —
    * the fourth sessionization path beside the batch window-function
    * form ([[qSessionize]]), flatMapGroupsWithState
    * ([[qStreamSessions]]) and transformWithState ([[qStreamTws]]):
    * here the ENGINE owns the session state (window merge on overlap,
    * finalize when the watermark passes window end = last event +
    * gap), and the query is a plain declarative groupBy — the form a
    * SQL user writes, and the one that rides every future engine
    * improvement for free. Append mode: only watermark-finalized
    * sessions emit; the oracle applies the same end ≤ (max ts − 10 s)
    * cutoff. Disjoint user sample (% 11 = 5) from the other three.
    * State is one merged-window record per (user, open session) —
    * active-user cardinality, not event volume. */
  val qStreamSessWin: Q = (parent, d) =>
    drain(parent, d, "q_stream_sesswin", "append")(sessWinLogic)(sessWinFinish)

  /** The native session_window plan on a raw events stream — shared by
    * [[qStreamSessWin]] and the checkpoint-restart RecoverySpec, so
    * the ENGINE-owned merged-window state is recovery-proven on the
    * exact production plan. */
  private[graft] def sessWinLogic(events: DataFrame): DataFrame = events
    .transform(Tables.normalizeTs)
    .where(col("user_id") % 11 === 5)
    .withWatermark("ts", "10 seconds")
    .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
    .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))

  /** Contraction of the drained session-window rows to the oracle shape. */
  private[graft] def sessWinFinish(df: DataFrame): DataFrame = df
    .select(col("user_id"),
      unix_millis(col("session_window.start")).as("start_ms"),
      unix_millis(col("session_window.end")).as("end_ms"),
      col("n"), col("sum_v"))
    .orderBy("user_id", "start_ms")

  /** Batch-bootstrap → stream HANDOFF on transformWithState's
    * initial-state path — the warm-start every backfill-then-stream
    * deployment needs: the sample's FIRST time-half is folded as a
    * BATCH (window functions — already-closed sessions emitted
    * directly; each user's still-open session becomes a
    * [[graft.streaming.TypeSessionizer.BootState]]), the processor
    * re-seats ValueState + MapState + the inactivity TIMER from that
    * snapshot via `handleInitialState`, and only the SECOND half
    * streams. The oracle replays the plain full-sample session law —
    * hash equality IS the lossless-handoff proof (state crossing the
    * batch/stream boundary loses nothing: sessions spanning the
    * midpoint merge exactly as if the whole history had streamed;
    * boot-only users' timers still fire against the stream's final
    * watermark). Disjoint sample (% 9 = 7) from [[qStreamTws]].
    * At 100 TB this is the migration path: fold years of history at
    * batch prices, hand the open tails to the stream. */
  val qStreamTwsBoot: Q = (parent, d) => {
    // the batch-folded closed sessions: built by the plan, on the
    // query's own session, and unioned into the result by the finish
    var closed: DataFrame = null
    drain(parent, d, "q_stream_tws_boot", "append", rocksDb = true) { src =>
      val s = src.sparkSession
      import s.implicits._
      import graft.streaming.TypeSessionizer.{BootState, TEvent, TSession}
      val ev = Tables.events(s, d).where(col("user_id") % 9 === 7)
        .select(col("user_id").as("userId"), unix_millis(col("ts")).as("tsMs"),
          col("event_id").as("eventId"), col("event_type").as("etype"))
      // midpoint split: one bounded driver agg (2 longs)
      val mm = ev.agg(min("tsMs"), max("tsMs")).head()
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      // batch fold of the first half: gap-split sessions per user
      val wOrd = Window.partitionBy("userId").orderBy("tsMs", "eventId")
      val sess = ev.where(col("tsMs") < mid)
        .withColumn("gap", col("tsMs") - lag("tsMs", 1).over(wOrd))
        .withColumn("brk",
          when(col("gap").isNull || col("gap") > 1800000L, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("userId", "sid")
        .agg(min("tsMs").as("start"), max("tsMs").as("last"),
          count(lit(1)).as("n"), sort_array(collect_set("etype")).as("types"))
        .withColumn("lastSid",
          max("sid").over(Window.partitionBy("userId")))
      closed = sess.where(col("sid") < col("lastSid"))
        .select(col("userId"), col("start").as("startMs"), col("last").as("endMs"),
          col("n").as("nEvents"), size(col("types")).cast("long").as("nTypes"))
        .as[TSession].toDF()
      val boot = sess.where(col("sid") === col("lastSid"))
        .select(col("userId"), col("start"), col("last"), col("n"), col("types"))
        .as[(Long, Long, Long, Long, Seq[String])]
        .map { case (u, st, la, n, ty) => (u, BootState(st, la, n, ty)) }
        .groupByKey(_._1).mapValues(_._2)
      val typed = src.transform(Tables.normalizeTs)
        .where(col("user_id") % 9 === 7)
        .select(col("user_id").as("userId"), unix_millis(col("ts")).as("tsMs"),
          col("event_id").as("eventId"), col("event_type").as("etype"))
        .where(col("tsMs") >= mid)
        .as[TEvent]
      graft.streaming.TypeSessionizer
        .sessionizeWithInit(typed, boot, 1800000L, "10 seconds").toDF()
    }(streamed => twsFinish(streamed.unionByName(closed)))
  }

  def queries: Map[String, Q] = Map(
    "q_stream_join_full" -> qStreamJoinFull,
    "q_stream_tws_boot" -> qStreamTwsBoot,
    "q_stream_sesswin" -> qStreamSessWin,
    "q_stream_tws" -> qStreamTws,
    "q_stream_cdc" -> qStreamCdc,
    "q_stream_sessions" -> qStreamSessions,
    "q_stream_sessions_fsink" -> qStreamSessionsFsink,
    "q_stream_static_join" -> qStreamStaticJoin,
    "q_stream_hourly" -> qStreamHourly,
    "q_stream_fbatch" -> qStreamFbatch,
    "q_stream_topk" -> qStreamTopk,
    "q_stream_hourly_wm" -> qStreamHourlyWm,
    "q_stream_dedup" -> qStreamDedup,
    "q_stream_join" -> qStreamJoin,
    "q_stream_join_outer" -> qStreamJoinOuter,
    "q_sessionize" -> qSessionize
  )

  /** Hourly tumbling-window rollup oracle — shared verbatim by the
    * memory-sink entry and its foreachBatch parquet-upsert twin. */
  private val hourlyOracleSql: String =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
      |  count(*) AS n, round(sum(value), 2) AS sum_v
      |FROM events GROUP BY hour_ms, event_type
      |ORDER BY hour_ms, event_type""".stripMargin

  /** Sessions oracle: the batch gap-split rule; every non-final
    * session per user emits (closed by a later event); the final one
    * emits only if its timeout (end + gap) fell strictly before the
    * final watermark (max sampled ts − 10 s) — the
    * flatMapGroupsWithState EventTimeTimeout contract. Shared verbatim
    * by the memory-sink and file-sink entries. */
  private val sessionsOracleSql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS t FROM events
      |            WHERE user_id % 25 = 0),
      |wm AS (SELECT max(t) - 10000 AS cut FROM ev),
      |g AS (SELECT user_id, event_id, t,
      |        t - lag(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
      |      FROM ev),
      |b AS (SELECT user_id, event_id, t,
      |        CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END AS brk
      |      FROM g),
      |sd AS (SELECT user_id, event_id, t,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
      |         row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn
      |       FROM b),
      |fe AS (SELECT user_id, sid, event_id AS first_event FROM sd
      |       WHERE rn = (SELECT min(s2.rn) FROM sd s2
      |                   WHERE s2.user_id = sd.user_id AND s2.sid = sd.sid)),
      |sess AS (SELECT sd.user_id, sd.sid, min(t) AS start_ms, max(t) AS end_ms,
      |           count(*) AS n_events
      |         FROM sd GROUP BY 1, 2),
      |mx AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id)
      |SELECT s.user_id AS user_id, s.start_ms, s.end_ms, s.n_events, fe.first_event
      |FROM sess s
      |JOIN fe ON s.user_id = fe.user_id AND s.sid = fe.sid
      |JOIN mx ON s.user_id = mx.user_id, wm
      |WHERE s.sid < mx.last_sid OR s.end_ms + 1800000 < wm.cut
      |ORDER BY s.user_id, s.start_ms""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // native session_window: gap-split sessions where the WINDOW is
    // [min t, max t + gap); append mode emits only sessions the final
    // watermark (max sampled ts − 10 s) finalized — end <= cut
    "q_stream_sesswin" ->
      """WITH ev AS (SELECT user_id, event_id, value, epoch_ms(ts) AS t
        |            FROM events WHERE user_id % 11 = 5),
        |wm AS (SELECT max(t) - 10000 AS cut FROM ev),
        |g AS (SELECT user_id, event_id, value, t,
        |        t - lag(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
        |      FROM ev),
        |sd AS (SELECT user_id, value, t,
        |         sum(CASE WHEN gap IS NULL OR gap >= 1800000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |       FROM g),
        |sess AS (SELECT user_id, sid, min(t) AS start_ms,
        |           max(t) + 1800000 AS end_ms,
        |           count(*) AS n, round(sum(value), 2) AS sum_v
        |         FROM sd GROUP BY 1, 2)
        |SELECT user_id, start_ms, end_ms, CAST(n AS BIGINT) AS n, sum_v
        |FROM sess, wm WHERE end_ms <= wm.cut
        |ORDER BY user_id, start_ms""".stripMargin,
    // batch-bootstrap handoff: the oracle is the PLAIN full-sample
    // session replay — it does not know a midpoint exists; hash
    // equality proves the batch→stream state handoff is lossless
    "q_stream_tws_boot" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS t
        |            FROM events WHERE user_id % 9 = 7),
        |wm AS (SELECT max(t) - 10000 AS cut FROM ev),
        |g AS (SELECT user_id, event_id, event_type, t,
        |        t - lag(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
        |      FROM ev),
        |sd AS MATERIALIZED (
        |  SELECT user_id, event_type, t,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |sess AS (SELECT user_id, sid, min(t) AS start_ms, max(t) AS end_ms,
        |           count(*) AS n_events,
        |           count(DISTINCT event_type) AS n_types
        |         FROM sd GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id)
        |SELECT s.user_id, s.start_ms, s.end_ms,
        |  CAST(s.n_events AS BIGINT) AS n_events,
        |  CAST(s.n_types AS BIGINT) AS n_types
        |FROM sess s JOIN mx ON s.user_id = mx.user_id, wm
        |WHERE s.sid < mx.last_sid OR s.end_ms + 1800000 < wm.cut
        |ORDER BY s.user_id, s.start_ms""".stripMargin,
    // transformWithState sessions: the qStreamSessions gap-split replay
    // on the % 9 = 4 sample, plus per-session distinct-type counts; the
    // final open session's timer fires only strictly before the final
    // watermark (max sampled ts − 10 s) — the event-time timer contract.
    "q_stream_tws" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS t
        |            FROM events WHERE user_id % 9 = 4),
        |wm AS (SELECT max(t) - 10000 AS cut FROM ev),
        |g AS (SELECT user_id, event_id, event_type, t,
        |        t - lag(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
        |      FROM ev),
        |sd AS MATERIALIZED (
        |  SELECT user_id, event_type, t,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |sess AS (SELECT user_id, sid, min(t) AS start_ms, max(t) AS end_ms,
        |           count(*) AS n_events,
        |           count(DISTINCT event_type) AS n_types
        |         FROM sd GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id)
        |SELECT s.user_id, s.start_ms, s.end_ms,
        |  CAST(s.n_events AS BIGINT) AS n_events,
        |  CAST(s.n_types AS BIGINT) AS n_types
        |FROM sess s JOIN mx ON s.user_id = mx.user_id, wm
        |WHERE s.sid < mx.last_sid OR s.end_ms + 1800000 < wm.cut
        |ORDER BY s.user_id, s.start_ms""".stripMargin,
    // CDC apply: the final state per key is the argmax-(ts, event_id)
    // upsert with the total update count — batch-split invariant by
    // the comparison-based fold.
    "q_stream_cdc" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS t, event_type
        |           FROM events WHERE user_id % 15 = 0),
        |r AS (SELECT user_id, event_type, t, event_id,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY t DESC, event_id DESC) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n
        |      FROM e)
        |SELECT user_id, event_type AS last_type, t AS last_ts_ms,
        |  event_id AS last_event_id, CAST(n AS BIGINT) AS n_updates
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // Sessions: the batch gap-split rule; every non-final session per
    // user emits (closed by a later event); the final one emits only
    // if its timeout (end + gap) fell strictly before the final
    // watermark (max sampled ts − 10 s) — the flatMapGroupsWithState
    // EventTimeTimeout contract.
    "q_stream_sessions" -> sessionsOracleSql,
    // file-sink twin: identical semantics, identical oracle — the
    // difference under test is the SINK (parquet commit log vs memory)
    "q_stream_sessions_fsink" -> sessionsOracleSql,
    "q_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_stream_hourly" -> hourlyOracleSql,
    // foreachBatch twin of the rollup family at day grain — what the
    // hash gates is the SINK path (dynamic-partition-overwrite parquet
    // upsert + read-back vs the complete-mode memory drain)
    "q_stream_fbatch" ->
      """SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY day_ms, event_type
        |ORDER BY day_ms, event_type""".stripMargin,
    "q_stream_topk" ->
      """WITH c AS (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, user_id,
        |    count(*) AS n
        |  FROM events GROUP BY hour_ms, user_id)
        |SELECT hour_ms, rk, user_id, n FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY hour_ms
        |    ORDER BY n DESC, user_id) AS INT) AS rk FROM c) t
        |WHERE rk <= 3 ORDER BY hour_ms, rk""".stripMargin,
    "q_stream_hourly_wm" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS cut FROM events)
        |SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |  count(*) AS n
        |FROM events GROUP BY hour_ms, event_type
        |HAVING epoch_ms(date_trunc('hour', ts)) + 3600000 <= (SELECT epoch_ms(cut) FROM wm)
        |ORDER BY hour_ms, event_type""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS nd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts FROM events
        |           WHERE user_id % 10 = 0 AND event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
        |      WHERE user_id % 10 = 0 AND event_type = 'purchase')
        |SELECT c.user_id AS user_id, count(*) AS n_pairs,
        |  count(DISTINCT purchase_id) AS n_purch,
        |  count(DISTINCT click_id) AS n_clicks
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY user_id""".stripMargin,
    // Left-outer replay: matched pairs always emit; an unmatched click
    // emits iff its match window closed strictly before the final
    // watermark (max ts ms-floored − 10 min — Spark's EventTimeStats
    // tracks max event time in ms); other clicks emit nothing.
    // The watermark derives from the rows that FLOW THROUGH the two
    // watermark operators — the filtered click/purchase subsets, not
    // the whole table — the GLOBAL watermark is the MIN across the
    // operators, and Spark's EventTimeStats floors event time to ms
    // before the max; a click evicts (emits unmatched) when its whole
    // match window (c_ts + 1 h) is below that final watermark. If
    // either side is EMPTY its operator's watermark never advances and
    // the global min stays put, so NOTHING evicts: cut_ms is NULL then
    // (DuckDB's least would otherwise ignore the NULL side and evict).
    // full outer: both unmatched sides, each under its own eviction
    // bound — clicks at c_ts + 1h (the join window), purchases at
    // p_ts itself (no future click can precede it); same NULL-guarded
    // min-across-operators watermark as the left-outer oracle
    "q_stream_join_full" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts FROM events
        |           WHERE user_id % 10 = 1 AND event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
        |      WHERE user_id % 10 = 1 AND event_type = 'purchase'),
        |wm AS (SELECT CASE WHEN (SELECT max(epoch_ms(ts)) FROM c) IS NULL
        |                     OR (SELECT max(epoch_ms(ts)) FROM p) IS NULL
        |         THEN NULL
        |         ELSE least((SELECT max(epoch_ms(ts)) FROM c),
        |                    (SELECT max(epoch_ms(ts)) FROM p)) - 600000
        |       END AS cut_ms),
        |j AS (SELECT coalesce(c.user_id, p.user_id) AS user_id, c.click_id,
        |        epoch_us(c.ts) AS c_us, p.purchase_id, epoch_us(p.ts) AS p_us
        |      FROM c FULL JOIN p ON c.user_id = p.user_id
        |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
        |e AS (SELECT j.* FROM j, wm
        |      WHERE (click_id IS NOT NULL AND purchase_id IS NOT NULL)
        |         OR (purchase_id IS NULL AND c_us + 3600000000 < cut_ms * 1000)
        |         OR (click_id IS NULL AND p_us < cut_ms * 1000))
        |SELECT user_id,
        |  CAST(sum(CASE WHEN click_id IS NOT NULL AND purchase_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN click_id IS NOT NULL AND purchase_id IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_uncl,
        |  CAST(sum(CASE WHEN click_id IS NULL AND purchase_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unpu,
        |  count(DISTINCT click_id) AS n_clicks,
        |  count(DISTINCT purchase_id) AS n_purchases
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_join_outer" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts FROM events
        |           WHERE user_id % 10 = 0 AND event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
        |      WHERE user_id % 10 = 0 AND event_type = 'purchase'),
        |wm AS (SELECT CASE WHEN (SELECT max(epoch_ms(ts)) FROM c) IS NULL
        |                     OR (SELECT max(epoch_ms(ts)) FROM p) IS NULL
        |         THEN NULL
        |         ELSE least((SELECT max(epoch_ms(ts)) FROM c),
        |                    (SELECT max(epoch_ms(ts)) FROM p)) - 600000
        |       END AS cut_ms),
        |j AS (SELECT c.user_id, c.click_id, epoch_us(c.ts) AS c_us, p.purchase_id
        |      FROM c LEFT JOIN p ON c.user_id = p.user_id
        |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
        |e AS (SELECT j.* FROM j, wm
        |      WHERE purchase_id IS NOT NULL
        |         OR c_us + 3600000000 < cut_ms * 1000)
        |SELECT user_id, count(purchase_id) AS n_pairs,
        |  CAST(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched,
        |  count(DISTINCT click_id) AS n_clicks
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS t FROM events
        |            WHERE user_id % 25 = 0),
        |g AS (SELECT user_id, t,
        |        t - lag(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
        |      FROM ev),
        |b AS (SELECT user_id, t,
        |        CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END AS brk
        |      FROM g),
        |sid AS (SELECT user_id,
        |          sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |        FROM b),
        |per AS (SELECT user_id, sid, count(*) AS n_ev FROM sid GROUP BY user_id, sid)
        |SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions,
        |  max(n_ev) AS max_sess_events, CAST(sum(n_ev) AS BIGINT) AS n_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
