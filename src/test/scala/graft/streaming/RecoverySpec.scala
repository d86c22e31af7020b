package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSessionTestWrapper, TempDirs}
import graft.queries.Streaming

/** Checkpoint-restart recovery (round-11 verdict item 1): kill a
  * streaming query mid-drain, restart it from the SAME checkpoint,
  * finish the drain, and require the final result to be IDENTICAL to
  * the oracle-gated `SparkEntry.queries` entry for the same data — for
  * the two stateful shapes where exactly-once is hardest:
  *
  *  - `q_stream_sessions`: flatMapGroupsWithState sessionization —
  *    open-session STATE and the event-time TIMEOUT must both survive
  *    the restart;
  *  - `q_stream_join_outer`: stream-stream left-outer interval join —
  *    join state and its watermark EVICTION bookkeeping must survive
  *    (an evicted click must emit exactly once, never twice or zero
  *    times, whichever side of the kill the eviction lands on);
  *  - `q_stream_tws`: the transformWithState v2 path — a ValueState,
  *    a MapState, and registered event-time TIMERS must all reload
  *    from the RocksDB checkpoint and fire correctly post-restart;
  *  - `q_stream_join_full`: the full-outer interval join — BOTH
  *    sides' watermark-eviction bookkeeping across the kill;
  *  - `q_stream_sesswin`: the native session_window aggregate —
  *    the ENGINE's merged-window state, not ours, across the kill.
  *
  * Both runs drive the EXACT production plans
  * ([[Streaming.sessionsLogic]] / [[Streaming.joinOuterLogic]] — the
  * same functions `qStreamSessions` / `qStreamJoinOuter` execute), so
  * matching the queries-entry output chains the recovered run to the
  * same DuckDB oracle hash the driver checks at verify time.
  *
  * The sink is the parquet FILE sink: its `_spark_metadata` commit log
  * is what makes a replayed micro-batch invisible to readers (a memory
  * sink would silently lose all pre-restart batches on restart, hiding
  * exactly the failure this spec exists to catch). The kill lands
  * after batch 0 commits — i.e. while batch 1 (or the watermark-
  * advancing no-data batch) may be mid-flight — and the equality must
  * hold for ANY kill point; that is the exactly-once contract.
  *
  * Reference analog: the reference's restart idempotency — re-running
  * a partially-completed conversion must not duplicate or lose chunks
  * (compress/png_to_zarr.py:503-530); here the same property for
  * streaming state.
  */
class RecoverySpec extends AnyFunSuite with TempDirs {
  private lazy val parent = SparkSessionTestWrapper.spark
  private val dataDir = "/root/testdata/sf0.001"

  /** The production streaming child ([[Streaming.streamSession]], the
    * session every drained query runs on): tiny state-store
    * partitioning, the nanos-as-long parquet flag and the parent's
    * planner rules; with `rocksDb`, the tuned RocksDB store with
    * changelog checkpointing that transformWithState requires. */
  private def child(rocksDb: Boolean = false): SparkSession =
    Streaming.streamSession(parent, rocksDb)

  /** events.parquet split into two single-file halves at the time
    * midpoint — a.parquet strictly earlier, mtimes ordered — so the
    * file-stream source with maxFilesPerTrigger=1 replays them as two
    * time-ordered micro-batches (no cross-batch late rows: determinism
    * of the session/gap split does not depend on the kill point). */
  private lazy val splitInput: Path = {
    val s = child()
    // normalize ts up front (the production reader normalizes at
    // runtime; same cast, same instants — written back as plain
    // TimestampType the streaming halves read directly)
    val ev = graft.Tables.normalizeTs(s.read.parquet(s"$dataDir/events.parquet"))
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    val dir = tempDir("graft-rec-in")
    def writeHalf(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = tempDir("graft-rec-half")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      val dest = dir.resolve(name)
      Files.copy(part, dest)
      dest.toFile.setLastModified(mtime)
      ()
    }
    val t0 = System.currentTimeMillis() - 60000
    writeHalf(ev.where(unix_micros(col("ts")) < mid), "a.parquet", t0)
    writeHalf(ev.where(unix_micros(col("ts")) >= mid), "b.parquet", t0 + 10000)
    dir
  }

  /** Start `logic` over the split input (one file per micro-batch),
    * kill it right after batch 0 commits, restart from the same
    * checkpoint, drain, and return (rows read back through the sink's
    * commit log, kill batch id, first batch id after restart). */
  private def runWithKill(logic: DataFrame => DataFrame,
      finish: DataFrame => DataFrame,
      rocksdb: Boolean = false): (Seq[Seq[Any]], Long, Long) = {
    val s = child(rocksdb)
    val in = splitInput.toString
    val ck = tempDir("graft-rec-ck").toString
    val out = tempDir("graft-rec-out").toString
    val schema = s.read.parquet(in).schema
    def start(throttled: Boolean) = {
      val w = logic(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ck)
      // run 1 idles 10 MINUTES between micro-batches, so the kill
      // lands deterministically AFTER batch 0 commits and BEFORE
      // batch 1 starts — state from batch 0 must carry the restart
      // alone. The interval must dwarf any load-stretched batch-0
      // duration: with a short interval (observed at 30 s under
      // 32-way suite + ambient load), batch 0 overruns the trigger,
      // batch 1 fires PAST-DUE immediately after it, and the
      // stop() races batch 1's commit — if batch 1 wins, the restart
      // has nothing left to do, runs zero batches, and the
      // resumed-after-kill assertion reads -1. Batch 0 itself is one
      // tiny file gated by the 120 s progress deadline below, so the
      // wide interval never slows the test.
      (if (throttled) w.trigger(
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 minutes"))
       else w).start()
    }
    val q1 = start(throttled = true)
    val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
    while (q1.lastProgress == null && System.nanoTime < deadline)
      Thread.sleep(10)
    assert(q1.lastProgress != null, "no micro-batch committed within 120 s")
    val killedAt = q1.lastProgress.batchId
    q1.stop()
    val q2 = start(throttled = false)
    q2.processAllAvailable()
    val resumedAt = q2.recentProgress.headOption.map(_.batchId).getOrElse(-1L)
    q2.stop()
    val rows = finish(s.read.parquet(out)).collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    (rows, killedAt, resumedAt)
  }

  private def oracleEntry(name: String): Seq[Seq[Any]] =
    graft.SparkEntry.queries(name)(parent, dataDir)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("sessions: state + event-time timeout survive a mid-drain kill and restart") {
    val (rows, killedAt, resumedAt) =
      runWithKill(Streaming.sessionsLogic, Streaming.sessionsFinish)
    assert(killedAt >= 0)
    assert(resumedAt > killedAt,
      s"restart must resume AFTER the kill point, not replay from scratch " +
        s"(killed at $killedAt, resumed at $resumedAt)")
    val expected = oracleEntry("q_stream_sessions")
    assert(rows.nonEmpty && rows == expected,
      s"recovered drain diverged from the oracle-gated single run: " +
        s"${rows.length} vs ${expected.length} rows")
  }

  test("transformWithState: ValueState + MapState + timers survive a mid-drain kill") {
    val (rows, killedAt, resumedAt) =
      runWithKill(Streaming.twsLogic, Streaming.twsFinish, rocksdb = true)
    assert(killedAt >= 0)
    assert(resumedAt > killedAt,
      s"restart must resume AFTER the kill point, not replay from scratch " +
        s"(killed at $killedAt, resumed at $resumedAt)")
    val expected = oracleEntry("q_stream_tws")
    assert(rows.nonEmpty && rows == expected,
      s"recovered drain diverged from the oracle-gated single run: " +
        s"${rows.length} vs ${expected.length} rows")
  }

  test("left-outer join: state eviction emits exactly once across a restart") {
    val (rows, killedAt, resumedAt) =
      runWithKill(Streaming.joinOuterLogic, Streaming.joinOuterFinish)
    assert(killedAt >= 0)
    assert(resumedAt > killedAt,
      s"restart must resume AFTER the kill point, not replay from scratch " +
        s"(killed at $killedAt, resumed at $resumedAt)")
    val expected = oracleEntry("q_stream_join_outer")
    assert(rows.nonEmpty && rows == expected,
      s"recovered drain diverged from the oracle-gated single run: " +
        s"${rows.length} vs ${expected.length} rows")
  }

  test("native session_window: engine-owned merged-window state survives a restart") {
    val (rows, killedAt, resumedAt) =
      runWithKill(Streaming.sessWinLogic, Streaming.sessWinFinish)
    assert(killedAt >= 0)
    assert(resumedAt > killedAt,
      s"restart must resume AFTER the kill point, not replay from scratch " +
        s"(killed at $killedAt, resumed at $resumedAt)")
    val expected = oracleEntry("q_stream_sesswin")
    assert(rows.nonEmpty && rows == expected,
      s"recovered drain diverged from the oracle-gated single run: " +
        s"${rows.length} vs ${expected.length} rows")
  }

  test("full-outer join: BOTH sides' eviction emits exactly once across a restart") {
    val (rows, killedAt, resumedAt) =
      runWithKill(Streaming.joinFullLogic, Streaming.joinFullFinish)
    assert(killedAt >= 0)
    assert(resumedAt > killedAt,
      s"restart must resume AFTER the kill point, not replay from scratch " +
        s"(killed at $killedAt, resumed at $resumedAt)")
    val expected = oracleEntry("q_stream_join_full")
    assert(rows.nonEmpty && rows == expected,
      s"recovered drain diverged from the oracle-gated single run: " +
        s"${rows.length} vs ${expected.length} rows")
  }
}
