package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSessionTestWrapper, TempDirs}
import Sessionizer._

class SessionizerSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("advance folds events into gap-delimited sessions") {
    val gap = 1000L
    val ev = Seq(
      Event(1, 0, 10), Event(1, 500, 11), Event(1, 900, 12),   // session 1
      Event(1, 5000, 13), Event(1, 5100, 14),                  // session 2
      Event(1, 99000, 15))                                     // session 3 (open)
    val (closed, open) = advance(1, ev, None, gap)
    assert(closed == Seq(
      Session(1, 0, 900, 3, 10),
      Session(1, 5000, 5100, 2, 13)))
    assert(open.contains(SessionState(99000, 99000, 1, 15)))
  }

  test("advance resumes an open session across micro-batches") {
    val gap = 1000L
    val (closed1, open1) = advance(7, Seq(Event(7, 0, 1)), None, gap)
    assert(closed1.isEmpty)
    val (closed2, open2) = advance(7, Seq(Event(7, 800, 2), Event(7, 4000, 3)), open1, gap)
    assert(closed2 == Seq(Session(7, 0, 800, 2, 1)))
    assert(open2.contains(SessionState(4000, 4000, 1, 3)))
  }

  test("advance sorts out-of-order events within a batch") {
    val (closed, open) = advance(3, Seq(
      Event(3, 900, 2), Event(3, 0, 1), Event(3, 5000, 3)), None, 1000L)
    assert(closed == Seq(Session(3, 0, 900, 2, 1)))
    assert(open.contains(SessionState(5000, 5000, 1, 3)))
  }

  test("cross-batch late event can neither shrink the gap deadline nor move start late") {
    // round-12 verdict item 3: the clamp `last = max(s.last, e.tsMs)`,
    // `start = min(s.start, e.tsMs)` matters exactly when a SECOND
    // batch delivers an event older than the carried state — reverted,
    // `last` would follow the late event and the next on-time event
    // would spuriously split the session.
    val gap = 2000L
    val (c1, open1) = advance(1, Seq(Event(1, 1000, 10), Event(1, 3000, 11)), None, gap)
    assert(c1.isEmpty && open1.contains(SessionState(1000, 3000, 2, 10)))
    // batch 2: late event BETWEEN start and last — state must keep last=3000
    val (c2, open2) = advance(1, Seq(Event(1, 2000, 12)), open1, gap)
    assert(c2.isEmpty)
    assert(open2.contains(SessionState(1000, 3000, 3, 10)),
      s"deadline shrank or start moved: $open2")
    // batch 3: late event BEFORE start (within gap of last) — start
    // extends down, firstEvent follows
    val (c3, open3) = advance(1, Seq(Event(1, 1500, 13), Event(1, 1200, 9)), open2, gap)
    assert(c3.isEmpty)
    assert(open3.contains(SessionState(1000, 3000, 5, 10)), s"got $open3")
    val (c4, open4) = advance(1, Seq(Event(1, 500, 7)), open3, gap)
    assert(c4.isEmpty)
    assert(open4.contains(SessionState(500, 3000, 6, 7)),
      s"start/firstEvent did not extend down: $open4")
    // on-time event INSIDE the true gap window closes nothing: with a
    // reverted clamp last would be 500 and t=4500 would split
    val (c5, open5) = advance(1, Seq(Event(1, 4500, 20)), open4, gap)
    assert(c5.isEmpty, s"session spuriously split after late events: $c5")
    assert(open5.contains(SessionState(500, 4500, 7, 7)))
  }

  test("late event at exactly the session start takes firstEvent on smaller eventId") {
    // the batch gap-split oracle picks min (t, event_id); an
    // equal-timestamp late arrival with a smaller id must win
    val gap = 2000L
    val (_, open1) = advance(4, Seq(Event(4, 1000, 50)), None, gap)
    val (_, open2) = advance(4, Seq(Event(4, 1000, 40)), open1, gap)
    assert(open2.contains(SessionState(1000, 1000, 2, 40)),
      s"equal-ts tie-break diverged from the oracle: $open2")
    // ...and a LARGER id at the same ts must not steal it
    val (_, open3) = advance(4, Seq(Event(4, 1000, 60)), open2, gap)
    assert(open3.contains(SessionState(1000, 1000, 3, 40)))
  }

  test("fMGWS sessionizer matches the batch oracle across micro-batches with a late event") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val gap = 5000L
    val t0 = 1700000000000L
    val input = MemoryStream[Event]
    val qn = "sessions_latex_out"
    val q = sessionize(input.toDS(), gap)
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    try {
      input.addData(Event(1, t0, 10), Event(1, t0 + 2000, 11))
      q.processAllAvailable()
      // batch 2: a late event INSIDE the carried session (older than
      // state.last, above the watermark t0+2000-10s) plus a far event
      // that closes the session through the data path
      input.addData(Event(1, t0 + 1000, 12), Event(1, t0 + 60000, 13))
      q.processAllAvailable()
      val got = spark.table(qn).as[Session].collect().toSeq
      // the batch gap-split oracle over all four events: session 1 =
      // {t0, t0+1000, t0+2000}. A reverted clamp would end it at
      // t0+1000.
      assert(got.contains(Session(1, t0, t0 + 2000, 3, 10)),
        s"cross-batch session law diverged: $got")
    } finally { q.stop(); spark.catalog.dropTempView(qn); () }
  }

  test("transformWithState sessionizer clamps a cross-batch late event identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import TypeSessionizer._
    // transformWithState requires the RocksDB provider — child session
    // so the switch never leaks to the shared wrapper session
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val gap = 5000L
    val t0 = 1700000000000L
    val input = MemoryStream[TEvent]
    val qn = "tws_latex_out"
    val ck = tempDir("ck_tws_latex").toString
    val q = TypeSessionizer.sessionize(input.toDS(), gap)
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .option("checkpointLocation", ck).start()
    try {
      input.addData(TEvent(1, t0, 10, "a"), TEvent(1, t0 + 2000, 11, "b"))
      q.processAllAvailable()
      input.addData(TEvent(1, t0 + 1000, 12, "c"), TEvent(1, t0 + 60000, 13, "a"))
      q.processAllAvailable()
      val got = s.table(qn).as[TSession].collect().toSeq
      assert(got.contains(TSession(1, t0, t0 + 2000, 3, 3)),
        s"v2 cross-batch session law diverged: $got")
    } finally { q.stop(); s.catalog.dropTempView(qn); () }
  }

  test("streaming sessionize emits closed sessions through a real query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapMs = 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    // epoch-0 timestamps would be dropped as late vs the initial
    // watermark — use a realistic base
    val t0 = 1700000000000L
    try {
      input.addData(
        Event(1, t0, 10), Event(1, t0 + 500, 11),
        Event(1, t0 + 5000, 12),            // closes session 1
        Event(2, t0 + 100, 20))
      q.processAllAvailable()
      val got = spark.table("sessions_out").as[Session].collect().toSeq
      assert(got.contains(Session(1, t0, t0 + 500, 2, 10)))
      // user 2's session and user 1's second session are still open
      assert(!got.exists(s => s.userId == 2))
    } finally q.stop()
  }

  test("state store holds exactly one row per active user and drains on timeout") {
    // The scale-law assertion behind the 100 TB posture (and the
    // MicroBench sessionstate evidence at 10⁶ users): state row count
    // equals ACTIVE-user cardinality on every batch — independent of
    // how many batches (events) have accumulated — and the event-time
    // timeout drains it once the watermark passes last + gap.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val users = 20000
    val gapMs = 60000L
    val input = MemoryStream[Event]
    val qn = "sessions_state_scale"
    val ck = tempDir("ck_state_scale").toString
    val q = sessionize(input.toDS(), gapMs, "1 second")
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .option("checkpointLocation", ck).start()
    val base = 1700000000000L
    def stateRows: Long = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      (1 to 3).foreach { b =>
        val ts = base + b * 5000L // inside the gap: all sessions stay open
        input.addData((0 until users).map(u =>
          Event(u.toLong, ts + u % 100, b.toLong * users + u)))
        q.processAllAvailable()
        assert(stateRows == users.toLong,
          s"batch $b: state rows $stateRows != active users $users")
      }
      // past-gap pair: first advances the watermark beyond every
      // timeout, second fires them
      val far = base + 3 * 5000L + gapMs + 600000L
      input.addData(Seq(Event(-1L, far, -1L)))
      q.processAllAvailable()
      input.addData(Seq(Event(-1L, far + 100L, -2L)))
      q.processAllAvailable()
      assert(stateRows <= 2, s"state failed to drain: $stateRows rows")
      assert(spark.table(qn)
          .where(org.apache.spark.sql.functions.col("userId") >= 0)
          .count() == users.toLong,
        "every user's session must emit exactly once on timeout")
    } finally q.stop()
  }
}
