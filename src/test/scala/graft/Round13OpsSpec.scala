package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 gates beyond the oracle hash.
  *
  * 1. Multi-micro-batch replay (round-12 verdict item 7): the
  *    stream-stream interval joins and the foreachBatch upsert stage
  *    their source as three time-contiguous slices read with
  *    maxFilesPerTrigger=1, so watermark advancement and state
  *    eviction demonstrably cross >= 3 micro-batches — the regime an
  *    unbounded production stream runs in — while the drained result
  *    stays oracle-identical (the CORRECTNESS gate checks that part).
  *    These tests assert the progress evidence: >= 3 data batches, and
  *    join state rows evicted BETWEEN batches, not only at the final
  *    watermark cut.
  *
  * 2. foreachBatch partition-key law (ADVICE round 12, high): update
  *    mode emits only CHANGED groups, so the dynamic-overwrite sink
  *    must partition by the FULL grouping key (day_ms, event_type) —
  *    partitioning by day only would let a micro-batch that touches a
  *    subset of a day's event types overwrite the whole day with that
  *    subset. With the multi-batch replay above, the oracle hash now
  *    exercises this; here we additionally assert the sink's converged
  *    row count equals the batch aggregate's (nothing silently
  *    dropped) and that the replay really spanned >= 3 batches.
  */
class Round13OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark
  private val SF = "/root/testdata/sf0.01"

  private def progress(name: String) = {
    val p = graft.queries.Streaming.progressTrail.get(name)
    assert(p != null, s"no progress trail recorded for $name")
    p.toSeq
  }

  private def assertMultiBatchEviction(name: String): Unit = {
    SparkEntry.queries(name)(spark, SF).collect()
    val trail = progress(name)
    val dataBatches = trail.filter(_.numInputRows > 0)
    assert(dataBatches.size >= 3,
      s"$name: expected >= 3 data micro-batches, got ${dataBatches.size} " +
        s"(trail ${trail.size})")
    // eviction BETWEEN batches: some non-final batch removed state
    // rows (the final no-data batch does the last cut; mid-stream
    // removals prove the watermark advanced and evicted as it would on
    // an unbounded stream). numRowsRemoved is not populated for every
    // join type (full-outer reports 0 while total state visibly
    // shrinks), so evictions are ALSO derived from the state balance:
    // evicted(k) = rows(k-1) + updated(k) - rows(k).
    val perBatch = trail.map(p => (
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.numRowsUpdated).sum,
      p.stateOperators.map(_.numRowsRemoved).sum))
    val midEvictions = perBatch.sliding(2).toSeq.dropRight(1).map {
      case Seq((prevRows, _, _), (rows, upd, rm)) =>
        math.max(rm, prevRows + upd - rows)
      case _ => 0L
    }
    assert(midEvictions.exists(_ > 0),
      s"$name: no state rows evicted between micro-batches: " + trail.map(p =>
        s"(b${p.batchId} in=${p.numInputRows} " +
          s"rm=${p.stateOperators.map(_.numRowsRemoved).sum} " +
          s"upd=${p.stateOperators.map(_.numRowsUpdated).sum} " +
          s"rows=${p.stateOperators.map(_.numRowsTotal).sum} " +
          s"wm=${p.eventTime.get("watermark")})").mkString(" "))
  }

  test("inner interval join replays >= 3 micro-batches with mid-stream eviction") {
    assertMultiBatchEviction("q_stream_join")
  }

  test("left-outer interval join replays >= 3 micro-batches with mid-stream eviction") {
    assertMultiBatchEviction("q_stream_join_outer")
  }

  test("full-outer interval join replays >= 3 micro-batches with mid-stream eviction") {
    assertMultiBatchEviction("q_stream_join_full")
  }

  test("memory-sink and file-sink drains record their batch trail") {
    // every drained query files its trail, not only the multi-batch
    // gates above: one memory-sink and one file-sink query
    Seq("q_stream_hourly", "q_stream_sessions_fsink").foreach { name =>
      graft.queries.Streaming.progressTrail.remove(name)
      SparkEntry.queries(name)(spark, SF).collect()
      val trail = progress(name)
      assert(trail.exists(p => p.numInputRows > 0 &&
        p.durationMs.containsKey("addBatch")),
        s"$name: no data batch with an addBatch duration in its trail " +
          s"(${trail.size} entries)")
    }
  }

  test("q_quality_ks equals an in-JVM brute-force KS on every (lang, source)") {
    // independent of BOTH engines' SQL: recompute the ppm-quantized
    // one-vs-rest KS from raw collected rows (sf0.001 = 5k docs) and
    // require exact equality — grid construction, window cumulation,
    // and the div-floored ppm CDFs all re-derived from first principles
    val raw = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = raw.groupBy(_._1).flatMap { case (lang, rows) =>
      val grid = rows.map(_._3).distinct.sorted
      val nAll = rows.length.toLong
      rows.groupBy(_._2).collect { case (src, mine) if mine.length < nAll =>
        val nS = mine.length.toLong
        val nR = nAll - nS
        val ks = grid.map { x =>
          val cumS = mine.count(_._3 <= x).toLong
          val cumR = rows.count(_._3 <= x).toLong - cumS
          math.abs(cumS * 1000000L / nS - cumR * 1000000L / nR)
        }.max
        (lang, src) -> (nS, nR, ks)
      }
    }
    val got = SparkEntry.queries("q_quality_ks")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == expected.keySet,
      s"group sets diverge: ${got.keySet.size} vs ${expected.keySet.size}")
    expected.foreach { case (k, v) =>
      assert(got(k) == v, s"$k: query ${got(k)} != brute $v")
    }
    // sanity on the statistic itself: a ppm CDF difference is bounded
    assert(got.values.forall { case (_, _, ks) => ks >= 0 && ks <= 1000000 })
  }

  test("foreachBatch upsert converges across >= 3 micro-batches to the batch aggregate") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_stream_fbatch")(spark, SF)
    val trail = progress("q_stream_fbatch")
    assert(trail.count(_.numInputRows > 0) >= 3,
      s"fbatch: expected >= 3 data micro-batches, " +
        s"got ${trail.count(_.numInputRows > 0)}")
    // nothing dropped by a too-coarse partition key: the converged sink
    // holds exactly the batch aggregate's groups and totals
    val expected = Tables.events(spark, SF)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("day_ms"),
        col("event_type"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val sink = got.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sink == expected,
      s"fbatch sink diverged from the batch aggregate: " +
        s"${sink.size} vs ${expected.size} groups")
  }
}
