package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The measured part of one run: the closed loop, the output checks and
  * (with tracing) the per-layer numbers. */
final class Runner(spark: SparkSession, o: Opts, spec: ImagingSpec, root: Path,
    out: Path, ledger: Ledger, metrics: Metrics, golden: Path, tiny: Boolean) {

  /** query -> (result dump dir, timed executions), checked by run.py
    * against the golden digests. */
  val queryChecks = mutable.LinkedHashMap.empty[String, (String, Long)]

  private val nproc = Runtime.getRuntime.availableProcessors
  private val isMix = o.workload == "query_mix"
  private val w = new ImagingWorkload(spec, root, o.seed)

  private val convertS = mutable.ArrayBuffer.empty[Double]
  private val readbackS = mutable.ArrayBuffer.empty[Double]
  private val queryS = mutable.ArrayBuffer.empty[Double]
  /** Timed executions per distinct operation: a query of the mix, or one
    * chunk of the store. */
  private val opTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val passS = mutable.ArrayBuffer.empty[Double]
  private val manifests = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
  private val lookups = mutable.ArrayBuffer.empty[((Int, Int, Int, Int, Int), Long)]
  private val execs = mutable.LinkedHashMap.empty[String, Long]
  private var passIdx = 0
  private var lastOut: Path = _

  // tracing state (traced runs only)
  private var rec: SpanRecorder = _
  private var listener: BenchListener = _

  private def span[A](name: String)(body: => A): A =
    if (rec == null) body else rec.span(name)(body)

  /** One timed operation: attempted once, failed if it throws. */
  private def op[A](what: String)(body: => A): Option[(A, Double)] = {
    ledger.attempted += 1
    val t0 = System.nanoTime()
    try { val r = body; Some((r, Stats.secondsSince(t0))) }
    catch { case t: Throwable => ledger.fail(1, s"$what: $t"); None }
  }

  // ------------------------------------------------------------ imaging

  private lazy val l0Chunks: Long = w.expected.map(e =>
    e.grid(0, spec.chunk).map(_.toLong).product).sum

  /** Level-0 read-backs per conversion: one read is short next to a
    * conversion, so a few per pass give the median enough samples. */
  private val readbacks = 3

  /** convert -> level-0 read-backs -> single-chunk reads. Returns wall s. */
  private def imagingPass(): Double = {
    val dir = out.resolve(s"pass-$passIdx")
    passIdx += 1
    val t0 = System.nanoTime()
    val conv = op("convert")(span("runJob")(w.convert(spark, dir)))
    conv.foreach(c => convertS += c._2)
    if (conv.isDefined) {
      for (_ <- 0 until readbacks)
        op("readback")(span("zarr_scan")(w.readback(spark, dir))).foreach { case (r, t) =>
          readbackS += t
          if (r != ((l0Chunks, w.level0Bytes)))
            ledger.fail(1, s"readback returned $r, want ${(l0Chunks, w.level0Bytes)}")
        }
      for (_ <- 0 until spec.sweeps; k <- w.sweep())
        op("lookup")(span("lookup")(w.lookup(spark, dir, k))).foreach { case (crc, t) =>
          queryS += t; lookups += (k -> crc)
          opTimes.getOrElseUpdate(k.toString, mutable.ArrayBuffer.empty) += t
        }
    }
    val wall = Stats.secondsSince(t0)
    // bookkeeping, outside the timed region: keep only the newest store
    if (conv.isDefined) {
      manifests += w.manifest(dir)
      if (lastOut != null) Files2.deleteTree(lastOut)
      lastOut = dir
    } else Files2.deleteTree(dir)
    wall
  }

  /** Output checks of every conversion and read. A conversion is right
    * only if its objects are byte-identical to a store that passed the
    * full voxel and metadata check. */
  private def finishImaging(): Unit = {
    if (lastOut == null) return
    if (o.inject == "corrupt-chunk") w.corruptOneChunk(lastOut)
    val checked = w.manifest(lastOut)
    val problems = w.check(lastOut, nproc)
    problems.foreach(p => println(s"perfbench: check failed: $p"))
    val wrong = manifests.count(m => problems.nonEmpty || m != checked)
    if (wrong > 0) ledger.fail(wrong, s"$wrong conversion(s) wrong: ${problems.headOption
      .getOrElse("objects differ from the checked store")}")
    val badLookups = lookups.count { case (k, crc) => crc != w.lookupExpected(k) }
    if (badLookups > 0) ledger.fail(badLookups, s"$badLookups chunk read(s) wrong")
    val m = manifests.last
    metrics.put("out_objects", m.size.toDouble, "count")
    metrics.put("out_bytes_ratio", m.values.map(_._1).sum.toDouble / spec.fixture.rawBytes, "ratio")
    Files2.deleteTree(lastOut)
  }

  private def imagingMetrics(): Unit = {
    metrics.put("convert_mbps", w.rawMb / Stats.median(convertS.toSeq), "MB/s")
    metrics.put("readback_mbps", w.level0Bytes / 1e6 / Stats.median(readbackS.toSeq), "MB/s")
  }

  // -------------------------------------------------------------- queries

  private lazy val selection: Seq[String] = {
    val all = QueryMix.select(QueryMix.golden(golden))
    if (tiny) all.take(4) else all
  }
  private val order = new scala.util.Random(o.seed)

  /** The untimed warm-up execution of a query in the mix. It writes the
    * result that run.py checks against the golden digest, and warms the
    * code the timed operation (build + count) shares with it. */
  private def warmQuery(ni: (String, Int)): Unit = {
    val (n, i) = ni
    val dir = o.work.resolve(s"qres/$n")
    Files2.deleteTree(dir)
    try {
      val df = graft.SparkEntry.queries(n)(spark, o.sfDir)
      // fault injection for the benchmark's own tests: one wrong result
      val res = if (o.inject == "wrong-query" && i == 0)
        df.withColumn("injected_wrong", org.apache.spark.sql.functions.lit(1)) else df
      res.write.parquet(dir.toString)
    } catch { case t: Throwable => println(s"perfbench: warm-up $n failed: $t") }
    queryChecks(n) = (dir.toString, 0L)
  }

  private def runQuery(n: String): Unit = {
    val fn = graft.SparkEntry.queries(n)
    op(n)(span(s"query:$n") {
      val df = span("build")(fn(spark, o.sfDir))
      span("count")(df.count())
    }).foreach { case (_, t) =>
      queryS += t
      opTimes.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += t
    }
    execs(n) = execs.getOrElse(n, 0L) + 1
  }

  /** The sample behind query_p50_s and query_p90_s (Harrell-Davis
    * quantiles of it): each distinct operation (a query of the mix, or a
    * chunk of the store) counts once, with its fastest timed execution
    * (min-of-N, as graft.Bench reports). On query_mix the queries differ
    * in cost by up to 10x, so a quantile of the pooled executions would
    * jump between neighbouring queries whose few samples interleave, and
    * the first timed count of a query can still pay for code generation
    * its warm-up write did not need. */
  private def latencies: Seq[Double] = opTimes.values.map(_.min).toSeq

  /** One pass of the query mix, in a seeded order. */
  private def mixPass(): Double = {
    val t0 = System.nanoTime()
    order.shuffle(selection).foreach(runQuery)
    Stats.secondsSince(t0)
  }

  // ---------------------------------------------------------------- loops

  /** Passes until `seconds` have passed, and at least `minPasses`, so
    * that every operation of a pass has that many timed executions. */
  private def loop(seconds: Double, minPasses: Int)(pass: => Double): Unit = {
    val t0 = System.nanoTime()
    do passS += pass while (Stats.secondsSince(t0) < seconds || passS.size < minPasses)
  }

  private def pass(): Double = if (isMix) mixPass() else imagingPass()

  private def finish(): Unit = {
    finishImaging()
    queryChecks.keys.toSeq.foreach(n => queryChecks(n) = (queryChecks(n)._1, execs.getOrElse(n, 0L)))
    def fmt(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(s"perfbench: convert_s=${fmt(convertS)} readback_s=${fmt(readbackS)} pass_s=${fmt(passS)}")
    if (isMix) println("perfbench: query_best_s " + opTimes.toSeq
      .sortBy(_._2.min).map { case (n, ts) => f"$n=${ts.min}%.3f" }.mkString(" "))
    println(s"perfbench: samples passes=${passS.size} convert=${convertS.size} " +
      s"readback=${readbackS.size} query=${queryS.size} mix=${if (isMix) selection.size else 0}")
  }

  /** Untimed first pass, so that the timed loop starts from a JIT- and
    * page-cache-warm process. On query_mix it is also the result dump. */
  private def warmPass(): Unit = {
    if (isMix) {
      Files2.deleteTree(o.work.resolve("qres"))
      selection.zipWithIndex.foreach(warmQuery)
    }
    val dir = out.resolve("warm-pass")
    w.convert(spark, dir)
    w.readback(spark, dir)
    Files2.deleteTree(dir)
  }

  def untraced(): Unit = {
    val tWarm = System.nanoTime()
    warmPass()
    val tLoop = System.nanoTime()
    loop(o.seconds, 2)(pass())
    // query_mix's companion conversion, after the mix passes: three times,
    // so that the median skips the first, which follows the queries and
    // runs partly cold
    if (isMix) for (_ <- 1 to 3) imagingPass()
    val tChecks = System.nanoTime()
    // peak memory of the conversion and queries, before the checks allocate
    metrics.put("rss_peak_mb", Hygiene.rssPeakMb(), "MB")
    imagingMetrics()
    metrics.put("mix_pass_s", Stats.median(passS.toSeq), "s")
    metrics.put("query_p50_s", Stats.hdQuantile(latencies, 0.5), "s")
    metrics.put("query_p90_s", Stats.hdQuantile(latencies, 0.9), "s")
    finish()
    println(f"perfbench: loop warm_pass_s=${(tLoop - tWarm) / 1e9}%.2f " +
      f"loop_s=${(tChecks - tLoop) / 1e9}%.2f checks_s=${Stats.secondsSince(tChecks)}%.2f")
  }

  // --------------------------------------------------------------- traced

  def traced(): Unit = {
    warmPass()
    // untraced half: the reference for the tracing overhead
    loop(o.seconds / 2, 1)(pass())
    val untracedOps = (if (isMix) queryS else convertS).toSeq
    val untracedConvert = Stats.median(convertS.toSeq)
    queryS.clear(); convertS.clear(); readbackS.clear(); passS.clear()

    val base = QueryMix.cachedEntries(spark)
    listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    rec = new SpanRecorder(s"${o.workload}-s${o.seed}-${System.currentTimeMillis()}")
    var leftovers = 0
    val loopStart = System.currentTimeMillis()
    loop(o.seconds / 2, 1) {
      if (isMix) {
        val t0 = System.nanoTime()
        order.shuffle(selection).foreach { n =>
          val before = QueryMix.cachedEntries(spark)
          runQuery(n)
          leftovers += math.max(0, QueryMix.cachedEntries(spark) - before)
        }
        Stats.secondsSince(t0)
      } else imagingPass()
    }
    val loopS = (System.currentTimeMillis() - loopStart) / 1e3
    if (isMix) imagingPass()
    Trace.drain(spark.sparkContext)
    val roots = rec.spans.filter(_.parent == 0).toSeq
    roots.foreach(Trace.attachJobs(rec, listener, _))
    def engine(ss: Seq[Span]) =
      ss.map(s => (s, Trace.engine(listener, listener.jobsIn(s.start, s.end))))
    val conversions = engine(roots.filter(_.name == "runJob"))
    val queries = engine(roots.filter(_.name.startsWith("query:")))
    // the workload's own operations: queries on query_mix, conversions otherwise
    val eng = if (isMix) queries else conversions
    val tracedOps = eng.map(_._1.dur)

    val n = math.max(1, eng.size).toDouble
    def per(f: Trace.Engine => Double): Double = eng.map(x => f(x._2)).sum / n
    def gap(x: (Span, Trace.Engine)): Double = x._1.dur - x._2.jobCoverS
    metrics.put("spark.jobs", per(_.jobs), "count/op")
    metrics.put("spark.stages", per(_.stages), "count/op")
    metrics.put("spark.tasks", per(_.tasks.toDouble), "count/op")
    metrics.put("spark.task_s", per(_.taskS), "s/op")
    metrics.put("spark.gc_s", per(_.gcS), "s/op")
    metrics.put("spark.cpu_busy_frac",
      eng.map(_._2.taskS).sum / math.max(1e-9, tracedOps.sum * nproc), "frac")
    metrics.put("spark.driver_gap_s", eng.map(gap).sum / n, "s/op")
    metrics.put("spark.shuffle_write_bytes", per(_.shuffleWrite.toDouble), "B/op")
    metrics.put("spark.spill_bytes", per(_.spill.toDouble), "B/op")
    metrics.put("trace.overhead_frac",
      Stats.median(tracedOps) / math.max(1e-9, Stats.median(untracedOps)) - 1.0, "frac")
    metrics.put("scoped.persisted_after",
      (if (isMix) leftovers else math.max(0, QueryMix.cachedEntries(spark) - base)).toDouble,
      "count")
    metrics.put("job.driver_s", Stats.median(conversions.map(gap)), "s")
    metrics.put("zarr_scan.s", Stats.median(readbackS.toSeq), "s")
    metrics.put("zarr_scan.chunks", l0Chunks.toDouble, "count")
    metrics.put("zarr_scan.bytes", w.level0Bytes.toDouble, "B-computed")

    if (isMix) {
      queries.groupBy(x => QueryMix.moduleOf(x._1.name.stripPrefix("query:"))).foreach {
        case (m, xs) =>
          val k = xs.size.toDouble
          def build(s: Span) = rec.spans.find(c => c.parent == s.id && c.name == "build")
            .map(_.dur).getOrElse(0.0)
          metrics.put(s"q.$m.s", xs.map(_._1.dur).sum / k, "s/op")
          metrics.put(s"q.$m.jobs", xs.map(_._2.jobs.toDouble).sum / k, "count/op")
          metrics.put(s"q.$m.build_s", xs.map(x => build(x._1)).sum / k, "s/op")
          metrics.put(s"q.$m.driver_gap_s", xs.map(gap).sum / k, "s/op")
          metrics.put(s"q.$m.shuffle_bytes", xs.map(_._2.shuffleWrite.toDouble).sum / k, "B/op")
      }
      val st = listener.stream
      val p = math.max(1, passS.size).toDouble
      metrics.put("stream.batches", st.batches / p, "count/pass")
      metrics.put("stream.add_batch_s", st.addBatchMs / 1e3 / p, "s/pass")
      metrics.put("stream.planning_s", st.planningMs / 1e3 / p, "s/pass")
      metrics.put("stream.commit_s", st.commitMs / 1e3 / p, "s/pass")
    }
    // stack_v2: the staged layers account for the untraced runJob wall;
    // query_mix: the query spans account for the traced mix passes (the
    // rest is the harness's own work)
    val layerS = stagedLayers()
    metrics.put("trace.accounted_frac",
      if (isMix) tracedOps.sum / math.max(1e-9, loopS)
      else layerS / math.max(1e-9, untracedConvert), "frac")
    val spansFile = o.work.resolve(s"spans-${o.workload}-s${o.seed}.jsonl")
    rec.write(spansFile)
    printSpanTable()
    println(f"perfbench: traced ops=${tracedOps.size} untraced ops=${untracedOps.size} " +
      f"traced_median_s=${Stats.median(tracedOps)}%.4f " +
      f"untraced_median_s=${Stats.median(untracedOps)}%.4f spans=$spansFile")
    finish()
  }

  /** Staged pass: each imaging layer on its own, plus single-thread
    * kernels on this workload's data. Returns the layers' total seconds. */
  private def stagedLayers(): Double = {
    val dir = out.resolve("staged")
    val layers = w.staged(spark, dir, rec, listener)
    def s(n: String) = layers.get(n).map(_._1).getOrElse(0.0)
    metrics.put("decode.stage_s", s("decode"), "s")
    metrics.put("decode.bytes", spec.fixture.rawBytes.toDouble, "B-computed")
    metrics.put("rechunk.stage_s", s("rechunk"), "s")
    metrics.put("rechunk.shuffle_write_bytes", layers("rechunk")._2.toDouble, "B")
    metrics.put("rechunk.spill_bytes", layers("rechunk")._3.toDouble, "B")
    (1 until spec.levels).foreach(l => metrics.put(s"pyramid.L${l}_s", s(s"pyramid.L$l"), "s"))
    metrics.put("pyramid.shuffle_bytes", (1 until spec.levels).map(l =>
      layers(s"pyramid.L$l")._2).sum.toDouble, "B")
    (0 until spec.levels).foreach(l => metrics.put(s"write.L${l}_s", s(s"write.L$l"), "s"))
    val objs = Files2.storeObjects(dir)
    metrics.put("write.objects", objs.size.toDouble, "count")
    metrics.put("write.bytes", objs.map(Files.size).sum.toDouble, "B")
    Files2.deleteTree(dir)
    val (dec, wm, cm, dm, ratio) = w.kernels()
    metrics.put("decode.kernel_mbps", dec, "MB/s")
    metrics.put("windowed_mean.kernel_mbps", wm, "MB/s")
    metrics.put("blosc.compress_kernel_mbps", cm, "MB/s")
    metrics.put("blosc.decompress_kernel_mbps", dm, "MB/s")
    metrics.put("blosc.ratio", ratio, "ratio")
    layers.values.map(_._1).sum
  }

  /** Per span name: count, total and self seconds (self = not covered
    * by child spans). */
  private def printSpanTable(): Unit = {
    val rows = rec.spans.groupBy(s => if (s.name.startsWith("query:")) "query:*"
      else if (s.name.startsWith("job:")) "job:*" else if (s.name.startsWith("stage:")) "stage:*"
      else s.name)
    println("perfbench: span                     count    total_s     self_s")
    rows.toSeq.sortBy(r => -r._2.map(_.dur).sum).foreach { case (n, ss) =>
      println(f"perfbench: ${n.take(24)}%-24s ${ss.size}%6d ${ss.map(_.dur).sum}%10.3f " +
        f"${ss.map(rec.selfTime).sum}%10.3f")
    }
  }
}
