package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness. One closed loop, one client, one JVM: the next
  * operation starts when the previous one has finished. Run through
  * perfbench/run.py, which builds the classpath and turns the result
  * file written here into the benchmark's last stdout line.
  *
  * Workloads: `stack_v2` (one PNG stack to zarr v2) and `query_mix`
  * (one light query per inventory module in a seeded order, then a small
  * pooled TIFF to zarr v3 sharded conversion). With `--trace 1`
  * the run measures the
  * per-layer metrics instead of the end-to-end ones.
  */
object Main {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "convert_mbps" -> "MB/s", "readback_mbps" -> "MB/s",
    "out_bytes_ratio" -> "ratio", "out_objects" -> "count", "mix_pass_s" -> "s",
    "query_p50_s" -> "s", "query_p90_s" -> "s", "ok_rate" -> "frac",
    "rss_peak_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "decode.stage_s" -> "s", "decode.bytes" -> "B-computed", "decode.kernel_mbps" -> "MB/s",
    "rechunk.stage_s" -> "s", "rechunk.shuffle_write_bytes" -> "B",
    "rechunk.spill_bytes" -> "B",
    "pyramid.L1_s" -> "s", "pyramid.L2_s" -> "s", "pyramid.L3_s" -> "s",
    "pyramid.shuffle_bytes" -> "B", "windowed_mean.kernel_mbps" -> "MB/s",
    "blosc.compress_kernel_mbps" -> "MB/s", "blosc.decompress_kernel_mbps" -> "MB/s",
    "blosc.ratio" -> "ratio",
    "write.L0_s" -> "s", "write.L1_s" -> "s", "write.L2_s" -> "s", "write.L3_s" -> "s",
    "write.objects" -> "count", "write.bytes" -> "B",
    "job.driver_s" -> "s",
    "zarr_scan.s" -> "s", "zarr_scan.chunks" -> "count", "zarr_scan.bytes" -> "B-computed",
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.task_s" -> "s/op", "spark.gc_s" -> "s/op", "spark.cpu_busy_frac" -> "frac",
    "spark.driver_gap_s" -> "s/op", "spark.shuffle_write_bytes" -> "B/op",
    "spark.spill_bytes" -> "B/op") ++
    QueryMix.modules.map(_._1).flatMap(m => Seq(
      s"q.$m.s" -> "s/op", s"q.$m.jobs" -> "count/op", s"q.$m.build_s" -> "s/op",
      s"q.$m.driver_gap_s" -> "s/op", s"q.$m.shuffle_bytes" -> "B/op")) ++
    Seq("stream.batches" -> "count/pass", "stream.add_batch_s" -> "s/pass",
      "stream.planning_s" -> "s/pass", "stream.commit_s" -> "s/pass",
      "scoped.persisted_after" -> "count",
      "trace.overhead_frac" -> "frac", "trace.accounted_frac" -> "frac")

  private val setups = 3

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    val tiny = o.scale == "tiny"
    val (steal0, total0) = Hygiene.cpuJiffies()
    Files.createDirectories(o.work)

    val imaging: ImagingSpec = o.workload match {
      case "stack_v2" => ImagingSpec(FixtureSpec("stack_v2", "png",
        Seq(if (tiny) StackGeom("Ex_488_Em_525", 0, 16, 96, 120)
            else StackGeom("Ex_488_Em_525", 0, 128, 512, 640)), o.seed), 2, None, 1)
      // the companion job: small TIFF stacks pooled into one zarr v3
      // sharded conversion (edge chunks padded; Y, X not multiples of 128)
      case "query_mix" => ImagingSpec(FixtureSpec("companion", "tif",
        Seq("Ex_488_Em_525", "Ex_561_Em_600", "Ex_639_Em_667").map(c =>
          if (tiny) StackGeom(c, 0, 8, 64, 80) else StackGeom(c, 0, 16, 130, 170)),
        o.seed), 3, Some(Seq(2, 2, 2)), 0)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val warmSpec = imaging.copy(fixture = FixtureSpec("warmup", imaging.fixture.ext,
      imaging.fixture.stacks.take(2).map(_.copy(nz = 8, ny = 100, nx = 130)), 0L))

    // fixtures first: their generation is reported on its own line
    val (root, genS) = Fixtures.materialize(imaging.fixture, o.work, nproc)
    val (warmRoot, _) = Fixtures.materialize(warmSpec.fixture, o.work, nproc)
    println(f"perfbench: fixture ${imaging.fixture.key} gen_s=$genS%.3f " +
      f"raw_mb=${imaging.fixture.rawBytes / 1e6}%.1f")

    val calibPre = Hygiene.calibrate()
    val out = o.work.resolve("out")
    Files2.deleteTree(out)
    Files.createDirectories(out)
    val warm = new ImagingWorkload(warmSpec, warmRoot, 0L)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$nproc]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", o.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      graft.core.LogHygiene.quietWindowWarnings()
      graft.plans.TopKPerKeyPlans.install(s)
      s
    }

    // set-up: session start, planner install and warm-up, several times
    def warmUp(s: SparkSession, i: Int): Unit =
      if (o.workload == "query_mix")
        graft.Tables.names.foreach(t => graft.Tables(s, o.sfDir, t).count())
      else {
        val w = out.resolve(s"warm-$i")
        warm.convert(s, w)
        warm.readback(s, w)
        warm.sweep().foreach(k => warm.lookup(s, w, k))
        Files2.deleteTree(w)
      }
    var spark: SparkSession = null
    val setupTimes = (1 to setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      warmUp(spark, i)
      Stats.secondsSince(t0)
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println(f"perfbench: setup_s runs=${setupTimes.map(t => f"$t%.3f").mkString(",")} " +
      f"process_start_to_first_op_s=${(System.currentTimeMillis() - jvmStart) / 1e3}%.3f")

    val ledger = new Ledger
    val metrics = new Metrics
    val run = new Runner(spark, o, imaging, root, out, ledger, metrics, o.golden, tiny)
    val tRun = System.nanoTime()
    if (o.trace) run.traced() else run.untraced()
    println(f"perfbench: phases fixture_s=$genS%.2f setups_s=${setupTimes.sum}%.2f " +
      f"run_and_checks_s=${Stats.secondsSince(tRun)}%.2f")
    metrics.put("setup_s", Stats.median(setupTimes), "s")

    val calibPost = Hygiene.calibrate()
    val (steal1, total1) = Hygiene.cpuJiffies()
    val stealFrac = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    if (!o.trace) {
      metrics.put("ok_rate", 1.0 - ledger.failed.toDouble / math.max(1L, ledger.attempted), "frac")
    }
    val want = if (o.trace) perLayer else endToEnd
    want.foreach { case (n, u) => if (!metrics.values.contains(n)) metrics.put(n, 0.0, u) }
    val xmxMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val hygiene = mutable.LinkedHashMap[String, Any]("nproc" -> nproc, "xmx_mb" -> xmxMb,
      "calib_pre_s" -> calibPre, "calib_post_s" -> calibPost, "cpu_steal_frac" -> stealFrac,
      "fixture_gen_s" -> genS, "fixture" -> imaging.fixture.key)
    println(s"perfbench: hygiene ${Json.render(hygiene)}")
    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> ledger.attempted, "failed" -> ledger.failed,
      "problems" -> ledger.problems.toSeq,
      "metrics" -> want.map { case (n, _) =>
        val (v, u) = metrics.values(n)
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }.to(mutable.LinkedHashMap),
      "query_checks" -> run.queryChecks.map { case (n, (dir, execs)) =>
        mutable.LinkedHashMap("name" -> n, "dir" -> dir, "execs" -> execs) },
      "hygiene" -> hygiene)
    Files.writeString(o.result, Json.render(result))
    spark.stop()
    Files2.deleteTree(out)
  }
}
