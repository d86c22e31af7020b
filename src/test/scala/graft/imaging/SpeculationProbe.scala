package graft.imaging

import java.nio.file.Paths

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}

import graft.core.JobSettings

/** Subprocess main for SpeculationSpec: converts a stack with
  * aggressive SPECULATIVE EXECUTION on a `local-cluster` master (local
  * mode never starts the speculation thread), then prints the number
  * of speculative task launches. The spec compares the resulting store
  * byte-for-byte against a non-speculative run — the tmp+rename
  * last-writer-wins branch in the chunk/shard writers is exactly what
  * duplicate attempts race on.
  */
object SpeculationProbe {
  def main(args: Array[String]): Unit = {
    val Array(stackDir, inputRoot, outDir, zarrFormat) = args
    // two standalone workers under DIFFERENT host strings — a
    // speculative clone only dequeues onto a host with no attempt of
    // the task, which local-cluster's same-hostname workers never offer
    val (masterUrl, clusterEnvs) = org.apache.spark.deploy.MiniClusterProbe
      .start(new org.apache.spark.SparkConf(false), 2, 1024)
    val spark = org.apache.spark.deploy.MiniClusterProbe.session(masterUrl, 8,
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "5ms",
      "spark.speculation.multiplier" -> "1.0",
      "spark.speculation.quantile" -> "0.0",
      "spark.speculation.minTaskRuntime" -> "0ms",
      // efficiency-aware speculation (default on since 3.4) suppresses
      // clones of tasks with healthy process rates — the point here is
      // to FORCE duplicates, so turn it off and add the slot-surplus
      // duration trigger as a second path
      "spark.speculation.efficiency.enabled" -> "false",
      "spark.speculation.task.duration.threshold" -> "50ms",
      "spark.locality.wait" -> "0ms")
    val speculative = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (t.taskInfo.speculative) { speculative.incrementAndGet(); () }
    })
    val settings = JobSettings(
      inputSource = inputRoot, outputDirectory = outDir,
      chunkSize = Seq(64, 64, 64), downsampleLevels = 3,
      zarrFormat = zarrFormat.toInt,
      shardGrid = if (zarrFormat == "3") Some(Seq(2, 2, 2)) else None)
    SmartSpimJob.convertStacks(spark, Seq(Paths.get(stackDir)), settings,
      Seq(2.0, 1.8, 1.8))
    println(s"SPECULATIVE=${speculative.get}")
    spark.stop()
    org.apache.spark.deploy.MiniClusterProbe.stop(clusterEnvs)
    sys.exit(0) // non-daemon cluster threads otherwise keep the JVM up
  }
}
