package graft

import org.apache.spark.scheduler._

/** Per-query job attribution probe (optimization round 16, guide §1):
  * runs named inventory queries (after one untimed warm-up pass) with
  * a listener that records every Spark job's wall time, task count,
  * summed task time, and shuffle bytes. The report splits each query's
  * wall into "inside jobs" vs "driver gaps" (planning, collects,
  * checkpoint bookkeeping, scheduling latency between jobs) — the
  * number that tells a loop-shaped query whether to attack its plans
  * or its round-trip count. Dev tool; not part of the driver contract.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.JobProbe q1 [q2 ...]"
  */
object JobProbe {
  private final case class JobRec(id: Int, desc: String, wallMs: Long,
    tasks: Int, taskMs: Long, shufR: Long, shufW: Long, stages: Int)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProbe <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local()
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long, Long)]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties.getProperty("spark.job.description"))
          .orElse(Option(js.properties.getProperty("callSite.short")))
          .getOrElse("")
        jobs.put(js.jobId, (js.time, desc))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          stageTasks.merge(te.stageId,
            (1, m.executorRunTime,
              m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten),
            (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (t0, desc) =>
          import scala.jdk.CollectionConverters._
          val sids = stageToJob.asScala.filter(_._2 == je.jobId).keys.toSeq
          val agg = sids.flatMap(s => Option(stageTasks.get(s)))
          done.add(JobRec(je.jobId, desc, je.time - t0,
            agg.map(_._1).sum, agg.map(_._2).sum,
            agg.map(_._3).sum, agg.map(_._4).sum, sids.size))
        }
      }
    }

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).count() catch { case _: Throwable => () } // warm
      spark.sparkContext.addSparkListener(listener)
      done.clear(); stageTasks.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[probe] $name failed: ${e.getMessage}")
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      // drain: job-end events arrive on the listener bus slightly late
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val recs = done.asScala.toSeq.sortBy(_.id)
      val inJobs = recs.map(_.wallMs).sum
      println(f"\n===== $name: wall ${wallMs / 1000}%.2fs, ${recs.size} jobs, " +
        f"in-jobs ${inJobs / 1000.0}%.2fs, driver-gaps ${(wallMs - inJobs) / 1000.0}%.2fs =====")
      recs.foreach { r =>
        val d = if (r.desc.length > 60) r.desc.take(57) + "..." else r.desc
        println(f"  job ${r.id}%4d ${r.wallMs}%6dms tasks=${r.tasks}%4d " +
          f"taskMs=${r.taskMs}%7d stages=${r.stages} " +
          f"shufR=${r.shufR / 1024}%8dK shufW=${r.shufW / 1024}%8dK  $d")
      }
    }
    spark.stop()
  }
}
