package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusProbe, SparkContext}
import org.apache.spark.scheduler._

/** One Spark job as a [[JobRecorder]] saw it: submission and end times
  * (driver clock, ms), the stages and tasks it ran, their summed
  * executor run time, and the shuffle bytes they read and wrote. */
final case class JobRec(id: Int, desc: String, startMs: Long, endMs: Long,
    stages: Int, tasks: Int, taskMs: Long, shufR: Long, shufW: Long) {
  def wallMs: Long = endMs - startMs
}

/** Records the Spark jobs that end while it is registered. A job's
  * stages are the ones it submitted: a stage it lists but skips (an
  * already-computed parent, as each AQE query stage's job lists the
  * stages before it) ran no tasks and is not counted. A stage counts
  * toward the first job that lists it. */
final class JobRecorder extends SparkListener {
  import JobRecorder.Work
  private val started = new ConcurrentHashMap[Int, (Long, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, Work]()
  private val done = new ConcurrentLinkedQueue[JobRec]()

  private def add(stageId: Int, w: Work): Unit =
    Option(stageJob.get(stageId)).foreach(job => work.merge(job, w, _ + _))

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val desc = Option(js.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))
        .orElse(Option(p.getProperty("callSite.short"))))
      .getOrElse("")
    started.put(js.jobId, (js.time, desc))
    js.stageIds.foreach(stageJob.putIfAbsent(_, js.jobId))
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
    add(ss.stageInfo.stageId, Work(1, 0, 0, 0, 0))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(te.taskMetrics).foreach { m =>
      add(te.stageId, Work(0, 1, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
    }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(started.remove(je.jobId)).foreach { case (t0, desc) =>
      val w = Option(work.remove(je.jobId)).getOrElse(Work(0, 0, 0, 0, 0))
      done.add(JobRec(je.jobId, desc, t0, je.time, w.stages, w.tasks, w.taskMs,
        w.shufR, w.shufW))
      ()
    }

  /** The jobs that have ended so far, by job id. */
  def jobs: Seq[JobRec] = done.asScala.toSeq.sortBy(_.id)
}

object JobRecorder {
  private final case class Work(stages: Int, tasks: Int, taskMs: Long, shufR: Long,
      shufW: Long) {
    def +(o: Work): Work = Work(stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
      shufR + o.shufR, shufW + o.shufW)
  }

  /** Runs `body` with a fresh recorder on `sc`'s listener bus and
    * returns its result with the jobs it ran. The bus is drained before
    * the recorder registers, so no earlier job's events reach it, and
    * again before it is read, so every job-end event that `body`'s jobs
    * posted has been delivered. */
  def during[T](sc: SparkContext)(body: => T): (T, Seq[JobRec]) = {
    val recorder = new JobRecorder
    ListenerBusProbe.waitUntilEmpty(sc)
    sc.addSparkListener(recorder)
    try {
      val out = body
      ListenerBusProbe.waitUntilEmpty(sc)
      (out, recorder.jobs)
    } finally sc.removeSparkListener(recorder)
  }

  /** Length of the union of the jobs' intervals: the time at least one
    * job was running. Concurrent jobs (AQE's broadcast builds) overlap,
    * so the sum of job walls can exceed it. */
  def busyMs(jobs: Seq[JobRec]): Long =
    jobs.sortBy(_.startMs).foldLeft((0L, Long.MinValue)) { case ((busy, reach), j) =>
      val from = math.max(j.startMs, reach)
      (busy + math.max(0L, j.endMs - from), math.max(reach, j.endMs))
    }._1
}
