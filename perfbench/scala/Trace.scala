package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch milliseconds (Spark's listener
  * clock) so driver spans and listener spans share one axis. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, run: String, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = (end - start) / 1000.0
}

/** In-memory span recorder: spans are kept until the run ends and are
  * then written out in one piece. */
final class SpanRecorder(val run: String) {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Long]()

  def current: Long = stack.headOption.getOrElse(0L)

  def add(s: Span): Unit = synchronized { spans += s }

  def nextId(): Long = ids.incrementAndGet()

  /** Time `body` as a span under the innermost open span. */
  def span[A](name: String, attrs: => Map[String, Double] = Map.empty)(body: => A): A = {
    val id = nextId()
    val parent = current
    stack.push(id)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack.pop()
      add(Span(id, name, t0, System.currentTimeMillis(), parent, run, attrs))
    }
  }

  /** Duration of `s` not covered by its children (union of child
    * intervals clipped to the parent). */
  def selfTime(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k =>
      (math.max(k.start, s.start), math.min(k.end, s.end))).filter(k => k._2 > k._1)
    s.dur - Trace.unionMs(kids.toSeq) / 1000.0
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json.render(mutable.LinkedHashMap("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
        "run" -> s.run, "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** What the engine did for one Spark job, gathered from its stages. */
final class JobRec(val id: Int, val start: Long, val callSite: String,
    val stageIds: Seq[Int]) {
  var end: Long = -1L
}

final class StageRec(val id: Int, val tasks: Int, val start: Long, val end: Long,
    val taskS: Double, val gcS: Double, val shuffleWrite: Long, val spill: Long,
    val callSite: String)

/** Streaming progress aggregator. Streaming queries in the inventory run
  * in child sessions, so progress events reach it through the shared
  * listener bus (see [[BenchListener.onOtherEvent]]). */
final class StreamProgress extends StreamingQueryListener {
  var batches = 0L
  var addBatchMs = 0L
  var planningMs = 0L
  var commitMs = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val d = e.progress.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      batches += 1
      addBatchMs += ms("addBatch")
      planningMs += ms("queryPlanning")
      commitMs += ms("commitOffsets") + ms("walCommit")
    }
}

/** Benchmark-side SparkListener: job and stage records with task time,
  * GC, shuffle and spill, labelled by call site. */
final class BenchListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val stream = new StreamProgress

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p =>
      Option(p.getProperty("callSite.short"))).getOrElse("?")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val (taskS, gcS, sw, spill) =
      if (m == null) (0.0, 0.0, 0L, 0L)
      else (m.executorRunTime / 1000.0, m.jvmGCTime / 1000.0,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    stages(i.stageId) = new StageRec(i.stageId, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      taskS, gcS, sw, spill, i.name)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => stream.onQueryProgress(p)
    case _ => ()
  }

  /** Jobs that started inside [t0, t1] (epoch ms). */
  def jobsIn(t0: Long, t1: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals, ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Engine totals for the jobs of one traced interval. */
  final case class Engine(jobs: Int, stages: Int, tasks: Long, taskS: Double,
      gcS: Double, shuffleWrite: Long, spill: Long, jobCoverS: Double)

  def engine(l: BenchListener, js: Seq[JobRec]): Engine = {
    val st = l.stagesOf(js)
    Engine(js.size, st.size, st.map(_.tasks.toLong).sum, st.map(_.taskS).sum,
      st.map(_.gcS).sum, st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
      unionMs(js.filter(_.end > 0).map(j => (j.start, j.end))) / 1000.0)
  }

  /** Add every job (and its stages) started inside `parent` as child
    * spans, labelled by call site. */
  def attachJobs(rec: SpanRecorder, l: BenchListener, parent: Span): Unit =
    l.jobsIn(parent.start, parent.end).foreach { j =>
      val jid = rec.nextId()
      rec.add(Span(jid, s"job:${j.callSite}", j.start, math.max(j.end, j.start),
        parent.id, rec.run))
      l.stagesOf(Seq(j)).foreach { s =>
        rec.add(Span(rec.nextId(), s"stage:${s.callSite}", s.start, s.end, jid,
          rec.run, Map("tasks" -> s.tasks.toDouble, "task_s" -> s.taskS,
            "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
            "spill_bytes" -> s.spill.toDouble)))
      }
    }
}
