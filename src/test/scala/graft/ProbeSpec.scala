package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{JobRec, JobRecorder}

/** The `graft.Probe` modes on the shared test session at sf0.001,
  * called as functions: the main's set-up and `spark.stop()` are not
  * part of them. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark
  private val SF = "/root/testdata/sf0.001"

  test("jobs: every recorded job ran tasks, and the jobs fit inside the query's wall") {
    val r = Probe.jobs(spark, SF, "q1_agg")
    assert(r.error.isEmpty, s"q1_agg failed: ${r.error}")
    assert(r.jobs.nonEmpty, "no job recorded for q1_agg")
    assert(r.jobs.forall(_.tasks > 0), s"a job without tasks: ${r.jobs}")
    assert(r.inJobsMs <= r.wallMs,
      s"union of job intervals ${r.inJobsMs} ms exceeds the query wall ${r.wallMs} ms: ${r.jobs}")
    assert(r.lines.count(_.startsWith("  job ")) == r.jobs.size)
  }

  test("busyMs is the length of the union of job intervals") {
    def job(id: Int, from: Long, to: Long) = JobRec(id, "", from, to, 1, 1, 0, 0, 0)
    // [0,10) and [5,20) overlap, [30,40) stands apart, [32,35) lies inside it
    val jobs = Seq(job(1, 5, 20), job(0, 0, 10), job(2, 30, 40), job(3, 32, 35))
    assert(JobRecorder.busyMs(jobs) == 30)
    assert(JobRecorder.busyMs(Nil) == 0)
  }

  test("plan: q1_agg prints its final adaptive plan") {
    val p = Probe.plan(spark, SF, "q1_agg")
    assert(p.contains("AdaptiveSparkPlan") && p.contains("isFinalPlan=true"), p)
    assert(p.contains("Final Plan") && p.contains("Initial Plan"), p)
  }
}
