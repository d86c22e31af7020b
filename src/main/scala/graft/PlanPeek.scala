package graft

/** Dev tool: execute named inventory queries at a given SF dir and
  * print the EXECUTED (post-AQE) physical plan — the same
  * collect-then-inspect recipe PlanDigestSpec uses (count() would
  * build a different QueryExecution and show the pre-AQE plan).
  *
  *   runMain graft.PlanPeek <sfDir> <q1> [q2 ...]
  */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanPeek <sfDir> <query> [query ...]")
    val s = graft.core.Sessions.local("8")
    for (n <- args.drop(1)) {
      // planOnly: bypass Scoped's checkpoint so the REAL operator tree
      // is visible (otherwise the top plan is just Scan ExistingRDD)
      val df = graft.queries.Scoped.planOnly {
        SparkEntry.queries(n)(s, args(0))
      }
      df.collect()
      println(s"===== $n =====")
      println(df.queryExecution.executedPlan.toString)
    }
    s.stop()
  }
}
