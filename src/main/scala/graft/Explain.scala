package graft

/** Plan-inspection utility: prints the formatted physical plan of the
  * named queries (or all). Used to keep scan pushdown, broadcast
  * choices, and whole-stage codegen spans honest as the inventory
  * grows: `sbt "runMain graft.Explain q1_agg q_join_bcast"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus("4"), logLevel = "ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      // planOnly: bypass Scoped's eager checkpoint so the REAL operator
      // tree is printed — otherwise every Scoped.share query explains as
      // a one-line `Scan ExistingRDD` checkpoint stub (round-16
      // optimization round; same recipe as PlanPeek). Loop queries
      // whose round structure lives in driver code still execute their
      // per-round actions during construction.
      try graft.queries.Scoped.planOnly {
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
