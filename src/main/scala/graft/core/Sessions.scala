package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory of the local entry points (Bench, Verify,
  * the probes and micro-benches). Every session it builds has the same
  * posture:
  *   - `local[cpus]` master with `cpus` shuffle partitions;
  *   - UTC session zone (Tables.normalizeTs's documented assumption:
  *     the NTZ→TZ cast is epoch-preserving only under UTC);
  *   - UI off, the given log level, quiet WindowExec warnings;
  *   - the bounded top-k planner rule installed (unless `topK` is
  *     false, for a bench that times the plain window first).
  * `conf` carries an entry point's own extra settings. SmartSpimMain
  * keeps its own builder: under spark-submit it must take the
  * injected master and keep the UI.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the entry point's default. */
  def cpus(default: String = "32"): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def local(cpus: String = Sessions.cpus(), logLevel: String = "WARN", topK: Boolean = true,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    LogHygiene.quietWindowWarnings()
    if (topK) graft.plans.TopKPerKeyPlans.install(spark)
    spark
  }

  /** A child of `parent` for per-query settings: shared SparkContext and
    * cached data, its own SQLConf with `conf` set, and the parent's
    * planner rules. A bare `newSession()` starts with empty
    * `experimental` rules, so without the copy a query on the child
    * silently loses the top-k operator. */
  def child(parent: SparkSession, conf: (String, String)*): SparkSession = {
    val s = parent.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    inheritRules(parent, s)
  }

  /** Copy `parent`'s extra optimizer rules and strategies onto `child`.
    * A memoized child calls this on every reuse, so a later install or
    * uninstall on the parent reaches it. */
  def inheritRules(parent: SparkSession, child: SparkSession): SparkSession = {
    child.experimental.extraOptimizations = parent.experimental.extraOptimizations
    child.experimental.extraStrategies = parent.experimental.extraStrategies
    child
  }
}
