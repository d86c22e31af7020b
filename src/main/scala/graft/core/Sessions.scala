package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory of the local entry points (Bench, Verify,
  * the probes and micro-benches). Every session it builds has the same
  * posture:
  *   - `local[cpus]` master with `cpus` shuffle partitions;
  *   - UTC session zone (Tables.normalizeTs's documented assumption:
  *     the NTZ→TZ cast is epoch-preserving only under UTC);
  *   - UI off, the given log level, quiet WindowExec warnings.
  * The bounded top-k planner strategy and the SQL vector functions
  * come with every session, this one and its children included, from
  * the service-loaded [[graft.functions.GraftExtensions]].
  * `conf` carries an entry point's own extra settings. SmartSpimMain
  * keeps its own builder: under spark-submit it must take the
  * injected master and keep the UI.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the entry point's default. */
  def cpus(default: String = "32"): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def local(cpus: String = Sessions.cpus(), logLevel: String = "WARN",
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
    spark
  }

  /** A child of `parent` for per-query settings: shared SparkContext,
    * cached data and session extensions, its own SQLConf with `conf`
    * set. */
  def child(parent: SparkSession, conf: (String, String)*): SparkSession = {
    val s = parent.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
