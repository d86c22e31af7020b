package org.apache.spark.deploy

import java.nio.file.Paths

import scala.sys.process._

import org.apache.spark.SparkConf
import org.apache.spark.rpc.RpcEnv
import org.apache.spark.sql.SparkSession

/** Test-only standalone mini-cluster whose two workers register under
  * DIFFERENT host strings (`localhost` / `127.0.0.1`). Speculative
  * task clones only dequeue onto a host with no attempt of that task,
  * so `local-cluster[...]` — whose workers all share one hostname —
  * can never launch one; this can. Used by SpeculationProbe, and by
  * the other cluster probes for executor kills and deployment regimes.
  *
  * Also the one place the probes' plumbing lives: the spec-side
  * subprocess launcher ([[runProbe]]) and the probe-side session on
  * the cluster ([[session]]).
  */
object MiniClusterProbe {
  def start(conf: SparkConf, coresPerWorker: Int, memMbPerWorker: Int)
      : (String, Seq[RpcEnv]) = {
    val (menv, _, _) =
      master.Master.startRpcEnvAndEndpoint("localhost", 0, 0, conf)
    val url = s"spark://localhost:${menv.address.port}"
    val w1 = worker.Worker.startRpcEnvAndEndpoint("localhost", 0, 0,
      coresPerWorker, memMbPerWorker, Array(url), null, Some(1), conf, None)
    val w2 = worker.Worker.startRpcEnvAndEndpoint("127.0.0.1", 0, 0,
      coresPerWorker, memMbPerWorker, Array(url), null, Some(2), conf, None)
    (url, Seq(menv, w1, w2))
  }

  def stop(envs: Seq[RpcEnv]): Unit = envs.reverse.foreach { e =>
    e.shutdown(); e.awaitTermination()
  }

  /** JDK 17 module opens Spark needs, in the probe JVM and in every
    * executor JVM the workers launch. */
  private val addOpens: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  /** Session on the mini-cluster at `masterUrl`. Executors get the
    * project's compiled classes (the classpath entries under
    * `target/scala-*`; Spark's own jars come from the worker's Spark
    * home) and the module opens; `conf` adds probe-specific settings. */
  def session(masterUrl: String, shufflePartitions: Int,
      conf: (String, String)*): SparkSession = {
    val classes = sys.props("java.class.path")
      .split(":").filter(_.contains("target/scala-")).mkString(":")
    val b = SparkSession.builder()
      .master(masterUrl)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.executor.extraClassPath", classes)
      .config("spark.executor.extraJavaOptions", addOpens.mkString(" "))
    conf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Runs probe main `mainClass` in a child JVM on the test classpath
    * and returns its exit code and interleaved stdout/stderr. The
    * workers' executor launcher needs SPARK_HOME and
    * SPARK_SCALA_VERSION, which it cannot infer outside spark-submit;
    * SPARK_HOME is inherited, or else the directory holding the Spark
    * jars on the classpath. */
  def runProbe(mainClass: String, xmx: String, args: String*): (Int, String) = {
    val cp = sys.props("java.class.path")
    val sparkHome = sys.env.getOrElse("SPARK_HOME",
      cp.split(":").find(_.contains("spark-core_"))
        .map(j => Paths.get(j).toAbsolutePath.getParent.getParent.toString)
        .getOrElse(""))
    val cmd = Seq("java") ++ addOpens ++
      Seq(s"-Xmx$xmx", "-cp", cp, mainClass) ++ args
    val out = new StringBuilder
    val code = Process(cmd, None,
      "SPARK_HOME" -> sparkHome, "SPARK_SCALA_VERSION" -> "2.13") !
      ProcessLogger(
        l => { out.synchronized(out.append(l).append('\n')); () },
        l => { out.synchronized(out.append(l).append('\n')); () })
    (code, out.toString)
  }
}
