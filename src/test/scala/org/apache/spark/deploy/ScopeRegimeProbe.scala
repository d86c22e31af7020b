package org.apache.spark.deploy

import java.nio.file.Files

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Scoped

/** Subprocess main for CacheSpec's cluster regimes: runs
  * `Scoped.share`, `Scoped.shareEager` and one
  * `materializeRound`/`releaseRound` loop on a standalone two-worker
  * mini-cluster, first with NO checkpoint dir (the Lineage regime),
  * then with one (the Reliable regime — a SparkContext cannot unset
  * its dir, so this order). After each regime it drops the results,
  * waits for the ContextCleaner, and prints how many persistent RDDs
  * and CacheManager entries are left above the regime's baseline,
  * plus the rows each scope returned:
  *
  *   REGIME=<lineage|reliable> LEAKED_RDDS=<n> LEAKED_ENTRIES=<n>
  *   ROWS=<regime>,<share|shareEager|loop>,<row digest>
  */
object ScopeRegimeProbe {
  def main(args: Array[String]): Unit = {
    val (masterUrl, clusterEnvs) =
      MiniClusterProbe.start(new SparkConf(false), 1, 512)
    val spark = MiniClusterProbe.session(masterUrl, 4,
      "spark.executor.memory" -> "512m")
    try {
      runRegime(spark, "lineage")
      spark.sparkContext.setCheckpointDir(
        Files.createTempDirectory("graft-scope-ckpt").toString)
      runRegime(spark, "reliable")
    } finally {
      spark.stop()
      MiniClusterProbe.stop(clusterEnvs)
    }
    sys.exit(0) // non-daemon cluster threads otherwise keep the JVM up
  }

  private def digest(df: DataFrame): String =
    df.collect().map(_.toSeq.mkString(":")).sorted.mkString(";")

  private def runRegime(spark: SparkSession, regime: String): Unit = {
    val sc = spark.sparkContext
    val rdds0 = sc.getPersistentRDDs.keySet
    val entries0 = graft.CacheProbe.entries(spark)
    def input(): DataFrame =
      spark.range(0, 2000, 1, 4).select((col("id") % 17).as("k"), col("id").as("v"))
    // each scope's result is read by two subtrees, as in the queries
    def twoSided(in: DataFrame): DataFrame =
      in.groupBy("k").agg(count(lit(1)).as("n"))
        .join(in.groupBy("k").agg(sum("v").as("s")), "k")
    locally {
      val in = input()
      val r = Scoped.share(in)(twoSided(in))
      println(s"ROWS=$regime,share,${digest(r)}")
    }
    locally {
      val r = Scoped.shareEager(input())(twoSided)
      println(s"ROWS=$regime,shareEager,${digest(r)}")
    }
    locally {
      var cur = Scoped.materializeRound(input())
      (1 to 3).foreach { _ =>
        val next = Scoped.materializeRound(
          cur.select(col("k"), (col("v") + col("k")).as("v")))
        next.count()
        Scoped.releaseRound(cur)
        cur = next
      }
      println(s"ROWS=$regime,loop,${digest(cur.groupBy("k").agg(sum("v")))}")
      Scoped.releaseRound(cur)
    }
    def leakedRdds = (sc.getPersistentRDDs.keySet -- rdds0).size
    def leakedEntries = graft.CacheProbe.entries(spark) - entries0
    val deadline = System.currentTimeMillis() + 30000
    while ((leakedRdds > 0 || leakedEntries > 0) &&
        System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(250)
    }
    println(s"REGIME=$regime LEAKED_RDDS=$leakedRdds LEAKED_ENTRIES=$leakedEntries")
  }
}
