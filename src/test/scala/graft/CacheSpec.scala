package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Cache-hygiene guard for the three deployment regimes of
  * `graft.queries.Scoped`: every scope must release what it kept when
  * its result is materialized, so a long-lived session serving the
  * inventory repeatedly cannot accumulate block-manager or
  * CacheManager entries. Checkpointed result RDDs are reference-tracked
  * by Spark's ContextCleaner — after dropping the DataFrames and
  * forcing GC, the persistent-RDD set and the CacheManager entry count
  * must return to their pre-query baseline.
  */
class CacheSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark
  private val SF = "/root/testdata/sf0.001"

  test("scoped caches do not outlive their query invocation") {
    val cachedQueries = Seq("q_dedup_ngram_jaccard", "q_dedup_minhash",
      "q_dedup_simhash", "q_dedup_embcos", "q_dedup_cluster",
      "q_dedup_apply", "q_ann_quantized", "q_ann_ivf_kmeans",
      "q_text_heavyhitters", "q_decontaminate",
      // the eager-scope users
      "q_agg_kmv", "q_dedup_prefixjoin")
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val entries0 = CacheProbe.entries(spark)
    cachedQueries.foreach { name =>
      SparkEntry.queries(name)(spark, SF).count()
    }
    // Explicitly-cached intermediates are unpersisted by the queries
    // themselves; the only entries allowed to linger are checkpointed
    // result RDDs, released by the async ContextCleaner once their
    // DataFrames are unreachable — force that path and wait.
    def leaked() = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    def leakedEntries() = CacheProbe.entries(spark) - entries0
    val deadline = System.currentTimeMillis() + 30000
    while ((leaked().nonEmpty || leakedEntries() > 0) &&
        System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(250)
    }
    assert(leaked().isEmpty, s"persistent RDDs leaked past query end: ${leaked()}")
    assert(leakedEntries() <= 0,
      s"CacheManager entries leaked past query end: ${leakedEntries()}")
  }

  test("cluster regimes, with and without a checkpoint dir, return to baseline") {
    val (code, text) = org.apache.spark.deploy.MiniClusterProbe.runProbe(
      "org.apache.spark.deploy.ScopeRegimeProbe", "1g")
    assert(code == 0, s"probe failed:\n${text.takeRight(4000)}")
    for (regime <- Seq("lineage", "reliable")) {
      val m = s"REGIME=$regime LEAKED_RDDS=(-?\\d+) LEAKED_ENTRIES=(-?\\d+)".r
        .findFirstMatchIn(text)
      assert(m.nonEmpty, s"no $regime report:\n${text.takeRight(2000)}")
      assert(m.get.group(1).toInt <= 0,
        s"$regime regime leaked ${m.get.group(1)} persistent RDDs")
      assert(m.get.group(2).toInt <= 0,
        s"$regime regime leaked ${m.get.group(2)} CacheManager entries")
    }
    // both regimes compute the same rows for every scope kind
    val rows = "(?m)^ROWS=(\\w+),(\\w+),(.*)$".r.findAllMatchIn(text)
      .map(m => (m.group(1), m.group(2)) -> m.group(3)).toMap
    for (kind <- Seq("share", "shareEager", "loop")) {
      val l = rows.get(("lineage", kind))
      assert(l.exists(_.nonEmpty), s"no lineage rows for $kind")
      assert(l == rows.get(("reliable", kind)), s"$kind rows differ across regimes")
    }
  }
}

/** CacheManager entry count of a session's shared state (the entry
  * list is private to Spark, so it is read reflectively). */
object CacheProbe {
  def entries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[Seq[_]].size
  }
}
