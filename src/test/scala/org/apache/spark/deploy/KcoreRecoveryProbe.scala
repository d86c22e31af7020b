package org.apache.spark.deploy

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}

/** Subprocess main for WorkerKillRecoverySpec: runs the iterative
  * q_graph_kcore on a standalone two-worker mini-cluster with a
  * RELIABLE checkpoint dir set, and kills one executor the moment the
  * first round checkpoint lands on disk — mid-loop, with cached input
  * blocks and possibly running tasks on the victim. The spec asserts
  * the query still completes with the oracle-matched result: this is
  * the recovery property `Scoped.materializeRound`'s reliable branch
  * exists for (a direct `localCheckpoint` would tie round state to the
  * killed executor and abort the loop with truncated lineage).
  *
  * Lives in `org.apache.spark.deploy` for the `private[spark]`
  * executor-kill client (`getExecutorIds`/`killAndReplaceExecutor`) —
  * the same cluster-manager path dynamic allocation and preemption
  * take in a real deployment.
  */
object KcoreRecoveryProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, ckptDir) = args
    val (masterUrl, clusterEnvs) =
      MiniClusterProbe.start(new SparkConf(false), 2, 1024)
    val spark = MiniClusterProbe.session(masterUrl, 8,
      "spark.locality.wait" -> "0ms")
    val sc = spark.sparkContext
    sc.setCheckpointDir(ckptDir)
    val removed = new java.util.concurrent.atomic.AtomicInteger(0)
    sc.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        removed.incrementAndGet(); ()
      }
    })
    @volatile var queryDone = false
    @volatile var killRequestedMidQuery = false
    @volatile var killAtRound = -1L
    // Deterministic trigger (round-12 verdict item 1): kill once the
    // loop's FIRST round is fully materialized — observed via
    // Scoped.roundsMaterialized (kcore materializes the surviving-edge
    // table once per round since round 16, so counter >= 1 == round 1
    // on reliable storage, rounds 2..KC_ROUNDS still to run). The old
    // file-appearance poll shifted
    // under host load (Files.walk latency + fixed sleep) and could
    // race query completion; the counter cannot — it advances only
    // with the loop itself. The kill retries while the query is
    // provably mid-loop in case a victim id goes stale.
    val killer = new Thread(() => {
      val rounds = graft.queries.Scoped.roundsMaterialized
      val base = rounds.get()
      while (!queryDone && rounds.get() - base < 1) Thread.sleep(5)
      // capture the trigger round AT WAIT-LOOP EXIT: a slow
      // getExecutorIds after a fast loop could otherwise legitimately
      // read a counter past the loop's last materialization and fail
      // the mid-loop gate spuriously (the kill request follows within
      // the same scheduling quantum; MIDQUERY still separately proves
      // the request preceded query completion)
      killAtRound = rounds.get() - base
      var attempts = 0
      while (!queryDone && removed.get == 0 && attempts < 3) {
        val ids = sc.getExecutorIds()
        if (ids.nonEmpty) {
          // the FIRST request is the mid-query proof; later iterations
          // are retries for a stale victim id and the removal event can
          // trail the original kill by seconds, so don't overwrite
          if (!killRequestedMidQuery) killRequestedMidQuery = !queryDone
          sc.killAndReplaceExecutor(ids.head)
          attempts += 1
          // give the removal event a moment before concluding the
          // victim id was stale and re-killing
          val until = System.nanoTime() + 3000000000L
          while (!queryDone && removed.get == 0 && System.nanoTime() < until)
            Thread.sleep(20)
        } else Thread.sleep(10)
      }
    })
    killer.setDaemon(true)
    killer.start()
    val rows = graft.SparkEntry.queries("q_graph_kcore")(spark, sfDir).collect()
    queryDone = true
    killer.join(10000)
    // The OTHER reliable-branch loops (ADVICE round 13): run ktruss and
    // label propagation on the same cluster session — post-kill, with
    // the replaced executor, under the same reliable checkpoint dir —
    // so their materializeRound/releaseRound paths (including the
    // eager checkpoint-file deletion the local suite cannot exercise)
    // run on a real cluster too. Rows are echoed for the spec's
    // equality check against the local oracle-gated runs.
    val ktRows = graft.SparkEntry.queries("q_graph_ktruss")(spark, sfDir).collect()
    val lpRows = graft.SparkEntry.queries("q_graph_labelprop")(spark, sfDir).collect()
    // the removal event can trail the collect — wait for it briefly
    val deadline = System.nanoTime() + 30000000000L
    while (removed.get == 0 && System.nanoTime() < deadline) Thread.sleep(50)
    rows.foreach(r => println(s"ROW=${r.get(0)},${r.get(1)},${r.get(2)}"))
    ktRows.foreach(r => println(s"KTROW=${r.toSeq.mkString(",")}"))
    lpRows.foreach(r => println(s"LPROW=${r.toSeq.mkString(",")}"))
    println(s"REMOVED=${removed.get}")
    println(s"MIDQUERY=$killRequestedMidQuery")
    println(s"KILL_AT_ROUND=$killAtRound")
    // upper bound for "mid-loop" derived from the query's own loop
    // shape, not hardcoded in the spec
    println(s"KILL_ROUND_BOUND=${graft.queries.Graph.kcoreMaterializations}")
    // released rounds must not leave reliable checkpoint files behind
    // (Scoped.releaseRound deletes them eagerly; the ContextCleaner
    // would only do so under cleanCheckpoints=true). Only each query's
    // final Scoped.share result checkpoint may remain — one for kcore,
    // ktruss, and labelprop apiece.
    val ckpt = Paths.get(ckptDir)
    val leftover = { // layout: ckptDir/<session-uuid>/rdd-<id>/part-*
      val s = Files.walk(ckpt)
      try s.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-")).count()
      finally s.close()
    }
    println(s"CKPT_DIRS_LEFT=$leftover")
    spark.stop()
    MiniClusterProbe.stop(clusterEnvs)
    sys.exit(0) // non-daemon cluster threads otherwise keep the JVM up
  }
}
