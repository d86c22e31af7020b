package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Executor-loss recovery for the iterative loops (round-12 verdict
  * item 1): q_graph_kcore runs on a standalone two-worker mini-cluster
  * with a RELIABLE checkpoint dir — the deployment posture
  * `Scoped.materializeRound` selects off-local — and one executor is
  * killed the moment the first round checkpoint hits disk (cached
  * input blocks lost, in-flight tasks failed, mid-loop). The query
  * must still complete with exactly the rows the local oracle-gated
  * run produces: reliable-checkpoint recovery proven, not asserted.
  */
class WorkerKillRecoverySpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("kcore survives an executor kill mid-loop under a reliable checkpoint dir") {
    assume(Files.isDirectory(java.nio.file.Paths.get(sfDir)), s"$sfDir missing")
    // expected rows: the same query on the in-process local session
    // (the configuration CORRECTNESS gates against the DuckDB oracle)
    val spark = SparkSessionTestWrapper.spark
    val expected = SparkEntry.queries("q_graph_kcore")(spark, sfDir)
      .collect()
      .map(r => s"${r.get(0)},${r.get(1)},${r.get(2)}")
      .toSeq
    assert(expected.nonEmpty)

    val ckpt = Files.createTempDirectory("graft-kcore-ckpt")
    val (code, text) = org.apache.spark.deploy.MiniClusterProbe.runProbe(
      "org.apache.spark.deploy.KcoreRecoveryProbe", "2g", sfDir, ckpt.toString)
    assert(code == 0, s"probe failed:\n${text.takeRight(4000)}")
    val rows = "(?m)^ROW=([^\\s]+)".r.findAllMatchIn(text).map(_.group(1)).toSeq
    assert(rows == expected,
      s"post-kill result diverged: got $rows expected $expected")
    val removed = "REMOVED=(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
    assert(removed.exists(_ > 0),
      s"no executor removal observed — the run proves nothing\n${text.takeRight(2000)}")
    assert(text.contains("MIDQUERY=true"),
      "executor kill was requested only after the query finished; tighten timing")
    // deterministic trigger: the kill trigger fired after round 1
    // materialized (counter >= 1, captured at the probe's wait-loop
    // exit) and before the loop's last materialization (< bound, the
    // probe-reported KC_ROUNDS edge materializations derived from the
    // query's own loop shape) — provably mid-loop, not merely mid-query
    val killAt = "KILL_AT_ROUND=(-?\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
    val bound = "KILL_ROUND_BOUND=(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
    assert(bound.exists(_ >= 2), s"probe did not report a loop bound: $bound")
    assert(killAt.exists(r => r >= 1 && r < bound.get),
      s"kill was not provably mid-loop: KILL_AT_ROUND=$killAt bound=$bound")
    // the OTHER reliable-branch loops (ADVICE round 13): ktruss and
    // label propagation ran on the same post-kill cluster session;
    // their rows must equal the local oracle-gated runs
    val ktExpected = SparkEntry.queries("q_graph_ktruss")(spark, sfDir)
      .collect().map(_.toSeq.mkString(",")).toSeq
    val lpExpected = SparkEntry.queries("q_graph_labelprop")(spark, sfDir)
      .collect().map(_.toSeq.mkString(",")).toSeq
    val ktRows = "(?m)^KTROW=([^\\s]+)".r.findAllMatchIn(text).map(_.group(1)).toSeq
    val lpRows = "(?m)^LPROW=([^\\s]+)".r.findAllMatchIn(text).map(_.group(1)).toSeq
    assert(ktRows == ktExpected,
      s"ktruss on the post-kill cluster diverged: got ${ktRows.size} rows, expected ${ktExpected.size}")
    assert(lpRows == lpExpected,
      s"labelprop on the post-kill cluster diverged: got ${lpRows.size} rows, expected ${lpExpected.size}")
    // Scoped.releaseRound must delete released rounds' reliable
    // checkpoint files eagerly (the ContextCleaner only would under
    // cleanCheckpoints=true); only each query's final Scoped.share
    // result checkpoint may remain (kcore + ktruss + labelprop = 3)
    val ckptLeft = "CKPT_DIRS_LEFT=(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
    assert(ckptLeft.exists(_ <= 3),
      s"released rounds left reliable checkpoint files behind: CKPT_DIRS_LEFT=$ckptLeft")
  }
}
