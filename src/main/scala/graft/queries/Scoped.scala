package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.util.DynamicVariable

/** Query-scoped sharing and loop-round materialization.
  *
  * Spark's `CacheManager` keys cache entries by logical plan and holds
  * them for the life of the session: a query that calls `.cache()` and
  * never unpersists leaks one block-manager entry per invocation, so a
  * long-lived session serving the inventory repeatedly would accumulate
  * shingle/signature tables forever. So an intermediate read by
  * several subtrees of one query goes through [[share]] (or
  * [[shareEager]]), and the state of an iterative loop goes through
  * [[materializeRound]] and [[releaseRound]]. What they do depends
  * on the deployment regime, which ONE function decides
  * ([[regimeOf]]):
  *
  * {{{
  *            | Local             | Reliable           | Lineage
  *            | (local master)    | (cluster master,   | (cluster master,
  *            |                   |  checkpoint dir)   |  no checkpoint dir)
  * -----------+-------------------+--------------------+--------------------
  * share,     | inputs cached     | inputs cached      | body over the raw
  * shareEager | (shareEager: ma-  | (shareEager: ma-   | inputs; the lazy
  *            | terializeRound)   | terializeRound)    | plan is returned
  *            | before the body;  | before the body;   | and NOTHING is
  *            | result localChe-  | result checkpoint; | kept: shared
  *            | ckpoint; inputs   | inputs released in | intermediates
  *            | released in a     | a finally          | recompute from
  *            | finally           |                    | lineage
  * materialize| localCheckpoint   | checkpoint(eager)  | persist(MEMORY_
  *   Round    | (eager)           |                    | AND_DISK) + count
  * release    | unpersist (blocks | unpersist + delete | unpersist
  *   Round    | go with the       | the round's        |
  *            | reference)        | checkpoint files   |
  * }}}
  *
  * Local keeps blocks in the one JVM, where executor loss is process
  * death anyway. Reliable checkpoints because `localCheckpoint` would
  * tie state to executor liveness, which dynamic allocation and
  * preemption break (Spark warns against it there). Lineage keeps
  * nothing a scope could leak; its loops persist, which cannot
  * truncate the plan, so deployments should set a checkpoint dir
  * (SCALE.md). Checkpointed and localCheckpointed RDDs are released by
  * Spark's ContextCleaner once the caller drops the returned DataFrame;
  * CacheSpec pins that the persistent-RDD and CacheManager sets return
  * to baseline in all three regimes.
  */
object Scoped {
  /** Plan-inspection hook (PlanSpec): inside `planOnly { ... }`,
    * [[share]] returns the raw lazy plan — no cache, no checkpoint —
    * so plan guards assert on the exact tree that executes inside the
    * scope. Thread-local (`DynamicVariable`), so a PlanSpec explain
    * on one suite thread cannot flip behavior for queries running
    * concurrently on another. Never used outside tests and plan
    * printers. */
  private val planOnlyFlag = new DynamicVariable[Boolean](false)
  def planOnly[A](body: => A): A = planOnlyFlag.withValue(true)(body)
  private[queries] def isPlanOnly: Boolean = planOnlyFlag.value

  private sealed trait Regime
  private case object Local extends Regime
  private case object Reliable extends Regime
  private case object Lineage extends Regime

  /** The deployment-regime decision (table above). Every session of
    * one application shares its SparkContext, so child sessions decide
    * like their parent. */
  private def regimeOf(s: SparkSession): Regime = {
    val sc = s.sparkContext
    if (sc.isLocal) Local
    else if (sc.getCheckpointDir.nonEmpty) Reliable
    else Lineage
  }

  /** True when a [[share]] scope materializes its result: not under
    * [[planOnly]], and not in the Lineage regime, where scopes return
    * lazy plans that still read their sources. */
  private[queries] def materializes(s: SparkSession): Boolean =
    !planOnlyFlag.value && regimeOf(s) != Lineage

  /** Eager lineage truncation, the regime's way (table above). */
  private def truncate(df: DataFrame, regime: Regime): DataFrame = regime match {
    case Local => df.localCheckpoint(true)
    case Reliable => df.checkpoint(true)
    case Lineage =>
      df.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
  }

  /** Shares `inputs` across the subtrees of `body` for one query:
    * `share(a, b) { a.join(b, ...) }`.
    *
    *  1. Before `body` is built, the inputs are cached, so driver
    *     actions inside `body` and every subtree of its result read
    *     the scope.
    *  2. The result is materialized while the scope is alive, so the
    *     returned plan no longer references the inputs.
    *  3. The inputs are released in a `finally`.
    *  4. Under [[planOnly]] and in the Lineage regime, `body` runs over
    *     the raw inputs and its lazy plan is returned; nothing is kept.
    */
  def share(inputs: DataFrame*)(body: => DataFrame): DataFrame = {
    val s = inputs.head.sparkSession
    if (!materializes(s)) body
    else {
      inputs.foreach(_.cache())
      try truncate(body, regimeOf(s))
      finally inputs.foreach(_.unpersist(blocking = false))
    }
  }

  /** [[share]] whose input is materialized once through
    * [[materializeRound]] before `body` is built, instead of lazily
    * cached; `body` receives the materialized frame, which is released
    * through [[releaseRound]] in a `finally`. Same steps 2 and 4.
    *
    * Which form a query uses is a per-query measured choice, not a
    * user option. A lazy `.cache()` lets AQE's concurrent broadcast
    * builds each re-derive the input before the first writer populates
    * the cache (eager won for q_dedup_prefixjoin and q_agg_kmv); where
    * a single consumer reads the input, the eager write costs more
    * than it saves (it lost for q_dedup_minhash). */
  def shareEager(input: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val s = input.sparkSession
    if (!materializes(s)) body(input)
    else {
      val shared = materializeRound(input)
      try truncate(body(shared), regimeOf(s))
      finally releaseRound(shared)
    }
  }

  /** Deployment-aware loop-round materialization — the ONE primitive
    * every iterative dataflow (kcore/ktruss/BFS peel rounds, label
    * propagation) uses instead of calling `localCheckpoint` directly.
    * Each round's plan embeds the previous round's (often twice), so
    * without eager lineage truncation both the logical tree and
    * per-action analysis time grow exponentially in the round count.
    * The mechanism is the regime's (table above); in the Lineage
    * regime a lost block recomputes from source — slower, never
    * wrong — but the logical plan still grows with rounds. Loops call
    * [[releaseRound]] on a round's frames once the next round is
    * materialized and counted, so round state never outlives its use.
    *
    * Unlike [[share]], this is NOT disabled under [[planOnly]]: plan
    * guards on iterative queries assert on per-round trees whose
    * inputs are already materialized, and skipping truncation would
    * both change those trees and re-introduce the exponential analysis
    * blowup inside the guard itself.
    */
  def materializeRound(df: DataFrame): DataFrame = {
    val out = truncate(df, regimeOf(df.sparkSession))
    roundsMaterialized.incrementAndGet()
    out
  }

  /** Monotone count of completed [[materializeRound]] materializations
    * in this JVM. Lets a fault-injection harness trigger DETERMINISTIC
    * mid-loop events ("kill an executor once round 1 is on disk")
    * instead of polling the checkpoint dir — a file-appearance trigger
    * shifts under host load and made the recovery gate flaky. One
    * relaxed increment per loop round; zero cost on the query path. */
  val roundsMaterialized = new java.util.concurrent.atomic.AtomicLong(0)

  /** Drops a finished round's state. `unpersist` drops the Lineage
    * regime's CacheManager entry (a no-op for checkpointed frames,
    * whose blocks the ContextCleaner reference-tracks). In the Reliable
    * regime the ContextCleaner deletes checkpoint FILES only under
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false), so an hours-long loop would otherwise grow the checkpoint
    * dir linearly in rounds. The loop contract — release a round only
    * after the NEXT round is materialized, which truncates lineage —
    * guarantees no live plan references this round's files, so they
    * are deleted eagerly here. Deletion is root-matched: only frames
    * that ARE a [[materializeRound]] output (analyzed plan = the
    * checkpoint's LogicalRDD) qualify; a derived frame is never
    * stripped of a checkpoint it still reads. */
  def releaseRound(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      df.unpersist(blocking = false)
      if (regimeOf(df.sparkSession) == Reliable) df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.getCheckpointFile.foreach { p =>
            // best-effort: a failed delete degrades to the documented
            // cleanCheckpoints=true deployment posture, never to error.
            // NonFatal, not just IOException: Path construction /
            // getFileSystem / FS impls can throw non-IO exceptions
            // (e.g. IllegalArgumentException on unusual checkpoint
            // URIs), which must not abort an hours-long loop mid-round.
            try {
              val path = new org.apache.hadoop.fs.Path(p)
              val conf = df.sparkSession.sparkContext.hadoopConfiguration
              path.getFileSystem(conf).delete(path, true)
            } catch { case scala.util.control.NonFatal(_) => () }
          }
        case _ => ()
      }
    }

  /** AQE `minPartitionSize` of [[coalesceFloorSession]]. */
  private val FloorMinPartitionSize = "64k"

  /** Child session carrying a per-QUERY AQE partition-coalescing
    * floor. AQE's default 1 MB `minPartitionSize` coalesces any small
    * exchange to ONE partition — correct for the latency-bound
    * inventory tail (a GLOBAL 64k floor lost its 16-query A/B), but it
    * serializes the few queries whose small-byte exchanges carry heavy
    * per-row CPU (q_agg_kmv's digest passes: seconds of task time
    * squeezed into a handful of tasks). Spark reads SQLConf from the
    * DataFrame's OWN session at execution, so a child session scopes
    * the floor to exactly one query with zero effect on the rest of
    * the inventory — the same isolation pattern the streaming family
    * uses for its state-partition count. At real scale these
    * exchanges exceed the default floor and AQE keeps them parallel
    * anyway, so the floor is a per-row-cost correction, not a
    * local-mode tune.
    *
    * Memoized per parent: a FRESH child per invocation measured ~1.5 s
    * of repeated per-session warmup. The map has weak keys, and a
    * child from `newSession()` holds no reference to its parent, so a
    * dropped parent and its child are collectable. The child's SQLConf
    * starts from the SparkContext's conf: runtime `conf.set` calls on
    * the parent do not reach it. */
  private val floorSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  def coalesceFloorSession(parent: SparkSession): SparkSession =
    floorSessions.computeIfAbsent(parent, { p =>
      val s = p.newSession()
      s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        FloorMinPartitionSize)
      s
    })
}
