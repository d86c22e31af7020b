package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator top-k per key (SURVEY.md §4 "custom pieces"): the
  * ubiquitous
  *
  *   .withColumn("rn", row_number().over(Window.partitionBy(K).orderBy(O)))
  *   .where($"rn" <= k)
  *
  * plan shape executes as a WindowExec that numbers each key's sorted
  * rows only for the Filter to throw away all but k of them.
  * `TopKPerKeyExec` keeps a bounded k-element heap per key instead:
  * same shuffle (clustered by K), at most k·|keys| rows buffered,
  * identical results for a total ordering.
  *
  * In the shipped plans it sits ABOVE Spark's own group limit: Spark's
  * `InferWindowGroupLimit` puts a `WindowGroupLimit` under the Window,
  * planned as partial limit → shuffle → sort → final limit, and the
  * heap replaces the WindowExec on top of that sorted, already-limited
  * stream. Measured (BASELINE.md round 12, `WindowExec` vs the heap on
  * synthetic top-5): 1.10–1.11× faster at every measured rows/key.
  *
  * The pieces:
  *  - [[TopKStrategy]]   — planner strategy matching Filter(rn ≤ k, Window(row_number))
  *  - [[TopKPerKeyExec]] — heap-based physical operator
  *
  * Every session gets the strategy from [[graft.functions.GraftExtensions]].
  * It is a strategy and not an optimizer rule because a strategy sees
  * the fully optimized plan: a rule injected into the optimizer runs
  * before `InferWindowGroupLimit` and so loses the group limit before
  * the shuffle.
  *
  * The original Filter is kept on top of the operator, so any
  * predicate shape (rn <= k, rn < k, rn === k, conjunctions) keeps its
  * exact semantics; the match only needs an upper bound for the heap.
  */
object TopKStrategy extends SparkStrategy with PredicateHelper {

  /** Upper bound on rn implied by one conjunct, if any. */
  private def bound(c: Expression, rn: Attribute): Option[Int] = c match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rn) => Some(v - 1)
    case EqualTo(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rn) => Some(v)
    case GreaterThanOrEqual(Literal(v: Int, _), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case _ => None
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
          keys, order, child, _))
        if keys.nonEmpty && order.nonEmpty =>
      val rn = alias.toAttribute
      val ks = splitConjunctivePredicates(cond).flatMap(bound(_, rn))
      if (ks.isEmpty || ks.min <= 0) Nil
      else FilterExec(cond, TopKPerKeyExec(keys, order, ks.min, rn, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    rnAttr: Attribute, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  // no required child ordering: the heap needs none, though in the
  // shipped plans its child is Spark's sorted final WindowGroupLimit

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      val ord = GenerateOrdering.generate(sortOrder, childOutput)
      // PriorityQueue surfaces the max = LAST row in sort order = the
      // current worst; a row sorting strictly before it evicts it.
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      it.foreach { row =>
        // probe with the projection's reused buffer; copy the key ONLY
        // on first sight — the per-row copy was an allocation per input
        // row, and was the measured overhead in the rows/key ≈ k regime
        val probe = keyProj(row)
        var h = heaps.getOrElse(probe, null)
        if (h == null) {
          h = mutable.PriorityQueue.empty[UnsafeRow](ord.asInstanceOf[Ordering[UnsafeRow]])
          heaps.put(probe.copy(), h)
        }
        if (h.size < limit) h.enqueue(rowProj(row).copy())
        else if (ord.compare(row, h.head) < 0) {
          h.dequeue(); h.enqueue(rowProj(row).copy())
        }
      }
      val outProj = UnsafeProjection.create(output, output)
      val joined = new JoinedRow
      val rnRow = new SpecificInternalRow(Seq(org.apache.spark.sql.types.IntegerType))
      heaps.iterator.flatMap { case (_, h) =>
        val best: Seq[UnsafeRow] = h.dequeueAll.reverse
        best.iterator.zipWithIndex.map { case (row, i) =>
          rnRow.setInt(0, i + 1)
          outProj(joined(row, rnRow))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyPlans {
  /** No-op: every session already plans [[TopKStrategy]]. Kept only
    * because the benchmark harness (`perfbench/scala/Main.scala`)
    * still calls it. */
  def install(spark: SparkSession): Unit = ()
}
