package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** The custom top-k operator must be plan-visible and return each
  * group's first rows in window order, across filter shapes and edge
  * cases. The expected rows are computed without Spark. */
class TopKPerKeySpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  // 7 groups × 40 rows with a total (value desc, id asc) ordering,
  // plus one tiny group with fewer than k rows
  private val input: Seq[(Int, Int, Int)] =
    (0 until 280).map(i => (i % 7, (i * 131) % 97, i)) ++
      Seq((99, 5, 1000), (99, 5, 1001))

  private def topk(pred: Column => Column): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy("grp").orderBy(col("value").desc, col("id").asc)
    input.toDF("grp", "value", "id")
      .withColumn("rn", row_number().over(w))
      .where(pred(col("rn")))
      .orderBy("grp", "rn")
  }

  /** Plain-Scala answer: (grp, value, id, rn) with rn numbering each
    * group's rows in (value desc, id asc) order, kept where `keep(rn)`,
    * sorted by (grp, rn). The ordering is total, so it is unique. */
  private def expected(keep: Int => Boolean): Seq[(Int, Int, Int, Int)] =
    input.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy { case (_, v, id) => (-v, id) }.zipWithIndex.collect {
        case ((g, v, id), i) if keep(i + 1) => (g, v, id, i + 1)
      }
    }

  private def rowsOf(q: DataFrame): Seq[(Int, Int, Int, Int)] =
    q.collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))

  private def heapPlanned(q: DataFrame): Boolean =
    q.queryExecution.executedPlan.toString.contains("TopKPerKey")

  test("rn <= k plans TopKPerKey and returns each group's first k rows") {
    val q = topk(_ <= 3)
    assert(heapPlanned(q), "the strategy should have planned the heap")
    assert(rowsOf(q) == expected(_ <= 3))
  }

  test("rn === 1 (argmax per key) and rn < k shapes also rewrite") {
    for ((pred, keep, label) <- Seq[(Column => Column, Int => Boolean, String)](
        (_ === 1, _ == 1, "eq1"),
        (_ < 4, _ < 4, "lt4"))) {
      val q = topk(pred)
      assert(heapPlanned(q), label)
      assert(rowsOf(q) == expected(keep), label)
    }
  }

  test("groups smaller than k emit all their rows (tiny-group edge)") {
    val rows = topk(_ <= 3).where(col("grp") === 99).collect()
    assert(rows.map(r => (r.getInt(2), r.getInt(3))).toSeq == Seq((1000, 1), (1001, 2)))
  }

  test("global windows and non-row_number windows are left untouched") {
    import spark.implicits._
    val df = input.toDF("grp", "value", "id")
    val g = df.withColumn("rn", row_number().over(
        Window.orderBy(col("value").desc, col("id").asc)))
      .where(col("rn") <= 3)
    assert(!heapPlanned(g))
    val r = df.withColumn("rk", rank().over(
        Window.partitionBy("grp").orderBy(col("value").desc)))
      .where(col("rk") <= 3)
    assert(!heapPlanned(r))
  }

  test("rn >= k bounds no heap: left to Spark, same rows") {
    val q = topk(_ >= 38)
    assert(!heapPlanned(q))
    assert(rowsOf(q) == expected(_ >= 38))
  }
}
