package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSessionTestWrapper

class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("dot and cosine match the interpreted higher-order form exactly") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, -5.0f, 6.0f)),
      (Array(0.5f, 0.0f, -1.5f), Array(1.0f, 1.0f, 1.0f))).toDF("a", "b")
    def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val rows = df.select(
      VectorExpressions.dot(col("a"), col("b")).as("fast_dot"),
      hofDot(col("a"), col("b")).as("hof_dot"),
      VectorExpressions.cosineFast(col("a"), col("b")).as("fast_cos"),
      (hofDot(col("a"), col("b")) /
        (sqrt(hofDot(col("a"), col("a"))) * sqrt(hofDot(col("b"), col("b"))))).as("hof_cos"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "dot mismatch vs higher-order form")
      assert(r.getDouble(2) == r.getDouble(3), "cosine mismatch vs higher-order form")
    }
  }

  test("null inputs propagate null") {
    import spark.implicits._
    val df = Seq((Option(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    val r = df.select(VectorExpressions.cosineFast(col("a"), col("b"))).collect().head
    assert(r.isNullAt(0))
  }

  test("SQL registration works (cosine_sim / dot_product)") {
    import spark.implicits._
    // the service-loaded GraftExtensions registers both on every session
    Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .createOrReplaceTempView("vec_v")
    val r = spark.sql("SELECT cosine_sim(a, b) c, dot_product(a, b) d FROM vec_v")
      .collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0)
  }

  test("interpreted eval path (no codegen) agrees with codegen path") {
    import spark.implicits._
    val df = Seq((Array(1.5f, -2.5f), Array(3.0f, 4.0f))).toDF("a", "b")
    val fast = df.select(VectorExpressions.dot(col("a"), col("b"))).collect().head.getDouble(0)
    // force interpreted evaluation
    val expr = DotProduct(
      org.apache.spark.sql.GraftSqlBridge.expression(col("a")),
      org.apache.spark.sql.GraftSqlBridge.expression(col("b")))
    assert(fast == 1.5 * 3.0 + -2.5 * 4.0)
    assert(expr.dataType == org.apache.spark.sql.types.DoubleType)
  }
}
