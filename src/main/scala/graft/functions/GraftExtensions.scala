package graft.functions

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's session extension, applied to every session Spark
  * builds: it is listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * which `SparkSession.builder().getOrCreate()` service-loads with no
  * `spark.sql.extensions` setting, and `newSession()` children share
  * their parent's extensions. It registers the native codegen'd
  * expressions in the SQL function registry (so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works without the Scala
  * DSL) and the heap-based top-k planner strategy
  * ([[graft.plans.TopKStrategy]]).
  */
class GraftExtensions extends SparkSessionExtensionsProvider {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[DotProduct].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - float-vector dot product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - float-vector cosine similarity"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
