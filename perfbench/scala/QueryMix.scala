package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{queries => q}

/** The inventory side: a fixed subset of `graft.SparkEntry.queries`
  * covering all twelve `graft.queries` modules. */
object QueryMix {

  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> q.Relational.queries, "Dedup" -> q.Dedup.queries,
    "Similarity" -> q.Similarity.queries, "TextAnalysis" -> q.TextAnalysis.queries,
    "Pipeline" -> q.Pipeline.queries, "Curation" -> q.Curation.queries,
    "Graph" -> q.Graph.queries, "Multimodal" -> q.Multimodal.queries,
    "Streaming" -> q.Streaming.queries, "Imaging" -> q.Imaging.queries,
    "Events" -> q.Events.queries, "Sql" -> q.Sql.queries)

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Queries with a golden digest -> their measured seconds (`cost_s`). */
  def golden(path: Path): Map[String, Double] =
    JsonMethods.parse(java.nio.file.Files.readString(path)) match {
      case JObject(fs) => fs.map { case (n, v) =>
        n -> ((v \ "cost_s") match {
          case JDouble(d) => d; case JInt(i) => i.toDouble; case _ => 0.0 })
      }.toMap
      case _ => Map.empty
    }

  /** Light queries, one per module (two from Relational, the largest, so
    * the count is odd and p50 falls on one query's own samples rather
    * than between two queries): those whose cost is nearest the module's
    * 10th-percentile cost. The list is fixed, so every seed's pass does
    * the same work; the seed sets the order of each pass. */
  def select(golden: Map[String, Double]): Seq[String] =
    modules.flatMap { case (m, qs) =>
      val cands = qs.keys.toSeq.sorted.filter(golden.contains)
      if (cands.isEmpty) Nil
      else {
        val target = Stats.quantile(cands.map(golden), 0.1)
        cands.sortBy(n => math.abs(golden(n) - target)).take(if (m == "Relational") 2 else 1)
      }
    }

  /** Persistent RDDs plus CacheManager entries currently held. */
  def cachedEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val entries =
      try {
        val f = cm.getClass.getDeclaredFields
          .find(_.getName.endsWith("cachedData")).get
        f.setAccessible(true)
        f.get(cm).asInstanceOf[Seq[_]].size
      } catch { case _: Throwable => if (cm.isEmpty) 0 else 1 }
    spark.sparkContext.getPersistentRDDs.size + entries
  }
}
