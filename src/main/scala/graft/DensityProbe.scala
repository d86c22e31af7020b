package graft

import org.apache.spark.sql.functions._

/** Round-13 scale adjudication probe (round-12 verdict item 5): the
  * sf4→sf16 panel measured q_dedup_multilen at 5.30× and
  * q_text_itemsets at 5.53× on 4× data, adjudicated as a
  * "row-multiplied fixture densifies" artifact — by argument, not
  * measurement. This main measures the DENSITY OBJECTS those
  * arguments are about, so the adjudication rests on counts:
  *
  *  - multilen: |occ| (exploded (doc, len, gram) rows), |dup| (gram
  *    keys with df >= 2), |dup ⋈ occ| (the verification volume — the
  *    thing that would compound quadratically if buckets densified).
  *  - itemsets: |items|, max item support, |F1| (the broadcast
  *    model), |pairs| (candidate pair-group rows — the quadratic
  *    object under the density theory).
  *
  * If these grow ~4× per 4× data step, the fixture is NOT densifying
  * (ScaleUp's per-copy token suffixing keeps copy vocabularies
  * disjoint by construction) and the runtime superlinearity must be
  * an execution-resource effect (fixed 8g heap serving 4× the cached
  * bytes — cache spill/evict thrash), which the paired heap run
  * settles: re-time the two queries at the same heap and at
  * heap×factor; constant data-per-memory ≈ the 1000-executor posture
  * where per-executor data share stays constant as the cluster grows
  * with the corpus.
  *
  * Usage: runMain graft.DensityProbe <sfDir> [counts|time|both]
  * Prints one JSON line per section.
  */
object DensityProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = if (args.length > 1) args(1) else "both"
    val spark = graft.core.Sessions.local()
    // match graft.Bench's session (the numbers this probe adjudicates
    // were measured there): same factory, codegen warmed
    spark.range(1000).selectExpr("sum(id)").collect()
    import graft.functions.GraftFunctions.{shingles, tokens}

    if (mode == "counts" || mode == "both") {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), tokens(col("text")).as("w"))
      val occ = Seq(8, 16, 32, 64).map { n =>
        docs.select(col("doc_id"), lit(n.toLong).as("gl"),
          explode(shingles(col("w"), n)).as("sp"))
      }.reduce(_ unionAll _)
      val grouped = occ.groupBy("gl", "sp").agg(count(lit(1)).as("ndocs"))
      val Array(nOcc, nDupKeys, nDupOcc) = {
        val agg = grouped.agg(
          sum("ndocs").as("occ"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("dupkeys"),
          sum(when(col("ndocs") >= 2, col("ndocs")).otherwise(0L)).as("dupocc"))
          .head()
        Array(agg.getLong(0), agg.getLong(1), agg.getLong(2))
      }
      println(s"""{"probe":"multilen_counts","sf":"$sfDir","occ":$nOcc,"dup_keys":$nDupKeys,"dup_occ":$nDupOcc}""")

      val items = Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(shingles(tokens(col("text")), 2)).as("item"))
      val supp = items.groupBy("item").agg(count(lit(1)).as("supp"))
      val mx = supp.agg(max("supp")).head().getLong(0)
      val f1 = supp.where(col("supp") * 10 >= lit(mx) * 6)
      val nItems = items.count()
      val nF1 = f1.count()
      val fdocs = items.join(broadcast(f1.select("item")), "item")
      val nPairs = fdocs
        .select(col("doc_id"), col("item").as("i1"))
        .join(fdocs.select(col("doc_id"), col("item").as("i2")), "doc_id")
        .where(col("i1") < col("i2"))
        .groupBy("i1", "i2").agg(count(lit(1)))
        .count()
      println(s"""{"probe":"itemsets_counts","sf":"$sfDir","items":$nItems,"max_supp":$mx,"f1":$nF1,"pair_groups":$nPairs}""")
    }

    if (mode == "time" || mode == "both") {
      Seq("q_dedup_multilen", "q_text_itemsets").foreach { q =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, sfDir).collect().length
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"probe":"time","q":"$q","sf":"$sfDir","rows":$n,"sec":$sec%.3f}""")
      }
    }
    spark.stop()
  }
}
