package graft

import org.apache.spark.sql.functions._

/** Candidate-count-vs-n probe for the banded hyperplane LSH
  * (round-15 verdict item 1/6): measures, on real fixture embeddings,
  * how the banded candidate-pair bound grows as the corpus doubles —
  * across the old BAND_ROWS_MAX=16 cliff at n = 2^21, where the
  * round-14 design's frozen 2^16 band alphabet made candidates
  * quadratic again.
  *
  * For each modulus in the sweep the probe takes the deterministic
  * subset vec_id % m == 0, derives (rows, bands) exactly as the
  * queries do ([[graft.queries.Similarity.bandedParams]]), computes
  * the banded signatures, and aggregates the per-bucket pair count
  * Σ c·(c−1)/2 over (band_id, bv) — the exact number of candidate
  * pairs the band equi-join generates BEFORE the cross-band DISTINCT
  * (so it upper-bounds the join's distinct output and measures the
  * shuffle/verify cost the design must bound). No join materializes:
  * one signature pass + one small aggregate per point.
  *
  * Output: one JSON line per subset with n, rows, bands, planes,
  * candidate pairs, pairs-per-vector, and the signature+agg seconds —
  * the log-log slope between successive points is the growth
  * exponent (design target: sub-quadratic, ~n^1.17 past the old
  * cliff; see the banded section of Similarity.scala and SCALE.md).
  *
  * Usage: runMain graft.BandProbe <fixtureDir> [moduli-csv] [rows:bands]
  * e.g.   runMain graft.BandProbe /tmp/sfvec 64,16,4,2,1
  *        runMain graft.BandProbe /tmp/sfvec 4,2,1 16:8   # frozen-clamp
  *        counterfactual: what the round-14 BAND_ROWS_MAX=16 design
  *        would generate at the same n
  */
object BandProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val moduli = (if (args.length > 1) args(1) else "64,16,4,2,1")
      .split(",").map(_.trim.toLong).filter(_ >= 1)
    val forced: Option[(Int, Int)] =
      if (args.length > 2) {
        val Array(r, b) = args(2).split(":").map(_.trim.toInt)
        Some((r, b))
      } else None
    val spark = graft.core.Sessions.local()

    val emb = Tables.embeddings(spark, dir)
    val out = moduli.sorted.reverse.map { m =>
      val sub = emb.where(col("vec_id") % m === 0)
      val n = sub.count()
      val bp = forced.map { case (r, b) => queries.Similarity.BandedParams(r, b) }
        .getOrElse(queries.Similarity.bandedParams(n))
      val t0 = System.nanoTime()
      // exact pre-distinct candidate pairs: per-(band, bucket) c·(c−1)/2
      val pairs = sub
        .select(explode(queries.Similarity.bandVals(col("embedding"), bp)).as("bs"))
        .groupBy(col("bs.band_id"), col("bs.bv"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0)).cast("long"))
        .head().getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val line = f"""{"n":$n,"mod":$m,"rows":${bp.rows},"bands":${bp.bands},""" +
        f""""planes":${bp.rows * bp.bands},"cand_pairs":$pairs,""" +
        f""""pairs_per_vec":${pairs.toDouble / math.max(n, 1)}%.2f,"sec":$sec%.2f}"""
      println(line)
      line
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "band_probe.json")
    val w = new java.io.PrintWriter(outPath)
    try w.println("[" + out.mkString(",\n") + "]") finally w.close()
    spark.stop()
  }
}
