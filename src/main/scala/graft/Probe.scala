package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.{JobRec, JobRecorder}

/** The one probe main: four modes over one set-up, the session and
  * warm-up of [[Bench]] (`Sessions.local()`, then [[Bench.warmUp]]) on
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). Dev tool; not part of the
  * driver contract.
  *
  *   sbt "runMain graft.Probe jobs q1 [q2 ...]"
  *   sbt "runMain graft.Probe plan q1 [q2 ...]"
  *   sbt "runMain graft.Probe bands [moduli-csv] [rows:bands]"
  *   sbt "runMain graft.Probe density"
  *
  *  - `jobs`: per query (after one unrecorded warm run), every Spark
  *    job's wall, stages, tasks, task time and shuffle bytes, and the
  *    query's wall split into "in jobs" (the union of the job
  *    intervals) and "driver gaps" (planning, collects, checkpoint
  *    bookkeeping, scheduling latency between jobs): the number that
  *    tells a loop-shaped query whether to attack its plans or its
  *    round-trip count. A streaming query adds its batch trail
  *    (`Streaming.progressTrail`): per micro-batch, the input rows and
  *    the addBatch, queryPlanning, commitOffsets and walCommit ms.
  *  - `plan`: per query, the formatted final adaptive plan after a
  *    collect, with its initial plan, under `Scoped.planOnly`, so the
  *    real operator tree shows instead of a checkpoint scan.
  *  - `bands`: the banded hyperplane LSH's candidate-pair growth (see
  *    [[bands]]); one JSON line per subset.
  *  - `density`: the density objects behind the text/dedup scale
  *    adjudication (see [[density]]); one JSON line per query shape.
  */
object Probe {
  private val Usage =
    "usage: Probe jobs|plan <query> [query ...] | bands [moduli-csv] [rows:bands] | density"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, Usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local()
    try {
      Bench.warmUp(spark, sfDir)
      args.head match {
        case "jobs" => args.tail.foreach(q => jobs(spark, sfDir, q).lines.foreach(println))
        case "plan" => args.tail.foreach { q =>
          println(s"\n===== $q =====")
          try println(plan(spark, sfDir, q))
          catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
        }
        case "bands" =>
          val moduli = args.lift(1).getOrElse("64,16,4,2,1")
            .split(",").map(_.trim.toLong).filter(_ >= 1).toSeq
          val forced = args.lift(2).map { rb =>
            val Array(r, b) = rb.split(":").map(_.trim.toInt)
            queries.Similarity.BandedParams(r, b)
          }
          bands(spark, sfDir, moduli, forced)
        case "density" => density(spark, sfDir)
        case m => throw new IllegalArgumentException(s"unknown mode '$m'; $Usage")
      }
    } finally spark.stop()
  }

  /** One recorded run of a query: its wall (driver clock, the jobs'
    * clock), its jobs, its batch trail if it streams, and its error if
    * it failed. */
  final case class JobsReport(name: String, wallMs: Long, jobs: Seq[JobRec],
      trail: Seq[StreamingQueryProgress], error: Option[String]) {
    def inJobsMs: Long = JobRecorder.busyMs(jobs)

    def lines: Seq[String] = {
      val head = f"\n===== $name: wall ${wallMs / 1000.0}%.2fs, ${jobs.size} jobs, " +
        f"in-jobs ${inJobsMs / 1000.0}%.2fs, driver-gaps ${(wallMs - inJobsMs) / 1000.0}%.2fs ====="
      val jobLines = jobs.map { r =>
        val d = r.desc.replace('\n', ' ') match {
          case long if long.length > 60 => long.take(57) + "..."
          case short => short
        }
        f"  job ${r.id}%4d ${r.wallMs}%6dms tasks=${r.tasks}%4d " +
          f"taskMs=${r.taskMs}%7d stages=${r.stages} " +
          f"shufR=${r.shufR / 1024}%8dK shufW=${r.shufW / 1024}%8dK  $d"
      }
      val batchLines = trail.map { p =>
        val ms = (k: String) => Option(p.durationMs.get(k)).map(_.toString).getOrElse("-")
        s"  batch ${p.batchId} rows=${p.numInputRows} " +
          s"total=${ms("triggerExecution")}ms addBatch=${ms("addBatch")}ms " +
          s"queryPlanning=${ms("queryPlanning")}ms " +
          s"commitOffsets=${ms("commitOffsets")}ms walCommit=${ms("walCommit")}ms"
      }
      error.map(e => s"[probe] $name failed: $e").toSeq ++ (head +: jobLines) ++ batchLines
    }
  }

  /** Runs `name` once unrecorded (warm), then once under a
    * [[JobRecorder]]. */
  def jobs(spark: SparkSession, sfDir: String, name: String): JobsReport = {
    val fn = SparkEntry.queries(name)
    try fn(spark, sfDir).count() catch { case _: Throwable => () }
    queries.Streaming.progressTrail.remove(name)
    val t0 = System.currentTimeMillis()
    val (error, recs) = JobRecorder.during(spark.sparkContext) {
      try { fn(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    }
    val wallMs = System.currentTimeMillis() - t0
    val trail = Option(queries.Streaming.progressTrail.get(name)).toSeq.flatten
    JobsReport(name, wallMs, recs, trail, error)
  }

  /** The formatted final adaptive plan (and initial plan) of `name`,
    * built under `Scoped.planOnly` and collected. A collect, not a
    * count: count() builds its own QueryExecution, whose plan is not
    * the query's. */
  def plan(spark: SparkSession, sfDir: String, name: String): String = {
    val df = queries.Scoped.planOnly(SparkEntry.queries(name)(spark, sfDir))
    df.collect()
    df.queryExecution.explainString(FormattedMode)
  }

  /** Candidate-count-vs-n sweep of the banded hyperplane LSH on the
    * fixture's embeddings: how the banded candidate-pair bound grows as
    * the corpus doubles, across the old BAND_ROWS_MAX=16 cliff at
    * n = 2^21, where a frozen 2^16 band alphabet made candidates
    * quadratic again.
    *
    * For each modulus the sweep takes the deterministic subset
    * vec_id % m == 0, derives (rows, bands) as the queries do
    * ([[graft.queries.Similarity.bandedParams]]) unless `forced` (e.g.
    * `16:8`, the frozen-clamp counterfactual), computes the banded
    * signatures and sums Σ c·(c−1)/2 over (band_id, bv): the exact
    * number of candidate pairs the band equi-join generates before the
    * cross-band DISTINCT. No join materializes. One JSON line per
    * subset (n, rows, bands, planes, candidate pairs, pairs per vector,
    * signature+agg seconds); the log-log slope between successive
    * points is the growth exponent (design target: sub-quadratic; see
    * SCALE.md). */
  def bands(spark: SparkSession, sfDir: String, moduli: Seq[Long],
      forced: Option[queries.Similarity.BandedParams]): Unit = {
    val emb = Tables.embeddings(spark, sfDir)
    moduli.sorted.reverse.foreach { m =>
      val sub = emb.where(col("vec_id") % m === 0)
      val n = sub.count()
      val bp = forced.getOrElse(queries.Similarity.bandedParams(n))
      val t0 = System.nanoTime()
      val pairs = sub
        .select(explode(queries.Similarity.bandVals(col("embedding"), bp)).as("bs"))
        .groupBy(col("bs.band_id"), col("bs.bv"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0)).cast("long"))
        .head().getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"n":$n,"mod":$m,"rows":${bp.rows},"bands":${bp.bands},""" +
        f""""planes":${bp.rows * bp.bands},"cand_pairs":$pairs,""" +
        f""""pairs_per_vec":${pairs.toDouble / math.max(n, 1)}%.2f,"sec":$sec%.2f}""")
    }
  }

  /** The density objects the text/dedup scale adjudication rests on
    * (a row-multiplied fixture densifies or it does not):
    *  - multilen: |occ| (exploded (doc, len, gram) rows), dup keys
    *    (gram keys with df >= 2), dup occurrences (the verification
    *    volume, which would compound quadratically if buckets
    *    densified);
    *  - itemsets: |items|, max item support, |F1| (the broadcast
    *    model), pair groups (the quadratic object under the density
    *    theory).
    * If these grow ~4× per 4× data step the fixture is not densifying
    * (ScaleUp's per-copy token suffixes keep copy vocabularies
    * disjoint), and a superlinear runtime is an execution-resource
    * effect. The two queries' own times, with a job breakdown, come
    * from `Probe jobs q_dedup_multilen q_text_itemsets`. */
  def density(spark: SparkSession, sfDir: String): Unit = {
    import graft.functions.GraftFunctions.{shingles, tokens}
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val occ = Seq(8, 16, 32, 64).map { n =>
      docs.select(col("doc_id"), lit(n.toLong).as("gl"),
        explode(shingles(col("w"), n)).as("sp"))
    }.reduce(_ unionAll _)
    val agg = occ.groupBy("gl", "sp").agg(count(lit(1)).as("ndocs")).agg(
      sum("ndocs").as("occ"),
      sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("dupkeys"),
      sum(when(col("ndocs") >= 2, col("ndocs")).otherwise(0L)).as("dupocc"))
      .head()
    println(s"""{"probe":"multilen_counts","sf":"$sfDir","occ":${agg.getLong(0)},""" +
      s""""dup_keys":${agg.getLong(1)},"dup_occ":${agg.getLong(2)}}""")

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
    println(s"""{"probe":"itemsets_counts","sf":"$sfDir","items":$nItems,"max_supp":$mx,""" +
      s""""f1":$nF1,"pair_groups":$nPairs}""")
  }
}
