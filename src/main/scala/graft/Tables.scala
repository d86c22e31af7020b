package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). One parquet file per table under
  * `sfDir`. All reads are plain `spark.read.parquet` so Catalyst
  * pushdown / column pruning apply end-to-end.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** The driver has written events.ts two ways across fixture
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read nanos as long under the legacy conf and
    * rebuild µs-precision timestamps; integer `div` keeps ns→µs exact
    * where a double division would lose bits above 2^53) and plain
    * timestamp[us] (surfaced as TIMESTAMP_NTZ). Branch on the schema
    * actually read so a regenerated dataset never needs a code change;
    * sessions run with spark.sql.session.timeZone=UTC, so the NTZ→TZ
    * cast preserves the stored wall-clock reading as the UTC instant —
    * identical epoch values on both paths.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(s.read.parquet(s"$d/events.parquet"))
  }
  /** Scan-parallelism floor (optimization round 16, guide §2.2/§6):
    * the fixture parquet files are written as a SINGLE row group, and
    * row groups are the atomic unit of a parquet split — so every scan
    * of them is one task no matter how many cores the session has.
    * When the scan cannot feed the session's cores, one tiny hash
    * repartition on the table key spreads it; when the input already
    * has ≥ defaultParallelism splits (any real-scale dataset), this is
    * a structural no-op — the gate reads the ACTUAL scan partitioning,
    * so the behavior is scale-adaptive rather than tuned to either
    * local mode or a cluster. Hash (not round-robin) keying keeps the
    * placement deterministic under task retries, and Catalyst still
    * pushes filters and column pruning through a
    * RepartitionByExpression, so scans keep their
    * PushedFilters/ReadSchema.
    *
    * Deliberately NOT applied inside the table loaders: a same-window
    * 22-query A/B (bench_r16opt A/B, calib 0.411 both legs) measured a
    * blanket documents+embeddings spread at 32.7 → 40.5 s — most
    * inventory queries at bench SF are latency-bound, and the extra
    * exchange plus 32-task stage scheduling costs more than the
    * parallelism wins; the iterative model fits (ANN family) regressed
    * up to 2.1× because every tiny Lloyd round re-paid the exchange.
    * Only call sites with a MEASURED win use this (q_text_itemsets,
    * q_sim_sparse: 0.71× / 0.59× in the same A/B — their one-partition
    * cached explode frames feed many CPU-heavy downstream stages). */
  private[graft] def spread(df: DataFrame, key: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p, org.apache.spark.sql.functions.col(key))
  }

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
