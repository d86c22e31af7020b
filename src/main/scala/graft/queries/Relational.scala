package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions._

/** Relational operator inventory (SURVEY.md §2.3–§2.8 added categories).
  *
  * Conventions shared with the DuckDB oracle:
  *  - every aggregate / computed column is aliased identically on both
  *    sides (the driver hash-compares by column name);
  *  - every query ends in a total ORDER BY so row order is deterministic
  *    regardless of partitioning; oracle ORDER BY spells NULLS FIRST to
  *    match Spark's asc default;
  *  - floating-point aggregates are rounded (sums to 2 dp, ratios to
  *    6 dp) so summation-order ulp drift cannot flip the hash;
  *  - integer sums in the oracle are CAST(... AS BIGINT) (DuckDB widens
  *    to HUGEINT, Spark stays long).
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- scans

  /** TPC-H Q1-style hash aggregation with partial (map-side) combine. */
  val q1Agg: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        // price sums as exact integer cents / 10^-4 units: a double Σ
        // over tens of millions of rows per group is summation-order-
        // dependent in the 2nd decimal past sf4 (ulp ≈ 2e-3 at 1e13);
        // the long Σ is order-free and its final /100 is bit-identical
        // cross-engine (< 2^53)
        (sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")) / 100.0)
          .as("sum_base_price"),
        (sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"
          + " * CAST(round((1.0 - l_discount) * 100) AS BIGINT)"))
          / 10000.0).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Projection + predicate — both must reach the parquet scan
    * (PushedFilters / 3-column ReadSchema in .explain). */
  val qScanProject: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate", "l_discount")
      .where(col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
             col("l_discount") > lit(0.07))
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Compound predicates: IN, BETWEEN, LIKE. */
  val qFilterPred: Q = (s, d) => {
    Tables.part(s, d)
      .where(col("p_type").isin("ECONOMY", "SMALL") &&
             col("p_size").between(10, 30) &&
             col("p_name").like("%a%") &&
             col("p_retailprice") > 500.0)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(avg("p_retailprice"), 4).as("avg_price"))
      .orderBy("p_brand")
  }

  // ---------------------------------------------------------------- joins

  /** Two broadcast joins up a snowflake: customer ⋈ nation ⋈ region. */
  val qJoinBcast: Q = (s, d) => {
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_cust"), round(avg("c_acctbal"), 4).as("avg_bal"))
      .orderBy("r_name")
  }

  /** Large-large equi-join (sort-merge / shuffle-hash territory). */
  val qJoinShuffle: Q = (s, d) => {
    // revenue in exact integer 10^-4 units: at sf4+ the row count
    // pushes a double Σ price·(1−disc) into the magnitude where
    // summation ORDER moves the 2nd decimal (ulp ≈ 6e-5 at 3e11), and
    // Spark's partial-agg order differs from DuckDB's — a long Σ is
    // order-independent, and the final long→double /10000 conversion
    // is bit-identical in both engines (< 2^53)
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        (sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"
          + " * CAST(round((1.0 - l_discount) * 100) AS BIGINT)"))
          / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** Skew-salted shuffle join: the fact side's join key is collapsed to
    * 10 hot values (every key holds ~10% of the table — the classic
    * skew that stalls one reducer). The fact side adds a random-free
    * deterministic salt; the dim side explodes to every salt value, so
    * the shuffle spreads each hot key over SALT reducers. Results are
    * identical to the unsalted join — the oracle checks that. */
  val qJoinSalted: Q = (s, d) => {
    val SALT = 8
    val fact = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 10).as("hot_key"), col("l_quantity"),
        pmod(col("l_linenumber") + col("l_partkey"), lit(SALT)).as("salt"))
    val dim = Tables.nation(s, d).where(col("n_nationkey") < 10)
      .select(col("n_nationkey").as("hot_key"), col("n_name"))
      .crossJoin(saltRange(SALT))
    fact.join(dim.hint("shuffle_hash"), Seq("hot_key", "salt"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("n_name")
  }

  private def saltRange(n: Int) = {
    import org.apache.spark.sql.functions.{explode, sequence, lit}
    org.apache.spark.sql.SparkSession.active.range(1)
      .select(explode(sequence(lit(0), lit(n - 1))).as("salt"))
  }

  private def bigOrders(s: SparkSession, d: String) =
    Tables.orders(s, d).where(col("o_totalprice") > 300000.0)

  /** Left outer join with non-matching rows (null path exercised). */
  val qJoinLeft: Q = (s, d) => {
    Tables.customer(s, d)
      .join(bigOrders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"), count(col("o_orderkey")).as("n_matched"))
      .orderBy("c_mktsegment")
  }

  /** Right outer join (mirror of qJoinLeft, from the orders side). */
  val qJoinRight: Q = (s, d) => {
    bigOrders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "right")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"), count(col("o_orderkey")).as("n_matched"))
      .orderBy("c_mktsegment")
  }

  /** Full outer join over deliberately-offset key ranges. */
  val qJoinFull: Q = (s, d) => {
    val c = Tables.customer(s, d).where(col("c_nationkey") < 20)
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
    val p = Tables.supplier(s, d).where(col("s_nationkey") >= 5)
      .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
    c.join(p, col("c_nationkey") === col("s_nationkey"), "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** Left-semi join (EXISTS). */
  val qJoinSemi: Q = (s, d) => {
    Tables.customer(s, d)
      .join(bigOrders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** Left-anti join (NOT EXISTS). */
  val qJoinAnti: Q = (s, d) => {
    Tables.customer(s, d)
      .join(bigOrders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** Equi-join with a range (theta) residual predicate.
    *
    * sum_price is summed in EXACT integer cents, not as a double:
    * at the 2.6 GB fixture the group sums reach ~8·10¹¹, where a
    * double carries only ~4 decimal digits and the accumulation ORDER
    * moves round(sum, 2) by more than a cent (measured: Spark .22 vs
    * DuckDB .29 on 13M rows — the first scale decade to falsify the
    * "round(sum,2) never diverges" rule). Prices are 2-decimal by
    * construction, so round(x·100) is the exact cent count in both
    * engines and the long sum is order-independent. */
  val qJoinRange: Q = (s, d) => {
    Tables.lineitem(s, d)
      .join(Tables.part(s, d),
        col("l_partkey") === col("p_partkey") &&
        col("l_extendedprice") > col("p_retailprice") * 20.0)
      .groupBy("p_type")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("l_extendedprice") * 100, 0).cast("long")).cast("double")
          / 100.0).as("sum_price"))
      .orderBy("p_type")
  }

  /** PURE interval join (no equi key at all — the plan Spark would
    * otherwise run as an O(n·m) BroadcastNestedLoopJoin): each sampled
    * order's 30-day window matched to every lineitem shipped inside it.
    * Expressed as a BINNED range join — the standard at-scale rewrite:
    * bin width = interval length, so each interval explodes to ≤ 2
    * bucket rows and each item to exactly 1; the join is then a plain
    * equi-join on the bucket with the exact range as a residual filter,
    * and each qualifying pair matches in exactly one bucket (no dedup
    * needed). Cost is O(pairs-in-bucket), partitioned by time. */
  val qJoinInterval: Q = (s, d) => {
    val W = 30 // days per bucket == interval length
    val orders = Tables.orders(s, d).where(col("o_orderkey") % 501 === 0)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("lo"))
      .withColumn("hi", date_add(col("lo"), W))
      .withColumn("bucket",
        explode(sequence(floor(unix_date(col("lo")) / W),
          floor(unix_date(col("hi")) / W))))
    val items = Tables.lineitem(s, d)
      .select(to_date(col("l_shipdate")).as("ship"), col("l_quantity"))
      .withColumn("bucket", floor(unix_date(col("ship")) / W))
    orders.join(items, Seq("bucket"))
      .where(col("ship") >= col("lo") && col("ship") <= col("hi"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("o_orderkey")
  }

  /** Co-located join via bucketing: both sides are written
    * `bucketBy(8)` on the join key (sorted within buckets), then
    * sort-merge joined reading bucket files directly — ZERO Exchange on
    * either join side (PlanSpec asserts it). At 100 TB this is how a
    * fact table joins its dims repeatedly without re-shuffling per
    * query: pay the layout shuffle once at ingest, join shuffle-free
    * forever after. The bucketed write is part of the query so the
    * layout cost is measured honestly; the `merge` hint pins SMJ where
    * toy-scale size estimates would auto-broadcast (broadcast wouldn't
    * exist at scale — the dim side here stands in for a large one). */
  val qJoinBucketed: Q = (s, d) => {
    val agg = bucketedJoin(s, d)
      .groupBy("c_mktsegment")
      // exact integer cents (see qJoinShuffle): a double Σ of 1M+
      // prices diverges from DuckDB in the 2nd decimal at sf4
      .agg(count(lit(1)).as("n_orders"),
        (sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")) / 100.0)
          .as("revenue"))
      .orderBy("c_mktsegment")
    // Materialize, then DROP the layout: the per-dataset table names
    // fix cross-dataset clobbering, but without a drop the catalog
    // entries and /tmp paths accumulate unboundedly across runs. In
    // plan-only mode (or a cluster with no checkpoint dir) the lazy
    // plan still reads the tables, so they must stay alive — skip.
    if (!Scoped.materializes(s)) agg
    else {
      val out = Scoped.materializeRound(agg)
      dropBucketedLayout(s, d)
      out
    }
  }

  /** Per-dataset bucketed-layout names: table names and path derived
    * from the dataset (like the path) so concurrent sessions /
    * interleaved datasets can't clobber each other's bucketed tables. */
  private def bucketedNames(d: String): (String, String, String) = {
    val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
    (s"/tmp/graft_bucketed_$tag", s"g_orders_bucketed_$tag", s"g_customer_bucketed_$tag")
  }

  /** Drops the bucketed tables and deletes their storage — the cleanup
    * half of [[bucketedJoin]] (DROP TABLE on an external table leaves
    * the path behind, so the filesystem delete is explicit). */
  private[graft] def dropBucketedLayout(s: SparkSession, d: String): Unit = {
    val (dir, ordersTbl, custTbl) = bucketedNames(d)
    Seq(ordersTbl, custTbl).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Writes the bucketed tables and returns the shuffle-free join
    * (exposed for PlanSpec's zero-Exchange assertion; pair with
    * [[dropBucketedLayout]]). */
  private[graft] def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (dir, ordersTbl, custTbl) = bucketedNames(d)
    // project to the joined/aggregated columns before bucketing — the
    // layout write costs I/O proportional to what it keeps
    Tables.orders(s, d).select("o_custkey", "o_totalprice")
      .write.mode("overwrite")
      .option("path", s"$dir/orders")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable(ordersTbl)
    Tables.customer(s, d).select("c_custkey", "c_mktsegment")
      .write.mode("overwrite")
      .option("path", s"$dir/customer")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable(custTbl)
    s.table(ordersTbl)
      .join(s.table(custTbl).hint("merge"),
        col("o_custkey") === col("c_custkey"))
  }

  /** MERGE / upsert (CDC apply): a base table merged with an update
    * batch — matched keys take the update, unmatched updates insert,
    * untouched base rows keep. Expressed as ONE full-outer equi-join +
    * coalesce (the engine-level form of SQL MERGE): a single
    * co-partitioned shuffle on the key at any scale, and with the base
    * laid out bucketed (q_join_bucketed) the base side needs no
    * exchange at all. Updates here shift the price by a constant so
    * the merged values are FP-exact across engines. */
  val qMergeUpsert: Q = (s, d) => {
    val base = Tables.orders(s, d).where(col("o_orderkey") % 4 =!= 0)
      .select(col("o_orderkey").as("bk"), col("o_totalprice").as("bprice"))
    val upd = Tables.orders(s, d).where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("uk"), (col("o_totalprice") + 1000.0).as("uprice"))
    base.join(upd, col("bk") === col("uk"), "full_outer")
      .select(coalesce(col("bk"), col("uk")).as("o_orderkey"),
        when(col("bk").isNull, "insert")
          .when(col("uk").isNull, "keep").otherwise("update").as("action"),
        coalesce(col("uprice"), col("bprice")).as("price"))
      .where(col("o_orderkey") % 125 === 0)
      .orderBy("o_orderkey")
  }

  private val BJ_M = 1 << 18 // bloom bits (32 KB as booleans / row never)
  private val BJ_K = 4

  /** Runtime bloom-filter semi-join reduction — the 100 TB join
    * technique this engine's big-join story rests on: when a selective
    * dimension filter leaves a key set too large to ship as an IN-list
    * but small enough to sketch, build a Bloom filter over the dim
    * keys and apply it to the FACT SCAN as a plain codegen'd predicate
    * BEFORE any exchange, so the shuffle/join only sees rows that can
    * possibly match (what Spark's own `runtime.bloomFilter` rule
    * injects — constructed here explicitly so the mechanism itself is
    * oracle-gated). False positives are removed by the exact broadcast
    * join after the pre-filter; the result is identical to the plain
    * join BY CONSTRUCTION, and the output's n_pass column hash-pins
    * the sketch behavior itself (both engines replay the same
    * md5-derived bit positions).
    *
    * The collected bit set is a bounded driver-local model in the
    * documented K-row-centroid sense: ≤ m = 2^18 bits regardless of
    * corpus size, shipped once as a plan literal.
    *
    * Shape at scale: fact side is scanned once, filtered map-side at
    * ~4 hash probes/row inside WholeStageCodegen, then broadcast-
    * joined; the dim side is aggregated to ≤ 4·|keys| positions with
    * map-side combine. No shuffle ever carries a non-candidate row. */
  val qJoinBloom: Q = (s, d) => {
    def positions(key: Column): Column = array((0 until BJ_K).map(j =>
      hash28(concat(lit(s"bj$j:"), key)) % BJ_M): _*)
    val dim = Tables.orders(s, d)
      .where(col("o_orderpriority") === "1-URGENT"
        && expr("o_orderdate >= timestamp'2000-01-01'")
        && expr("o_orderdate < timestamp'2000-04-01'"))
      .select(col("o_orderkey")).distinct()
    val bm = new Array[Boolean](BJ_M)
    dim.select(explode(positions(col("o_orderkey").cast("string"))).as("pos"))
      .distinct().collect().foreach(r => bm(r.getLong(0).toInt) = true)
    val bloomPass = (0 until BJ_K).map { j =>
      val pos = hash28(concat(lit(s"bj$j:"), col("l_orderkey").cast("string"))) % BJ_M
      get(lit(bm), pos.cast("int"))
    }.reduce(_ && _)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    val totals = li.groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"))
    val passAgg = li.where(bloomPass)
      .join(broadcast(dim.withColumn("hit", lit(1L))),
        col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_pass"),
        sum(coalesce(col("hit"), lit(0L))).as("n_join"),
        sum(when(col("hit").isNotNull, col("l_quantity")).otherwise(0.0))
          .as("sum_qty"))
    totals.join(passAgg, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"),
        col("n_rows"),
        coalesce(col("n_pass"), lit(0L)).as("n_pass"),
        coalesce(col("n_join"), lit(0L)).as("n_join"),
        coalesce(col("sum_qty"), lit(0.0)).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Wide→long unpivot (melt): per-measure rows from the lineitem
    * measure columns. Pure map-side row expansion — the inverse surface
    * of `q_agg_pivot`. */
  val qUnpivot: Q = (s, d) => {
    Tables.lineitem(s, d).where(col("l_orderkey") % 5000 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("quantity"),
        col("l_extendedprice").cast("double").as("extendedprice"),
        col("l_discount").cast("double").as("discount"),
        col("l_tax").cast("double").as("tax"))
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")
  }

  /** As-of join: for each purchase, the latest click at-or-before it by
    * the same user. Composed from union + window `last(ignoreNulls)` —
    * a single shuffle on user_id, no join at all (SURVEY §2.4).
    */
  val qJoinAsof: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .where(col("user_id") % 20 === 0 && col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "click", lit(0)).otherwise(lit(1)).as("kind"))
    val w = Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .where(col("kind") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("click_id"), unix_millis(col("ts")).as("ts_ms"))
      .orderBy("purchase_id")
  }

  /** Cross join (cartesian) — deliberately tiny inputs. */
  val qJoinCross: Q = (s, d) => {
    val r1 = Tables.region(s, d).select(col("r_name").as("a"))
    val r2 = Tables.region(s, d).select(col("r_name").as("b"))
    r1.crossJoin(r2).orderBy("a", "b")
  }

  // ----------------------------------------------------------- aggregates

  /** Exact distinct aggregation (expand + two-phase agg in Spark). */
  val qAggDistinct: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** HLL sketch distinct — no oracle (algorithm-dependent), rows-only. */
  /** HyperLogLog implemented as COMPOSED relational ops with a
    * cross-engine-deterministic md5-derived hash: 256 registers from
    * the low 8 hash bits, rho from the remaining 20. Unlike
    * `approx_count_distinct` (engine-private sketch bytes — round 1
    * scored it rows-only), every step here is reproducible in DuckDB,
    * so the ESTIMATE itself is oracle-hash-checked. Register
    * contributions are dyadic rationals (2^-rho via integer shift, no
    * libm pow) bounded well inside double's 53 bits, so the aggregate
    * sum is EXACT regardless of partition order — the property that
    * makes a floating aggregate hash-comparable at all. Exact distinct
    * and relative error ride along so accuracy is honest (~2-6% at m =
    * 256). Shuffle profile: partial-agg groupBy(flag, bucket) — at
    * most 256 rows per group out of the map side — then a tiny final
    * reduce; the exact side is the usual distinct aggregate. */
  val qAggHll: Q = (s, d) => {
    val m = 256
    import graft.functions.GraftFunctions.hash28
    val regs = Tables.lineitem(s, d)
      .select(col("l_returnflag"), hash28(col("l_partkey").cast("string")).as("h"))
      .withColumn("bucket", col("h") % m)
      .withColumn("w", floor(col("h") / m).cast("long"))
      .withColumn("rho", when(col("w") === 0, lit(21))
        .otherwise(lit(21) - length(bin(col("w")))))
      .groupBy("l_returnflag", "bucket").agg(max("rho").as("mj"))
    val est = regs.groupBy("l_returnflag")
      .agg(sum(lit(1.0) / expr("shiftleft(1, mj)")).as("present_sum"),
        count(lit(1)).as("n_present"))
      .withColumn("hll_estimate",
        round(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m)) * lit(65536.0)
          / (col("present_sum") + (lit(m) - col("n_present"))), 4))
    val exact = Tables.lineitem(s, d).groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("exact_nd"))
    est.join(exact, "l_returnflag")
      .withColumn("rel_err",
        round(abs(col("hll_estimate") - col("exact_nd")) / col("exact_nd"), 4))
      .select("l_returnflag", "hll_estimate", "exact_nd", "rel_err")
      .orderBy("l_returnflag")
  }

  /** Count–min sketch (Cormode & Muthukrishnan 2005) — the mergeable
    * point-frequency sibling of the [[qAggHll]] cardinality sketch: a
    * d=4 × w=256 counter table (1024 cells) where each item increments one bucket
    * per row (bucket = independent hash), and a point estimate is the
    * MIN over its d buckets — an overestimate by construction (the
    * one-sided bound est − exact ≥ 0 sits in the output as `over`, so
    * the oracle hash pins the CMS law itself). Hashes are the same
    * deterministic md5-derived [[hash28]] the oracle can replicate,
    * salted by depth. Keys are word BIGRAMS (the fixture's unigram
    * vocabulary is too small to load w buckets); w = 256 against a
    * ~|vocab|² bigram space gives every bucket real collision mass, so
    * the probes' `over` values are genuinely positive and the hash
    * gate pins the estimator, not a degenerate zero column. Probes:
    * the exact top-10 bigrams (ties to the smaller key) — the heavy
    * hitters CMS exists to track.
    *
    * Shape: bigram explode is map-side; the sketch is a
    * partial-aggregable groupBy bounded at d·w = 1024 rows REGARDLESS
    * of corpus size (the whole point of a sketch — at 100 TB the
    * sketch is still 1024 rows, mergeable across any partitioning);
    * exact counts are key-space-bounded with map-side combine; the
    * probe attach is a broadcast join of 40 rows against the 1024-row
    * sketch. */
  val qAggCms: Q = (s, d) => {
    val D = 4
    val W = 256
    def buckets(tok: Column): Column = array((0 until D).map(j =>
      hash28(concat(lit(s"$j"), lit(":"), tok)) % W): _*)
    val words = Tables.documents(s, d)
      .select(explode(graft.functions.TextExpressions
        .shinglesAllFast(tokens(col("text")), 2)).as("tok"))
    Scoped.share(words) {
      val sketch = words
        .select(posexplode(buckets(col("tok"))).as(Seq("depth", "bucket")))
        .groupBy("depth", "bucket").agg(count(lit(1)).as("c"))
      val probes = words.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok")).limit(10)
      val probeBuckets = probes.select(col("tok"), col("n_exact"),
        posexplode(buckets(col("tok"))).as(Seq("depth", "bucket")))
      sketch.join(broadcast(probeBuckets), Seq("depth", "bucket"))
        .groupBy("tok", "n_exact").agg(min("c").as("n_cms"))
        .withColumn("over", col("n_cms") - col("n_exact"))
        .orderBy(col("n_exact").desc, col("tok"))
    }
  }

  private val BLOOM_M = 2048 // bits per filter
  private val BLOOM_K = 4    // hash functions
  private val BLOOM_PROBES = 2000

  /** Bloom filter (Bloom 1970) — the third mergeable sketch beside
    * [[qAggHll]] (cardinality) and [[qAggCms]] (point frequency):
    * set MEMBERSHIP with one-sided error, the primitive behind
    * runtime bloom-join pruning and scan skipping. One filter of
    * m=[[BLOOM_M]] bits × k=[[BLOOM_K]] hashes per `l_returnflag`
    * over that flag's distinct part keys, REPRESENTED as the
    * distinct set-bit-position table (≤ m rows per flag — exactly the
    * filter's information content, mergeable by union under any
    * partitioning, and replayable in the oracle with no 64-bit
    * shift/overflow hazards). Bit positions come from the shared
    * deterministic [[hash28]], salted by hash index.
    *
    * Output per flag: inserted-key count, set-bit count, the
    * apriori estimate (bits_set/m)^k in INTEGER ppm arithmetic
    * (exact in both engines — no FP on a decision edge), and the
    * MEASURED false-positive count over [[BLOOM_PROBES]] probe keys
    * disjoint from the inserted domain by construction — so the
    * oracle hash pins the membership law itself, not just the bits.
    *
    * Shape: key dedup is a map-side-combined distinct bounded by the
    * key domain; the filter build collapses to ≤ m·|flags| rows
    * regardless of corpus size; the probe test is a broadcast join of
    * the 8 k probe-position rows against the bounded position table.
    * A probe row counts 4 matched rows iff every (possibly
    * duplicated) hash position is set — identical counting on both
    * engines. */
  val qAggBloom: Q = (s, d) => {
    import s.implicits._
    def positions(key: Column): Column = array((0 until BLOOM_K).map(j =>
      hash28(concat(lit(s"$j"), lit(":"), key)) % BLOOM_M): _*)
    // bounded key domain (l_partkey mod 512): the filter must NOT
    // saturate as the corpus grows — raw part keys fill all m bits
    // past tiny scale and the sketch degenerates to fp=1. ~512 keys ×
    // k=4 into m=2048 bits sits at the canonical ~63% fill (fp ≈ 16%),
    // stable at every SF.
    val keys = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        (col("l_partkey") % 512).cast("string").as("k"))
      .distinct()
    val setBits = keys
      .select(col("flag"), explode(positions(col("k"))).as("pos"))
      .distinct() // ≤ m rows per flag: the filter itself
    Scoped.share(setBits) {
      val stats = keys.groupBy("flag").agg(count(lit(1)).as("n_keys"))
        .join(setBits.groupBy("flag").agg(count(lit(1)).as("bits_set")), "flag")
      val probePos = s.range(BLOOM_PROBES.toLong).toDF("i")
        .select(col("i"),
          explode(positions(concat(lit("probe:"), col("i").cast("string")))).as("pos"))
      val fp = setBits.join(broadcast(probePos), "pos")
        .groupBy("flag", "i").agg(count(lit(1)).as("c"))
        .where(col("c") === BLOOM_K)
        .groupBy("flag").agg(count(lit(1)).as("n_fp"))
      val m2 = BLOOM_M.toLong * BLOOM_M
      stats.join(fp, Seq("flag"), "left")
        .withColumn("n_fp", coalesce(col("n_fp"), lit(0L)))
        // (bits_set/m)^4 in ppm, pure INTEGER div on both engines
        // (a double intermediate would hit Spark-truncates-vs-
        // DuckDB-rounds cast divergence)
        .withColumn("est_fp_ppm", expr(
          s"((bits_set * bits_set * 1000000L) div $m2 * bits_set * bits_set) div $m2"))
        .withColumn("fp_ppm", expr(s"(n_fp * 1000000L) div $BLOOM_PROBES"))
        .select("flag", "n_keys", "bits_set", "est_fp_ppm", "n_fp", "fp_ppm")
        .orderBy("flag")
    }
  }

  private val KMV_K = 128

  /** KMV / bottom-k theta sketch (Bar-Yossef et al. 2002; Beyer et al.
    * SIGMOD 2007 "On synopses for distinct value estimation under
    * multiset operations") — the fourth mergeable sketch beside
    * [[qAggHll]] / [[qAggCms]] / [[qAggBloom]], and the one that
    * supports SET ALGEBRA: keeping the K smallest distinct hash values
    * of a set yields an unbiased distinct estimate (K−1)/θ_K, and two
    * sketches MERGE by taking the bottom-K of their union — which is
    * exactly the bottom-K sketch of the union — so union sizes and,
    * via the match fraction ρ = |bottom-K(A∪B) ∩ A_sk ∩ B_sk| / K,
    * intersection sizes of ANY source pair fall out of the 128-row
    * samples alone. This is the cross-source overlap matrix
    * [[graft.queries.Curation]]'s q_source_overlap computes EXACTLY,
    * re-derived from fixed-size sketches: at 100 TB the pair algebra
    * still runs on S·K ≤ 2,560 rows regardless of corpus size.
    *
    * Elements are word 3-shingles of each source's documents, hashed
    * with the shared deterministic [[hash28]] (uniform on [0, 2^28),
    * replayable in the oracle). Sketch construction is the ONLY
    * corpus-scale pass: a two-phase (source, h) distinct, then the
    * bottom-K per source — written in the row_number window form that
    * [[graft.plans.RewriteTopKWindow]] rewrites to the bounded-heap
    * operator (no full per-source sort at scale). The exact distinct /
    * intersection columns are the AUDIT the sketch replaces, kept so
    * the oracle hash pins estimator error, not just the samples;
    * per-key fan-out of the exact hash self-join is bounded by the
    * source count. Sources with fewer than K distinct elements fall
    * back to their exact count (θ = 1), per the estimator's law. */
  val qAggKmv: Q = (s, d) =>
    // per-query AQE coalescing floor (Scoped.coalesceFloorSession
    // scaladoc; round-16 verdict item 3): kmv's digest passes carry
    // heavy per-row CPU (S-way unroll, window, popcount pair scan) on
    // a ~375 KB exchange that the default 1 MB floor coalesces to ONE
    // task. The round-16 GLOBAL-floor A/B measured kmv 2.98 -> 2.36 s
    // but lost the batch; the child session scopes the floor to kmv.
    kmvImpl(Scoped.coalesceFloorSession(s), d, forceMask = None)

  /** [[qAggKmv]] body; `forceMask` pins the corpus-pass formulation so
    * the spec can assert bitmask ≡ distinct frame equality (the
    * wide-alphabet fallback is otherwise never exercised by the gate —
    * every fixture's alphabet fits 62 bits). */
  private[graft] def kmvImpl(s: SparkSession, d: String,
      forceMask: Option[Boolean]): DataFrame = {
    // ONE corpus-scale shuffle: group the raw (source, h) stream by h,
    // folding each h's source set into a LONG BITMASK with bit_or — a
    // plain codegen HashAggregate with map-side partial combine (a
    // collect_set formulation was A/B'd here and lost: Spark executes
    // it as ObjectHashAggregate, whose sort-based fallback triggers at
    // 128 distinct groups and turns the corpus pass into a per-
    // partition sort). Everything downstream derives from the cached
    // masks without touching the corpus again: unrolling the mask over
    // the literal alphabet yields exactly the DISTINCT (source, h)
    // pairs (the old plan paid a separate corpus-wide distinct), and
    // the masks ARE the exact-intersection audit's input (the old plan
    // paid a second full shuffle of the pairs to regroup by h).
    //
    // The alphabet collect is a driver-side BOUNDED model (the same
    // contract the pair output already assumes: ≤C(S,2) rows) read
    // from one dictionary-backed column scan; >62 sources falls back
    // to the shuffle-per-phase distinct formulation, which has no
    // alphabet-width limit.
    val corpus = Tables.documents(s, d)
      .select(col("source"), explode(shingles(tokens(col("text")), 3)).as("sh"))
      .select(col("source"), hash28(col("sh")).as("h"))
    val srcs: Array[String] = Tables.documents(s, d)
      .select("source").distinct().orderBy("source")
      .collect().map(_.getString(0))
    val useMask = forceMask.getOrElse(srcs.nonEmpty && srcs.length <= 62)
    require(!(useMask && (srcs.isEmpty || srcs.length > 62)),
      s"bitmask path forced but alphabet has ${srcs.length} sources")
    // the cached corpus digest: h → source bitmask on the fast path,
    // distinct (source, h) pairs on the wide-alphabet fallback
    val digest: DataFrame =
      if (useMask) {
        // source → bit BEFORE the shingle explode: the map-literal
        // lookup is a linear string scan over the alphabet, so it must
        // run once per DOCUMENT, not once per shingle row
        val bitMap = map(srcs.zipWithIndex.flatMap { case (n, i) =>
          Seq(lit(n), lit(1L << i)) }: _*)
        // A Tables.spread of this scan (round 17) was A/B'd and LOST
        // (5.69/4.39 s vs 3.16/3.73 s same-window): the pre-explode
        // text exchange plus the widened map side cost more than the
        // ~520 ms single-task tokenize it parallelizes — unlike
        // sim_sparse/prefixjoin, kmv's downstream passes are already
        // fed by the digest exchange, so the spread helps only the one
        // corpus pass and taxes the shuffle it feeds.
        Tables.documents(s, d)
          .select(element_at(bitMap, col("source")).as("bit"),
            explode(shingles(tokens(col("text")), 3)).as("sh"))
          .select(col("bit"), hash28(col("sh")).as("h"))
          .groupBy("h").agg(bit_or(col("bit")).as("mask"))
      } else corpus.distinct()
    // A digest-parallelism floor was attempted TWICE in optimization
    // round 16 and rejected by interleaved same-window A/Bs at sf0.1:
    // (a) materializeRound + repartition(p, h): ON 3.42/4.02 s vs OFF
    // 3.15/3.05 s — the checkpoint write plus an extra pass cost more
    // than the widened passes saved; (b) a plain non-elidable
    // repartition(p, h, mask) (REPARTITION_BY_NUM, so AQE cannot
    // re-coalesce it): ON 3.59/3.65 s vs OFF 3.35/2.85 s. A global
    // AQE coalescing floor (minPartitionSize 1m → 64k) DID take kmv
    // 2.98 → 2.36/2.62 s by widening every exchange at once, but lost
    // its 16-query A/B overall (q_quality_kn_tri 2.14 → 3.4 s,
    // q_dedup_suffix 3.58 → 4.8 s) — recorded in OPTIMIZATION_r16.md;
    // the env knob (SPARK_GRAFT_MIN_PART_SIZE) stays for deployments
    // whose shuffles are CPU-bound rather than latency-bound.
    // eager share, not a lazy one (optimization round 17): the
    // lazy cache let AQE's concurrent subtree builds run the 375 KB
    // corpus digest pass TWICE inside one invocation (JobProbe jobs
    // 134+144, ~640 ms of duplicate corpus scan+explode); eager
    // materialization builds it once and every downstream pass —
    // unroll, window, pair scan, exact audit — reads the blocks.
    Scoped.shareEager(digest) { base =>
      // static unroll over the alphabet: S null-filtered whens per row
      // (all inside whole-stage codegen; S ≤ 62 keeps janino far from
      // the ~120-branch limit BandedSignature hit)
      val hh: DataFrame =
        if (useMask) {
          val hitCols: Seq[Column] = srcs.zipWithIndex.map { case (n, i) =>
            when(col("mask").bitwiseAND(lit(1L << i)) =!= 0L, lit(n)) }
          base.select(col("h"),
            explode(filter(array(hitCols: _*), x => x.isNotNull)).as("source"))
        } else base
      // shared-hash pairs for the exact audit: popcount-gate first
      // (almost every h has one source), then the ≤C(S,2) static pair
      // unroll on the small surviving subset
      val exPairs: DataFrame =
        if (useMask) {
          val pairCols: Seq[Column] = (for {
            i <- srcs.indices; j <- (i + 1) until srcs.length
          } yield when(
            col("mask").bitwiseAND(lit((1L << i) | (1L << j))) === lit((1L << i) | (1L << j)),
            struct(lit(srcs(i)).as("src_a"), lit(srcs(j)).as("src_b")))).toSeq
          base.where(bit_count(col("mask")) > 1)
            .select(explode(filter(array(pairCols: _*), x => x.isNotNull)).as("p"))
            .select(col("p.src_a"), col("p.src_b"))
        } else base.groupBy("h")
          .agg(sort_array(collect_set("source")).as("ss"))
          .where(size(col("ss")) > 1)
          .select(explode(expr(
            """flatten(transform(ss, (a, i) ->
              |  transform(slice(ss, i + 2, size(ss)),
              |    b -> struct(a AS src_a, b AS src_b))))""".stripMargin)).as("p"))
          .select(col("p.src_a"), col("p.src_b"))
      val sk = hh
        .withColumn("rn", row_number().over(Window.partitionBy("source").orderBy("h")))
        .where(col("rn") <= KMV_K)
        .select("source", "h")
      Scoped.share(sk) {
        val nd = hh.groupBy("source").agg(count(lit(1)).as("nd"))
        // estimates in INTEGER MILLI units — pure BIGINT division on
        // both engines (a round()ed double estimate hit a genuine
        // half-ulp divergence vs DuckDB at sf0.1; the Bloom ppm rule:
        // no FP on a decision edge). (K−1)·2^28·1000 < 2^63.
        val est = sk.groupBy("source").agg(max("h").as("hk"), count(lit(1)).as("kk"))
          .join(nd, "source")
          .withColumn("est_milli", when(col("kk") < KMV_K, col("kk") * 1000L)
            .otherwise(expr("((kk - 1) * 268435456 * 1000) div hk")))
        val pairs = est.select(col("source").as("src_a"), col("est_milli").as("est_a"),
            col("nd").as("nd_a"))
          .crossJoin(broadcast(est.select(col("source").as("src_b"),
            col("est_milli").as("est_b"), col("nd").as("nd_b"))))
          .where(col("src_a") < col("src_b"))
        // merged bottom-K per pair: the sketch UNION (tag side, dedup h,
        // re-take the K smallest) — S²·K rows, corpus-size-independent
        val mA = pairs.select("src_a", "src_b")
          .join(sk.select(col("source").as("src_a"), col("h")), "src_a")
          .withColumn("in_a", lit(1)).withColumn("in_b", lit(0))
        val mB = pairs.select("src_a", "src_b")
          .join(sk.select(col("source").as("src_b"), col("h")), "src_b")
          .withColumn("in_a", lit(0)).withColumn("in_b", lit(1))
        val merged = mA.select("src_a", "src_b", "h", "in_a", "in_b")
          .unionByName(mB.select("src_a", "src_b", "h", "in_a", "in_b"))
          .groupBy("src_a", "src_b", "h")
          .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("src_a", "src_b").orderBy("h")))
          .where(col("rn") <= KMV_K)
        val un = merged.groupBy("src_a", "src_b").agg(
          max("h").as("hu"), count(lit(1)).as("ku"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
            .as("matches"))
          .withColumn("est_union", when(col("ku") < KMV_K, col("ku") * 1000L)
            .otherwise(expr("((ku - 1) * 268435456 * 1000) div hu")))
          .withColumn("est_inter", expr("(matches * est_union) div ku"))
        // exact audit: full hash-set intersection, read STRAIGHT off
        // the cached corpus digest (zero additional corpus shuffle);
        // the pair space is the bounded source alphabet
        val ex = exPairs
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("exact_inter"))
        pairs.join(un, Seq("src_a", "src_b"))
          .join(ex, Seq("src_a", "src_b"), "left")
          .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
          .withColumn("exact_union", col("nd_a") + col("nd_b") - col("exact_inter"))
          .select("src_a", "src_b", "est_a", "est_b", "est_union", "exact_union",
            "est_inter", "exact_inter")
          .orderBy("src_a", "src_b")
      }
    }
  }

  /** ROLLUP with grouping_id. */
  val qAggRollup: Q = (s, d) => {
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .orderBy("gid", "l_returnflag", "l_linestatus")
  }

  /** CUBE with grouping_id. */
  val qAggCube: Q = (s, d) => {
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("sum_price"),
        grouping_id().as("gid"))
      .orderBy("gid", "o_orderstatus", "o_orderpriority")
  }

  /** GROUPING SETS (SQL surface over a temp view). */
  val qAggGsets: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_gsets_v")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n, grouping_id() AS gid
        |FROM orders_gsets_v
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** Statistical aggregates: stddev/variance/correlation/covariance. */
  /** Deterministic per-group MODE — the categorical summary aggregate
    * (Spark's built-in `mode()` documents arbitrary tie-breaking,
    * which disqualifies it for a reproducible pipeline): most
    * frequent l_quantity per return flag, ties broken to the SMALLEST
    * value via min(struct(−count, value)) over the value histogram —
    * the same deterministic-mode construction as label propagation's
    * adoption rule. Two partial-aggregable hash aggregates (value
    * histogram, then struct-min per group), no window, no sort. */
  val qAggMode: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
      .groupBy("l_returnflag")
      .agg(min(struct((-col("n")).as("negn"), col("l_quantity").as("v"))).as("m"),
        sum("n").as("n_rows"))
      .select(col("l_returnflag"), col("m.v").as("mode_q"),
        (-col("m.negn")).as("n_mode"), col("n_rows"))
      .orderBy("l_returnflag")
  }

  val qAggStats: Q = (s, d) => {
    Tables.lineitem(s, d).agg(
      round(min("l_quantity"), 2).as("min_q"),
      round(max("l_quantity"), 2).as("max_q"),
      round(avg("l_quantity"), 6).as("avg_q"),
      round(stddev_samp(col("l_quantity")), 6).as("sd_q"),
      round(var_samp(col("l_quantity")), 6).as("var_q"),
      round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
      round(stddev_samp(col("l_discount")), 6).as("sd_disc"))
  }

  /** Exact interpolated percentiles + median (reference A3 done right —
    * png_to_zarr.py:623-627 skips percentiles as "too slow"). */
  val qAggPercentile: Q = (s, d) => {
    Tables.lineitem(s, d).agg(
      round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
      round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
      round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"),
      round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_price"))
  }

  /** Mergeable consistent-sample quantile sketch with an exact rank
    * audit — the missing member of the §2.5 sketch family next to
    * HLL/CMS/Bloom/KMV. Per event type, the sketch is the bottom-K
    * rows by a deterministic md5-derived per-row [[hash28]]: a uniform
    * consistent sample that MERGES like KMV (bottom-K of a union =
    * bottom-K of the parts' bottom-Ks), so shards sample independently
    * and combine loss-free — the property t-digest needs approximate
    * centroid merging for, obtained here exactly. Quantile estimates
    * are DISCRETE order statistics of the sample (index ceil(q·n) in
    * (value, id) order): no interpolation arithmetic, so each estimate
    * is a value read straight from parquet — bit-identical
    * cross-engine, no rounding hazard. The audit reports each
    * estimate's exact rank over the FULL table in basis points
    * (integer division both engines) — honest error accounting in the
    * CMS/KMV style.
    *
    * Scale: the sample is the row_number-≤-K window form that
    * [[graft.plans.RewriteTopKWindow]] executes as the bounded heap
    * (K·|types| rows of state, ONE shuffle, no per-type sort); the
    * order statistics run on ≤ K·|types| rows; the audit broadcasts
    * the |types|×3-row estimate table into one scan of the corpus. At
    * 100 TB you keep the sketch and drop the audit. */
  val qAggQsketch: Q = (s, d) => {
    val K = 256
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
    Scoped.share(ev) {
      val samp = ev
        .withColumn("h", hash28(concat(col("event_id").cast("string"), lit(":qs"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("h"), col("event_id"))))
        .where(col("rn") <= K)
      val sn = samp.groupBy("event_type").agg(count(lit(1)).as("sample_n"))
      val so = samp.withColumn("rs", row_number().over(
        Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))))
      val qs = s.range(1)
        .select(explode(array(lit(2500), lit(5000), lit(9000))).as("q_bp"))
      val est = so.join(broadcast(sn), "event_type")
        .join(broadcast(qs),
          col("rs") === expr("(sample_n * q_bp + 9999) div 10000"))
        .select(col("event_type"), col("q_bp"), col("value").as("est"),
          col("sample_n"))
      ev.join(broadcast(est), "event_type")
        .groupBy("event_type", "q_bp", "est", "sample_n")
        .agg(sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("le"),
          count(lit(1)).as("cnt"))
        .select(col("event_type"), col("q_bp"), col("est"), col("sample_n"),
          expr("(le * 10000) div cnt").as("rank_bp"))
        .withColumn("err_bp", abs(col("rank_bp") - col("q_bp")))
        .orderBy("event_type", "q_bp")
    }
  }

  /** Top-k per group via ranking window. */
  val qTopkPerGroup: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rn")
  }

  // -------------------------------------------------------------- windows

  /** Ranking window functions (row_number / rank / dense_rank). */
  val qWinRank: Q = (s, d) => {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d).where(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"))
      .orderBy("c_nationkey", "rn")
  }

  /** ntile bucketing. ntile over a GLOBAL ordering is inherently a
    * single-partition sort — acceptable here because the input is
    * pre-filtered 100× (o_custkey % 100). The 100 TB formulation is
    * two-phase: `percentile_approx` boundary cut-points broadcast to a
    * map-side bucket assignment (no global sort); kept as-is because the
    * inventory pins exact ntile ties, which the approx form relaxes. */
  val qWinNtile: Q = (s, d) => {
    val w = boundedWindow(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(s, d).where(col("o_custkey") % 100 === 0)
      .withColumn("nt", ntile(4).over(w))
      .groupBy("nt")
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("nt")
  }

  /** The TWO-PHASE distributed form of exact ntile that [[qWinNtile]]'s
    * scaladoc promises — gated by the SAME ntile(4) oracle, proving the
    * formulations equivalent with NO global window anywhere:
    *
    *  1. exact global rank without a single-partition sort: range-
    *     repartition on the total order key (range partitions are
    *     themselves ordered), sort within partitions, `zipWithIndex`
    *     (one tiny job collects per-partition counts → offsets). The
    *     rank is the total-order rank regardless of where the sampled
    *     range bounds fall, because the key (price, orderkey) is total;
    *  2. ntile's exact bucket rule as integer arithmetic on the rank —
    *     the first n mod k buckets take ⌈n/k⌉ rows — with n from one
    *     driver-side count.
    *
    * At 100 TB this is the shape that works: every stage is bounded by
    * a partition, and the only driver data is the scalar n. */
  val qNtileScalable: Q = (s, d) => {
    import s.implicits._
    val base = Tables.orders(s, d).where(col("o_custkey") % 100 === 0)
      .select(col("o_totalprice"), col("o_orderkey"))
    val k = 4L
    val n = base.count()
    val bucket = n / k
    val rem = n % k
    val ranked = base
      .repartitionByRange(8, col("o_totalprice").asc, col("o_orderkey").asc)
      .sortWithinPartitions(col("o_totalprice").asc, col("o_orderkey").asc)
      .as[(Double, Long)].rdd.zipWithIndex()
      .map { case ((price, okey), r) => (price, okey, r) }
    val wide = (bucket + 1) * rem // rows in the first (n mod k) wider buckets
    s.createDataset(ranked).toDF("o_totalprice", "o_orderkey", "r")
      .withColumn("nt",
        (when(col("r") < lit(wide), expr(s"r div ${bucket + 1}"))
          .otherwise(lit(rem) + expr(s"(r - $wide) div ${bucket.max(1L)}"))
          + 1).cast("int"))
      .groupBy("nt")
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("nt")
  }

  /** cume_dist + nth_value — the remaining analytic window functions
    * (ranking/lag/first-last/percent_rank live in their own queries).
    * Unique ordering (price, key) keeps both deterministic. */
  val qWinCume: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    val wAll = Window.partitionBy("o_orderpriority")
    // cume_dist in integer ppm: the built-in returns rank/total as a
    // DOUBLE whose round(6) is half-ulp-divergent cross-engine at big
    // partitions (hit at sf4) — with the tie-broken order the quotient
    // is rank/total exactly, so compute it with integer div
    Tables.orders(s, d).where(col("o_orderkey") % 200 === 0)
      .withColumn("rnk", rank().over(w))
      .withColumn("total", count(lit(1)).over(wAll))
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        expr("(rnk * 1000000L) div total").as("cd_ppm"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** lag / lead analytics over event time. */
  val qWinLag: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d).where(col("user_id") % 50 === 0)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("value"),
        lag("value", 1).over(w).as("prev_v"),
        lead("value", 1).over(w).as("next_v"))
      .orderBy("user_id", "ts_ms", "event_id")
  }

  /** Running (cumulative) sum with an explicit ROWS frame. */
  val qWinRunning: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d).where(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(w), 2).as("running"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** RANGE frame over event-time milliseconds (trailing 1 hour). */
  val qWinRange: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, 0L)
    Tables.events(s, d).where(col("user_id") % 50 === 0)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        round(sum("value").over(w), 2).as("hour_sum"))
      .orderBy("user_id", "ts_ms", "event_id")
  }

  /** first_value / last_value / nth_value with a full-partition frame. */
  val qWinFirstLast: Q = (s, d) => {
    val order = Seq(col("c_acctbal").desc, col("c_custkey").asc)
    val wFull = Window.partitionBy("c_nationkey").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.partitionBy("c_nationkey").orderBy(order: _*)
    Tables.customer(s, d)
      .select(col("c_nationkey"),
        first("c_name").over(wFull).as("richest"),
        last("c_name").over(wFull).as("poorest"),
        nth_value(col("c_name"), 2).over(wFull).as("second"),
        row_number().over(wRank).as("rn"))
      .where(col("rn") === 1)
      .drop("rn")
      .orderBy("c_nationkey")
  }

  /** Collection aggregates: per-nation distinct market segments as a
    * deterministic sorted list (collect_set → sort_array → join, so the
    * oracle's string_agg compares byte-for-byte). */
  val qAggCollect: Q = (s, d) => {
    Tables.customer(s, d)
      .groupBy("c_nationkey")
      .agg(concat_ws(",", sort_array(collect_set(col("c_mktsegment")))).as("segments"),
        size(collect_set(col("c_mktsegment"))).as("n_seg"),
        count(lit(1)).as("n_cust"))
      .orderBy("c_nationkey")
  }

  /** percent_rank / cume_dist relative-position analytics — in exact
    * integer ppm (see [[qWinCume]]): with the tie-broken order these
    * are (rank−1)/(total−1) and rank/total exactly, and integer div is
    * the only cross-engine-stable way to report the quotient. */
  val qWinPctRank: Q = (s, d) => {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    val wAll = Window.partitionBy("c_nationkey")
    Tables.customer(s, d).where(col("c_custkey") % 40 === 0)
      .withColumn("rnk", rank().over(w))
      .withColumn("total", count(lit(1)).over(wAll))
      .select(col("c_nationkey"), col("c_custkey"),
        // single-row partition: percent_rank is 0 by definition in
        // both engines — spell the case out, (0 div 0) is NULL not 0
        expr("CASE WHEN total = 1 THEN 0L"
          + " ELSE ((rnk - 1) * 1000000L) div (total - 1) END").as("pct_ppm"),
        expr("(rnk * 1000000L) div total").as("cume_ppm"))
      .orderBy("c_nationkey", "c_custkey")
  }

  // --------------------------------------------------------------- setops

  private def custNations(s: SparkSession, d: String) =
    Tables.customer(s, d).where(col("c_nationkey") < 20)
      .select(col("c_nationkey").as("nationkey"))
  private def suppNations(s: SparkSession, d: String) =
    Tables.supplier(s, d).where(col("s_nationkey") >= 5)
      .select(col("s_nationkey").as("nationkey"))

  /** UNION (distinct). */
  val qSetUnion: Q = (s, d) =>
    custNations(s, d).union(suppNations(s, d)).distinct().orderBy("nationkey")

  /** INTERSECT. */
  val qSetIntersect: Q = (s, d) =>
    custNations(s, d).intersect(suppNations(s, d)).orderBy("nationkey")

  /** EXCEPT. */
  val qSetExcept: Q = (s, d) =>
    custNations(s, d).except(suppNations(s, d)).orderBy("nationkey")

  /** UNION ALL with provenance tag. */
  val qSetUnionAll: Q = (s, d) => {
    custNations(s, d).withColumn("side", lit("cust"))
      .union(suppNations(s, d).withColumn("side", lit("supp")))
      .groupBy("side", "nationkey").agg(count(lit(1)).as("n"))
      .orderBy("side", "nationkey")
  }

  /** unionByName: columns matched by NAME across differently-ordered
    * schemas (positional union would silently mis-zip them). */
  val qSetUnionByName: Q = (s, d) => {
    val a = Tables.customer(s, d)
      .select(col("c_nationkey").as("nationkey"), lit("cust").as("side"))
    val b = Tables.supplier(s, d) // deliberately reversed column order
      .select(lit("supp").as("side"), col("s_nationkey").as("nationkey"))
    a.unionByName(b)
      .groupBy("side").agg(count(lit(1)).as("n"),
        countDistinct("nationkey").as("nd"))
      .orderBy("side")
  }

  /** Pivot: order priorities to columns, one row per market segment. */
  val qAggPivot: Q = (s, d) => {
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .withColumnRenamed("1-URGENT", "urgent")
      .withColumnRenamed("2-HIGH", "high")
      .withColumnRenamed("3-MEDIUM", "medium")
      .withColumnRenamed("4-NOT SPECIFIED", "unspec")
      .withColumnRenamed("5-LOW", "low")
      .orderBy("c_mktsegment")
  }

  /** Typed Aggregator UDAF (floor-truncating mean — the pyramid's
    * dtype-preserving semantics as a reusable aggregate). Partial
    * (sum, count) buffers combine map-side like any built-in agg. */
  val qAggUdaf: Q = (s, d) => {
    val fm = udaf(graft.functions.FloorMean)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag")
      .agg(fm(col("q")).as("fmean"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------- sort / topk

  /** Global top-k (TakeOrderedAndProject, not a full sort). */
  val qTopkGlobal: Q = (s, d) => {
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  // ----------------------------------------------------- scalar functions

  /** String functions (reference X2/X3 analogues). */
  val qStrFuncs: Q = (s, d) => {
    Tables.customer(s, d).where(col("c_custkey") % 97 === 0)
      .select(col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_name")).as("lo"),
        length(col("c_name")).as("len"),
        substring(col("c_name"), 1, 8).as("pre"),
        regexp_extract(col("c_name"), "(\\d+)", 1).as("digits"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"))
      .orderBy("c_custkey")
  }

  /** Date/time functions over order dates. */
  val qDateFuncs: Q = (s, d) => {
    Tables.orders(s, d).where(col("o_orderkey") % 101 === 0)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        unix_millis(date_trunc("month", col("o_orderdate"))).as("month_ms"),
        datediff(lit("1995-01-01").cast("date"), col("o_orderdate")).cast("long").as("days_to_95"),
        unix_millis((col("o_orderdate") + expr("INTERVAL 30 DAY")).cast("timestamp")).as("plus30_ms"))
      .orderBy("o_orderkey")
  }

  /** Math functions. */
  val qMathFuncs: Q = (s, d) => {
    Tables.lineitem(s, d).where(col("l_orderkey") % 997 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_extendedprice") - 30000.0), 2).as("abs_d"),
        ceil(col("l_quantity")).as("ceil_q"),
        floor(col("l_quantity")).as("floor_q"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_p"),
        round(log(col("l_extendedprice")), 6).as("ln_p"),
        round(exp(col("l_discount")), 6).as("exp_d"),
        round(pow(col("l_discount"), 2), 6).as("pow_d"),
        (col("l_orderkey") % 7).as("mod7"),
        signum(col("l_discount") - 0.05).cast("int").as("sgn"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** CASE WHEN bucketing. */
  val qCaseExpr: Q = (s, d) => {
    Tables.orders(s, d)
      .withColumn("bucket",
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "mid")
          .when(col("o_totalprice") < 300000, "large")
          .otherwise("huge"))
      .groupBy("bucket").agg(count(lit(1)).as("n"),
        round(avg("o_totalprice"), 4).as("avg_price"))
      .orderBy("bucket")
  }

  /** Array higher-order functions over embeddings. */
  val qArrayFuncs: Q = (s, d) => {
    Tables.embeddings(s, d).where(col("vec_id") % 25 === 0)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        round(sqrt(normSq(col("embedding"))), 4).as("l2"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double")) / size(col("embedding")), 6).as("mean_v"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_v"),
        round(aggregate(slice(col("embedding"), 1, 8), lit(0.0),
          (acc, x) => acc + x.cast("double")), 6).as("head8_sum"),
        size(filter(col("embedding"), x => x > lit(0.0f))).as("n_pos"))
      .orderBy("vec_id")
  }

  /** posexplode (generator) + re-aggregation by position. */
  val qExplode: Q = (s, d) => {
    Tables.embeddings(s, d).where(col("vec_id") < 20)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(round(sum(col("v").cast("double")), 4).as("sum_v"), count(lit(1)).as("n"))
      .orderBy("pos")
  }

  /** JSON extraction from events.props. */
  val qJsonFuncs: Q = (s, d) => {
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(sum(col("k")).cast("long").as("sum_k"),
        round(avg(col("k")), 6).as("avg_k"),
        count(when(col("k") > 50, 1)).as("n_big"))
      .orderBy("event_type")
  }

  /** Map construction + element access round-trip. */
  val qMapFuncs: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("m", map(lit("n"), col("cnt")))
      .select(col("event_type"), element_at(col("m"), "n").as("n"))
      .orderBy("event_type")
  }

  // ------------------------------------------- reference-operator analogs

  /** A1: non-overlapping 2×2×2 windowed-mean downsample in long form,
    * dtype-preserving (floor) — the reference's core pyramid aggregation
    * (png_to_zarr.py:386-392) as a relational groupBy. */
  val qDownsample3d: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).as("z"),
        (col("l_partkey") % 16).as("y"),
        (col("l_suppkey") % 16).as("x"),
        col("l_quantity").as("v"))
      .groupBy((col("z") / 2).cast("int").as("zc"),
        (col("y") / 2).cast("int").as("yc"),
        (col("x") / 2).cast("int").as("xc"))
      .agg(floor(avg("v")).cast("long").as("mean_v"), count(lit(1)).as("n"))
      .orderBy("zc", "yc", "xc")
  }

  /** X1+X4: wavelength → channel color lookup + hex formatting. */
  val qWavelengthHex: Q = (s, d) => {
    Tables.part(s, d)
      .withColumn("wl", (lit(380) + (col("p_partkey") % 40) * 10).cast("int"))
      .withColumn("color", wavelengthToHex(col("wl")))
      .withColumn("hex", colorHex(col("color")))
      .groupBy("wl", "color", "hex").agg(count(lit(1)).as("n"))
      .orderBy("wl")
  }

  /** P1: deterministic round-robin partitioning law (i mod n). Global
    * enumeration uses RDD sortBy (range-partitioned distributed sort) +
    * zipWithIndex rather than a single-partition Window.orderBy — the
    * one case where the RDD API is the scalable primitive. */
  val qPartitionRoundRobin: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .select(col("o_orderkey")).as[Long]
      .rdd.sortBy(identity).zipWithIndex()
      .map { case (_, rn) => rn % 8 -> rn }
      .toDF("pid", "rn")
      .groupBy("pid")
      .agg(count(lit(1)).as("n"), min("rn").as("min_rn"), max("rn").as("max_rn"))
      .orderBy("pid")
  }

  /** S2: z-index assignment by rank over per-stack file order (the glob
    * alphabetical Z ordering, readers.py:145) — here per order key. */
  val qZorderRank: Q = (s, d) => {
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    Tables.lineitem(s, d)
      .withColumn("z", row_number().over(w) - 1)
      .groupBy("z").agg(count(lit(1)).as("n"))
      .orderBy("z")
  }

  // ------------------------------------------------------------ registry

  def queries: Map[String, Q] = Map(
    "q1_agg" -> q1Agg,
    "q_scan_project" -> qScanProject,
    "q_filter_pred" -> qFilterPred,
    "q_join_bcast" -> qJoinBcast,
    "q_join_shuffle" -> qJoinShuffle,
    "q_join_bucketed" -> qJoinBucketed,
    "q_merge_upsert" -> qMergeUpsert,
    "q_join_salted" -> qJoinSalted,
    "q_join_bloom" -> qJoinBloom,
    "q_join_left" -> qJoinLeft,
    "q_join_right" -> qJoinRight,
    "q_join_full" -> qJoinFull,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_range" -> qJoinRange,
    "q_join_interval" -> qJoinInterval,
    "q_unpivot" -> qUnpivot,
    "q_join_asof" -> qJoinAsof,
    "q_join_cross" -> qJoinCross,
    "q_agg_distinct" -> qAggDistinct,
    "q_agg_hll" -> qAggHll,
    "q_agg_cms" -> qAggCms,
    "q_agg_bloom" -> qAggBloom,
    "q_agg_kmv" -> qAggKmv,
    "q_agg_rollup" -> qAggRollup,
    "q_agg_cube" -> qAggCube,
    "q_agg_gsets" -> qAggGsets,
    "q_agg_stats" -> qAggStats,
    "q_agg_mode" -> qAggMode,
    "q_agg_percentile" -> qAggPercentile,
    "q_agg_qsketch" -> qAggQsketch,
    "q_topk_per_group" -> qTopkPerGroup,
    "q_win_rank" -> qWinRank,
    "q_win_ntile" -> qWinNtile,
    "q_ntile_scalable" -> qNtileScalable,
    "q_win_lag" -> qWinLag,
    "q_win_cume" -> qWinCume,
    "q_win_running" -> qWinRunning,
    "q_win_range" -> qWinRange,
    "q_win_firstlast" -> qWinFirstLast,
    "q_win_pctrank" -> qWinPctRank,
    "q_agg_collect" -> qAggCollect,
    "q_set_union" -> qSetUnion,
    "q_set_intersect" -> qSetIntersect,
    "q_set_except" -> qSetExcept,
    "q_set_unionall" -> qSetUnionAll,
    "q_set_union_byname" -> qSetUnionByName,
    "q_agg_pivot" -> qAggPivot,
    "q_agg_udaf" -> qAggUdaf,
    "q_topk_global" -> qTopkGlobal,
    "q_str_funcs" -> qStrFuncs,
    "q_date_funcs" -> qDateFuncs,
    "q_math_funcs" -> qMathFuncs,
    "q_case_expr" -> qCaseExpr,
    "q_array_funcs" -> qArrayFuncs,
    "q_explode" -> qExplode,
    "q_json_funcs" -> qJsonFuncs,
    "q_map_funcs" -> qMapFuncs,
    "q_downsample3d" -> qDownsample3d,
    "q_wavelength_hex" -> qWavelengthHex,
    "q_partition_roundrobin" -> qPartitionRoundRobin,
    "q_zorder_rank" -> qZorderRank
  )

  def oracleSql: Map[String, String] = Map(
    // price sums as exact longs divided once at the end (see q1Agg)
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
        |    AS sum_base_price,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) / 10000.0
        |    AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-01-01' AND l_discount > 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_filter_pred" ->
      """SELECT p_brand, count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
        |FROM part
        |WHERE p_type IN ('ECONOMY','SMALL') AND p_size BETWEEN 10 AND 30
        |  AND p_name LIKE '%a%' AND p_retailprice > 500.0
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_bcast" ->
      """SELECT r_name, count(*) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    // revenue as an exact long in 10^-4 units divided once at the end —
    // a double sum's order-dependence moves the 2nd decimal at sf4+
    "q_join_shuffle" ->
      """SELECT o_orderpriority,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) / 10000.0
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey AS bk, o_totalprice AS bprice
        |              FROM orders WHERE o_orderkey % 4 != 0),
        |upd AS (SELECT o_orderkey AS uk, o_totalprice + 1000.0 AS uprice
        |        FROM orders WHERE o_orderkey % 2 = 0),
        |m AS (SELECT coalesce(bk, uk) AS o_orderkey,
        |        CASE WHEN bk IS NULL THEN 'insert'
        |             WHEN uk IS NULL THEN 'keep' ELSE 'update' END AS action,
        |        coalesce(uprice, bprice) AS price
        |      FROM base FULL JOIN upd ON bk = uk)
        |SELECT o_orderkey, action, price FROM m
        |WHERE o_orderkey % 125 = 0 ORDER BY o_orderkey""".stripMargin,
    "q_join_salted" ->
      """SELECT n_name, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN nation
        |  ON l_orderkey % 10 = n_nationkey AND n_nationkey < 10
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // bloom semi-join reduction: the oracle replays the md5-derived bit
    // positions (set construction AND per-row probes) so n_pass pins
    // the sketch itself; n_join/sum_qty pin join exactness
    "q_join_bloom" -> {
      def h28(x: String) =
        s"CAST(concat('0x', substr(md5($x), 1, 7)) AS BIGINT)"
      def pos(j: Int, key: String) =
        s"${h28(s"concat('bj$j:', CAST($key AS VARCHAR))")} % $BJ_M"
      val dimPos = (0 until BJ_K).map(j => pos(j, "o_orderkey")).mkString(",\n|    ")
      val probes = (0 until BJ_K)
        .map(j => s"${pos(j, "l_orderkey")} IN (SELECT pos FROM sb)")
        .mkString("\n|    AND ")
      s"""WITH dim AS MATERIALIZED (
         |  SELECT DISTINCT o_orderkey FROM orders
         |  WHERE o_orderpriority = '1-URGENT'
         |    AND o_orderdate >= TIMESTAMP '2000-01-01'
         |    AND o_orderdate < TIMESTAMP '2000-04-01'),
         |sb AS MATERIALIZED (SELECT DISTINCT pos FROM dim, unnest([
         |    $dimPos]) t(pos)),
         |pass AS (SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
         |  WHERE $probes),
         |pa AS (SELECT p.l_returnflag, count(*) AS n_pass,
         |    CAST(sum(CASE WHEN d.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_join,
         |    sum(CASE WHEN d.o_orderkey IS NOT NULL THEN p.l_quantity
         |        ELSE 0 END) AS sum_qty
         |  FROM pass p LEFT JOIN dim d ON p.l_orderkey = d.o_orderkey
         |  GROUP BY 1),
         |t AS (SELECT l_returnflag, count(*) AS n_rows FROM lineitem
         |      GROUP BY 1)
         |SELECT t.l_returnflag, t.n_rows,
         |  coalesce(pa.n_pass, 0) AS n_pass,
         |  coalesce(pa.n_join, 0) AS n_join,
         |  CAST(coalesce(pa.sum_qty, 0) AS DOUBLE) AS sum_qty
         |FROM t LEFT JOIN pa ON t.l_returnflag = pa.l_returnflag
         |ORDER BY t.l_returnflag""".stripMargin
    },
    "q_join_left" ->
      """SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_matched
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
        |ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_right" ->
      """SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_matched
        |FROM (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_full" ->
      """WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer
        |           WHERE c_nationkey < 20 GROUP BY c_nationkey),
        |     p AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier
        |           WHERE s_nationkey >= 5 GROUP BY s_nationkey)
        |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN p ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_totalprice > 300000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_totalprice > 300000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_range" ->
      """SELECT p_type, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  AND l_extendedprice > p_retailprice * 20.0
        |GROUP BY p_type ORDER BY p_type""".stripMargin,
    "q_unpivot" ->
      """WITH w AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS DOUBLE) AS quantity,
        |  CAST(l_extendedprice AS DOUBLE) AS extendedprice,
        |  CAST(l_discount AS DOUBLE) AS discount,
        |  CAST(l_tax AS DOUBLE) AS tax
        |  FROM lineitem WHERE l_orderkey % 5000 = 0)
        |SELECT l_orderkey, l_linenumber, metric, value
        |FROM w UNPIVOT (value FOR metric IN (quantity, extendedprice, discount, tax))
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    // the oracle states the PLAIN interval semantics; the engine's
    // binning is an execution strategy, invisible in the result
    "q_join_interval" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS lo,
        |             CAST(o_orderdate AS DATE) + 30 AS hi
        |           FROM orders WHERE o_orderkey % 501 = 0)
        |SELECT o_orderkey, count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM o JOIN lineitem
        |  ON CAST(l_shipdate AS DATE) >= lo AND CAST(l_shipdate AS DATE) <= hi
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_join_asof" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
        |  FROM events
        |  WHERE user_id % 20 = 0 AND event_type IN ('click','purchase')),
        |w AS (
        |  SELECT *, last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        |  FROM tagged)
        |SELECT event_id AS purchase_id, user_id, click_id, epoch_ms(ts) AS ts_ms
        |FROM w WHERE kind = 1 ORDER BY purchase_id""".stripMargin,
    "q_join_cross" ->
      """SELECT r1.r_name AS a, r2.r_name AS b
        |FROM region r1 CROSS JOIN region r2 ORDER BY a, b""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // deterministic HLL: every arithmetic step mirrored from qAggHll;
    // 2^-rho via integer shift (exact dyadic), literals cast to DOUBLE
    // (DuckDB decimal literals would otherwise use DECIMAL division)
    "q_agg_bloom" ->
      s"""WITH keys AS MATERIALIZED (
         |  SELECT DISTINCT l_returnflag AS flag, CAST(l_partkey % 512 AS VARCHAR) AS k
         |  FROM lineitem),
         |pos AS MATERIALIZED (
         |  SELECT DISTINCT flag,
         |    CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', k)), 1, 7))
         |      AS BIGINT) % $BLOOM_M AS pos
         |  FROM keys, unnest([0,1,2,3]) u(j)),
         |nk AS (SELECT flag, count(*) AS n_keys FROM keys GROUP BY flag),
         |bs AS (SELECT flag, count(*) AS bits_set FROM pos GROUP BY flag),
         |probes AS MATERIALIZED (
         |  SELECT i,
         |    CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':',
         |      concat('probe:', CAST(i AS VARCHAR)))), 1, 7))
         |      AS BIGINT) % $BLOOM_M AS pos
         |  FROM range(0, $BLOOM_PROBES) t(i), unnest([0,1,2,3]) u(j)),
         |hits AS (SELECT p.flag, pr.i, count(*) AS c
         |         FROM probes pr JOIN pos p ON pr.pos = p.pos GROUP BY 1, 2),
         |fp AS (SELECT flag, count(*) AS n_fp FROM hits WHERE c = $BLOOM_K GROUP BY flag)
         |SELECT nk.flag AS flag, n_keys, bits_set,
         |  ((bits_set * bits_set * 1000000) // ${BLOOM_M.toLong * BLOOM_M}
         |    * bits_set * bits_set) // ${BLOOM_M.toLong * BLOOM_M} AS est_fp_ppm,
         |  coalesce(n_fp, 0) AS n_fp,
         |  (coalesce(n_fp, 0) * 1000000) // $BLOOM_PROBES AS fp_ppm
         |FROM nk JOIN bs USING (flag) LEFT JOIN fp USING (flag)
         |ORDER BY flag""".stripMargin,
    // KMV: same distinct-shingle universe, same md5-derived hash, the
    // bottom-K rank and every estimate arithmetic step mirrored from
    // qAggKmv (268435456 = 2^28, the hash28 range); estimates are
    // BIGINT MILLI units via // division — no FP on a decision edge
    "q_agg_kmv" ->
      s"""WITH t AS (
         |  SELECT source, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             x -> x != '') AS w
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |  FROM t, unnest(range(1, len(w) - 1)) u(i)),
         |hh AS MATERIALIZED (
         |  SELECT DISTINCT source,
         |    CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS h
         |  FROM sh),
         |nd AS (SELECT source, count(*) AS nd FROM hh GROUP BY 1),
         |rk AS (SELECT source, h,
         |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |       FROM hh),
         |sk AS MATERIALIZED (SELECT source, h FROM rk WHERE rn <= $KMV_K),
         |est AS MATERIALIZED (
         |  SELECT kv.source, nd.nd,
         |    CASE WHEN kk < $KMV_K THEN kk * 1000
         |         ELSE ((kk - 1) * 268435456 * 1000) // hk END AS est_milli
         |  FROM (SELECT source, max(h) AS hk, count(*) AS kk FROM sk GROUP BY 1) kv
         |  JOIN nd ON kv.source = nd.source),
         |pr AS MATERIALIZED (
         |  SELECT a.source AS src_a, b.source AS src_b, a.est_milli AS est_a,
         |         b.est_milli AS est_b, a.nd AS nd_a, b.nd AS nd_b
         |  FROM est a, est b WHERE a.source < b.source),
         |mg AS (
         |  SELECT p.src_a, p.src_b, s.h,
         |    max(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS in_b
         |  FROM pr p JOIN sk s ON s.source = p.src_a OR s.source = p.src_b
         |  GROUP BY 1, 2, 3),
         |mr AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b
         |         ORDER BY h) AS rn FROM mg),
         |un AS (
         |  SELECT src_a, src_b, max(h) AS hu, count(*) AS ku,
         |    sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS matches
         |  FROM mr WHERE rn <= $KMV_K GROUP BY 1, 2),
         |ux AS (
         |  SELECT src_a, src_b, matches, ku,
         |    CASE WHEN ku < $KMV_K THEN ku * 1000
         |         ELSE ((ku - 1) * 268435456 * 1000) // hu END AS est_union
         |  FROM un),
         |ex AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS exact_inter
         |  FROM hh a JOIN hh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, CAST(p.est_a AS BIGINT) AS est_a,
         |  CAST(p.est_b AS BIGINT) AS est_b, CAST(u.est_union AS BIGINT) AS est_union,
         |  CAST(p.nd_a + p.nd_b - coalesce(ex.exact_inter, 0) AS BIGINT) AS exact_union,
         |  CAST((u.matches * u.est_union) // u.ku AS BIGINT) AS est_inter,
         |  CAST(coalesce(ex.exact_inter, 0) AS BIGINT) AS exact_inter
         |FROM pr p JOIN ux u USING (src_a, src_b)
         |LEFT JOIN ex USING (src_a, src_b)
         |ORDER BY src_a, src_b""".stripMargin,
    "q_agg_cms" ->
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x != '') AS w
        |  FROM documents),
        |toks AS (
        |  SELECT w[i] || ' ' || w[i+1] AS tok
        |  FROM t, unnest(range(1, len(w))) u(i)),
        |sk AS (
        |  SELECT j AS depth,
        |    CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', tok)), 1, 7))
        |      AS BIGINT) % 256 AS bucket,
        |    count(*) AS c
        |  FROM toks, (SELECT unnest([0, 1, 2, 3]) AS j)
        |  GROUP BY 1, 2),
        |ex AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok),
        |pr AS (SELECT tok, n_exact FROM ex ORDER BY n_exact DESC, tok LIMIT 10),
        |pb AS (
        |  SELECT tok, n_exact, j AS depth,
        |    CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', tok)), 1, 7))
        |      AS BIGINT) % 256 AS bucket
        |  FROM pr, (SELECT unnest([0, 1, 2, 3]) AS j))
        |SELECT pb.tok, pb.n_exact,
        |  CAST(min(sk.c) AS BIGINT) AS n_cms,
        |  CAST(min(sk.c) - pb.n_exact AS BIGINT) AS over
        |FROM pb JOIN sk USING (depth, bucket)
        |GROUP BY pb.tok, pb.n_exact
        |ORDER BY pb.n_exact DESC, pb.tok""".stripMargin,
    "q_agg_hll" ->
      """WITH h AS (SELECT l_returnflag,
        |    CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 7)) AS BIGINT) AS h
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, h % 256 AS bucket,
        |        CAST(floor(h / 256) AS BIGINT) AS w FROM h),
        |rho AS (SELECT l_returnflag, bucket,
        |        CASE WHEN w = 0 THEN 21 ELSE 21 - length(bin(w)) END AS rho FROM r),
        |regs AS (SELECT l_returnflag, bucket, max(rho) AS mj FROM rho GROUP BY 1, 2),
        |est AS (SELECT l_returnflag,
        |          sum(CAST(1.0 AS DOUBLE) / (1 << mj)) AS present_sum,
        |          count(*) AS n_present
        |        FROM regs GROUP BY 1),
        |e2 AS (SELECT l_returnflag,
        |         round(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)
        |           * CAST(65536.0 AS DOUBLE) / (present_sum + (256 - n_present)), 4) AS hll_estimate
        |       FROM est),
        |ex AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd
        |       FROM lineitem GROUP BY 1)
        |SELECT e2.l_returnflag AS l_returnflag, hll_estimate, exact_nd,
        |  round(abs(hll_estimate - exact_nd) / exact_nd, 4) AS rel_err
        |FROM e2 JOIN ex ON e2.l_returnflag = ex.l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n, GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_gsets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_mode" ->
      """WITH h AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |           FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, l_quantity AS mode_q, n AS n_mode,
        |        sum(n) OVER (PARTITION BY l_returnflag) AS n_rows,
        |        row_number() OVER (PARTITION BY l_returnflag
        |                           ORDER BY n DESC, l_quantity ASC) AS rn
        |      FROM h)
        |SELECT l_returnflag, mode_q, CAST(n_mode AS BIGINT) AS n_mode,
        |  CAST(n_rows AS BIGINT) AS n_rows
        |FROM m WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "q_agg_stats" ->
      """SELECT round(min(l_quantity), 2) AS min_q, round(max(l_quantity), 2) AS max_q,
        |  round(avg(l_quantity), 6) AS avg_q,
        |  round(stddev_samp(l_quantity), 6) AS sd_q,
        |  round(var_samp(l_quantity), 6) AS var_q,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(stddev_samp(l_discount), 6) AS sd_disc
        |FROM lineitem""".stripMargin,
    "q_agg_percentile" ->
      """SELECT round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
        |FROM lineitem""".stripMargin,
    // consistent-sample quantile sketch: deterministic md5-derived
    // per-row hash replayed in SQL; discrete order statistics (no
    // interpolation arithmetic); ranks in basis points via integer //
    "q_agg_qsketch" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT event_type, event_id, value FROM events),
        |h AS (SELECT event_type, event_id, value,
        |    CAST(concat('0x', substr(md5(concat(CAST(event_id AS VARCHAR), ':qs')),
        |      1, 7)) AS BIGINT) AS h
        |  FROM ev),
        |samp AS MATERIALIZED (SELECT event_type, event_id, value FROM (
        |    SELECT event_type, event_id, value,
        |      row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn
        |    FROM h) t
        |  WHERE rn <= 256),
        |sn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sample_n
        |       FROM samp GROUP BY 1),
        |so AS (SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rs
        |  FROM samp),
        |qs AS (SELECT * FROM (VALUES (2500), (5000), (9000)) t(q_bp)),
        |est AS (SELECT so.event_type, qs.q_bp, so.value AS est, sn.sample_n
        |  FROM so JOIN sn ON so.event_type = sn.event_type
        |  JOIN qs ON so.rs = (sn.sample_n * qs.q_bp + 9999) // 10000),
        |aud AS (SELECT e.event_type, e.q_bp, e.est, e.sample_n,
        |    (CAST(sum(CASE WHEN ev.value <= e.est THEN 1 ELSE 0 END) AS BIGINT)
        |      * 10000) // CAST(count(*) AS BIGINT) AS rank_bp
        |  FROM ev JOIN est e ON ev.event_type = e.event_type
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, q_bp, est, sample_n, rank_bp,
        |  abs(rank_bp - q_bp) AS err_bp
        |FROM aud ORDER BY event_type, q_bp""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q_win_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
        |FROM customer WHERE c_custkey % 10 = 0
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_nationkey, rn""".stripMargin,
    "q_win_ntile" ->
      """SELECT nt, count(*) AS n, round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi
        |FROM (SELECT o_totalprice,
        |        ntile(4) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS nt
        |      FROM orders WHERE o_custkey % 100 = 0) t
        |GROUP BY nt ORDER BY nt""".stripMargin,
    // the scalable two-phase form must reproduce the ntile() oracle
    // EXACTLY — same SQL, proving the formulations equivalent
    "q_ntile_scalable" ->
      """SELECT nt, count(*) AS n, round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi
        |FROM (SELECT o_totalprice,
        |        ntile(4) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS nt
        |      FROM orders WHERE o_custkey % 100 = 0) t
        |GROUP BY nt ORDER BY nt""".stripMargin,
    "q_win_lag" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        |  lag(value, 1) OVER w AS prev_v, lead(value, 1) OVER w AS next_v
        |FROM events WHERE user_id % 50 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    // cume_dist replayed as exact integer ppm (rank/total with the
    // tie-broken order) — round(double, 6) splits at half-ulp at sf4
    "q_win_cume" ->
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price,
        |  (rank() OVER w * 1000000)
        |    // (count(*) OVER (PARTITION BY o_orderpriority)) AS cd_ppm,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders WHERE o_orderkey % 200 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q_win_running" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM orders WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_range" ->
      """SELECT user_id, event_id, ts_ms,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_ms
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW), 2) AS hour_sum
        |FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
        |      FROM events WHERE user_id % 50 = 0) t
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "q_win_firstlast" ->
      """SELECT c_nationkey, richest, poorest, second FROM (
        |  SELECT c_nationkey,
        |    first_value(c_name) OVER wf AS richest,
        |    last_value(c_name) OVER wf AS poorest,
        |    nth_value(c_name, 2) OVER wf AS second,
        |    row_number() OVER wr AS rn
        |  FROM customer
        |  WINDOW wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |         wr AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
        |) t WHERE rn = 1 ORDER BY c_nationkey""".stripMargin,
    "q_set_union" ->
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_nationkey < 20
        |UNION
        |SELECT s_nationkey FROM supplier WHERE s_nationkey >= 5
        |ORDER BY nationkey""".stripMargin,
    "q_set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_nationkey < 20
        |INTERSECT
        |SELECT s_nationkey FROM supplier WHERE s_nationkey >= 5
        |ORDER BY nationkey""".stripMargin,
    "q_set_except" ->
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_nationkey < 20
        |EXCEPT
        |SELECT s_nationkey FROM supplier WHERE s_nationkey >= 5
        |ORDER BY nationkey""".stripMargin,
    "q_set_unionall" ->
      """SELECT side, nationkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey, 'cust' AS side FROM customer WHERE c_nationkey < 20
        |  UNION ALL
        |  SELECT s_nationkey, 'supp' FROM supplier WHERE s_nationkey >= 5) t
        |GROUP BY side, nationkey ORDER BY side, nationkey""".stripMargin,
    "q_set_union_byname" ->
      """SELECT side, count(*) AS n, count(DISTINCT nationkey) AS nd FROM (
        |  SELECT c_nationkey AS nationkey, 'cust' AS side FROM customer
        |  UNION ALL
        |  SELECT s_nationkey, 'supp' FROM supplier) t
        |GROUP BY side ORDER BY side""".stripMargin,
    "q_agg_pivot" ->
      """SELECT c_mktsegment,
        |  count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
        |  count(*) FILTER (o_orderpriority = '2-HIGH') AS high,
        |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
        |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS unspec,
        |  count(*) FILTER (o_orderpriority = '5-LOW') AS low
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_agg_udaf" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) // count(*) AS BIGINT) AS fmean,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_collect" ->
      """SELECT c_nationkey,
        |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
        |  CAST(count(DISTINCT c_mktsegment) AS INT) AS n_seg,
        |  count(*) AS n_cust
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // percent_rank/cume_dist as exact integer ppm (see q_win_cume)
    "q_win_pctrank" ->
      """SELECT c_nationkey, c_custkey,
        |  CASE WHEN count(*) OVER p = 1 THEN CAST(0 AS BIGINT)
        |    ELSE ((rank() OVER w - 1) * 1000000) // (count(*) OVER p - 1)
        |  END AS pct_ppm,
        |  (rank() OVER w * 1000000) // (count(*) OVER p) AS cume_ppm
        |FROM customer WHERE c_custkey % 40 = 0
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal ASC, c_custkey ASC),
        |       p AS (PARTITION BY c_nationkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,
    "q_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_str_funcs" ->
      """SELECT c_custkey, upper(c_name) AS up, lower(c_name) AS lo,
        |  length(c_name) AS len, substr(c_name, 1, 8) AS pre,
        |  regexp_extract(c_name, '(\d+)', 1) AS digits,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
        |  concat_ws('|', c_mktsegment, c_name) AS tagged,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded
        |FROM customer WHERE c_custkey % 97 = 0 ORDER BY c_custkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  epoch_ms(date_trunc('month', o_orderdate)) AS month_ms,
        |  datediff('day', o_orderdate, TIMESTAMP '1995-01-01') AS days_to_95,
        |  epoch_ms(o_orderdate + INTERVAL 30 DAY) AS plus30_ms
        |FROM orders WHERE o_orderkey % 101 = 0 ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_extendedprice - 30000.0), 2) AS abs_d,
        |  CAST(ceil(l_quantity) AS BIGINT) AS ceil_q,
        |  CAST(floor(l_quantity) AS BIGINT) AS floor_q,
        |  round(sqrt(l_extendedprice), 6) AS sqrt_p,
        |  round(ln(l_extendedprice), 6) AS ln_p,
        |  round(exp(l_discount), 6) AS exp_d,
        |  round(pow(l_discount, 2), 6) AS pow_d,
        |  l_orderkey % 7 AS mod7,
        |  CAST(sign(l_discount - 0.05) AS INT) AS sgn
        |FROM lineitem WHERE l_orderkey % 997 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_case_expr" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |  WHEN o_totalprice < 150000 THEN 'mid'
        |  WHEN o_totalprice < 300000 THEN 'large' ELSE 'huge' END AS bucket,
        |  count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
        |    / len(embedding), 6) AS mean_v,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_v,
        |  round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6)
        |    AS head8_sum,
        |  CAST(len(list_filter(embedding, x -> x > 0.0)) AS INT) AS n_pos
        |FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id""".stripMargin,
    "q_explode" ->
      """SELECT CAST(pos AS INT) AS pos, round(sum(CAST(embedding[pos + 1] AS DOUBLE)), 4) AS sum_v,
        |  count(*) AS n
        |FROM embeddings, unnest(range(len(embedding))) AS t(pos)
        |WHERE vec_id < 20 GROUP BY pos ORDER BY pos""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_type,
        |  CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 6) AS avg_k,
        |  count(CASE WHEN k > 50 THEN 1 END) AS n_big
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_map_funcs" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_downsample3d" ->
      """SELECT CAST(z // 2 AS INT) AS zc, CAST(y // 2 AS INT) AS yc,
        |  CAST(x // 2 AS INT) AS xc,
        |  CAST(floor(avg(v)) AS BIGINT) AS mean_v, count(*) AS n
        |FROM (SELECT l_orderkey % 16 AS z, l_partkey % 16 AS y,
        |        l_suppkey % 16 AS x, l_quantity AS v FROM lineitem) t
        |GROUP BY zc, yc, xc ORDER BY zc, yc, xc""".stripMargin,
    "q_wavelength_hex" ->
      """SELECT wl, color, printf('%06x', color) AS hex, count(*) AS n FROM (
        |  SELECT wl, CASE
        |    WHEN wl < 460 THEN 6884094 WHEN wl < 470 THEN 4140798
        |    WHEN wl < 480 THEN 4952318 WHEN wl < 490 THEN 5887480
        |    WHEN wl < 500 THEN 6158550 WHEN wl < 520 THEN 5963448
        |    WHEN wl < 540 THEN 5832353 WHEN wl < 560 THEN 5373726
        |    WHEN wl < 565 THEN 12319489 WHEN wl < 575 THEN 15330306
        |    WHEN wl < 580 THEN 16106755 WHEN wl < 590 THEN 15962375
        |    WHEN wl < 600 THEN 15815185 WHEN wl < 620 THEN 15733278
        |    ELSE 15728720 END AS color
        |  FROM (SELECT CAST(380 + (p_partkey % 40) * 10 AS INT) AS wl FROM part) w) t
        |GROUP BY wl, color, hex ORDER BY wl""".stripMargin,
    "q_partition_roundrobin" ->
      """SELECT pid, count(*) AS n, min(rn) AS min_rn, max(rn) AS max_rn FROM (
        |  SELECT (row_number() OVER (ORDER BY o_orderkey) - 1) AS rn,
        |         (row_number() OVER (ORDER BY o_orderkey) - 1) % 8 AS pid
        |  FROM orders) t
        |GROUP BY pid ORDER BY pid""".stripMargin,
    "q_zorder_rank" ->
      """SELECT z, count(*) AS n FROM (
        |  SELECT row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1 AS z
        |  FROM lineitem) t
        |GROUP BY z ORDER BY z""".stripMargin
  )
}
