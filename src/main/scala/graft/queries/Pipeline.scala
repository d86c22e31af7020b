package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions._

/** Training-data pipeline orchestration operators (beyond dedup /
  * similarity / text analysis): the steps that turn a cleaned corpus
  * into training batches.
  *
  *  - deterministic stratified sampling (data mixing): md5-derived
  *    per-doc percentile vs a per-stratum rate — reproducible across
  *    engines and runs, no RNG state, embarrassingly map-side;
  *  - sequence packing: greedy token-budget binning per (lang, shard)
  *    via a partitioned running sum — the batch-construction step;
  *  - benchmark decontamination: n-gram overlap between the corpus and
  *    a held-out eval set, bloom-prefiltered map-side before the exact
  *    confirm join (the GPT-3-style 13-gram method, n=3 here because
  *    the synthetic docs are short).
  *
  * All three are single-shuffle (or shuffle-free) plans keyed on
  * columns that exist at any scale.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic percentile in [0, 100) from a column's string form.
    * The DuckDB oracle reproduces it exactly via md5. */
  private def pct(c: Column): Column = hash28(c.cast("string")) % 100

  /** Per-language sampling rates (percent) — a data-mixing recipe. */
  private val RATES = Seq("en" -> 50, "de" -> 25, "fr" -> 25, "es" -> 10)
  private val DEFAULT_RATE = 100

  /** Stratified sampling profile: deterministic hash-percentile keep
    * decision per doc, aggregated per stratum. Map-side decision + one
    * partial-aggregated shuffle; at 100 TB the same plan emits the
    * sampled rows instead of the profile. */
  val qSampleStratified: Q = (s, d) => {
    val rate = RATES.foldRight(lit(DEFAULT_RATE): Column) {
      case ((lang, r), rest) => when(col("lang") === lang, lit(r)).otherwise(rest)
    }
    Tables.documents(s, d)
      .withColumn("keep", (pct(col("doc_id")) < rate).cast("int"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum("keep").cast("long").as("n_kept"))
      .withColumn("ratio", round(col("n_kept") / col("n_total"), 4))
      .orderBy("lang")
  }

  /** JSONL ingestion with poison-line tolerance — the interchange
    * format a training-data pipeline eats at 100 TB, where some shard
    * ALWAYS contains a truncated line. The query round-trips
    * `documents` through real newline-delimited JSON text files
    * (`to_json` escapes embedded newlines — one record per line),
    * deterministically corrupting every 37th record by dropping its
    * closing brace, then reads them back with `spark.read.json` in
    * PERMISSIVE mode with a corrupt-record column: malformed lines
    * land in `_corrupt_record` with the typed fields null instead of
    * failing the job. Output: per-lang parsed counts and char sums
    * plus a `_corrupt` bucket counting the poison lines.
    *
    * Scale: export and read are parallel line-oriented scans;
    * PERMISSIVE parsing is map-side; the rollup is one
    * partial-aggregated shuffle. The oracle predicts the result from
    * the parquet table alone (the corruption rule is deterministic),
    * so what the hash gates is the JSONL round trip itself — writer
    * escaping, reader schema projection, and corrupt-line capture.
    * Files are scoped to the invocation; the result is localized
    * before the scratch dir is removed. */
  val qSourceJsonl: Q = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_").toString
    try {
      val line = to_json(struct(col("doc_id"), col("lang"), col("n_chars"), col("text")))
      Tables.documents(s, d)
        .withColumn("line", line)
        .select(when(col("doc_id") % 37 === 0,
            expr("substring(line, 1, length(line) - 1)"))
          .otherwise(col("line")).as("value"))
        .write.mode("overwrite").text(tmp)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
      val out = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(tmp)
        .groupBy(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
          .otherwise(col("lang")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("_corrupt_record").isNull, col("n_chars")))
            .cast("long").as("chars"))
        .orderBy("bucket")
      val rows = java.util.Arrays.asList(out.collect(): _*)
      s.createDataFrame(rows, out.schema)
    } finally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      del(new java.io.File(tmp))
    }
  }

  /** Per-language selection weights for the priority sample. */
  private val PRI_WEIGHTS = Seq("en" -> 4, "de" -> 2, "fr" -> 2)
  private val PRI_DEFAULT_W = 1
  private val PRI_K = 40

  /** Deterministic weighted priority sample (the A-Res/priority-
    * sampling shape, integer-exact): each doc draws priority
    * hash28(doc_id) div weight — a higher weight shrinks the priority,
    * so the global K LOWEST priorities are a weighted sample without
    * replacement, reproducible across engines and runs. The global
    * top-K is a distributed TakeOrdered (per-partition K-heaps, no full
    * sort) at any scale. */
  val qSamplePriority: Q = (s, d) => {
    val w = PRI_WEIGHTS.foldRight(lit(PRI_DEFAULT_W): Column) {
      case ((lang, wt), rest) => when(col("lang") === lang, lit(wt)).otherwise(rest)
    }
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        // hash28 < 2^28 and w > 0, so floor(h / w) is exact integer division
        floor(hash28(col("doc_id").cast("string")) / w).cast("long").as("pri"))
      .orderBy(col("pri").asc, col("doc_id").asc)
      .limit(PRI_K)
  }

  /** Per-source token budgets for the mixing schedule. */
  private val MIX_BUDGETS = Seq("src0" -> 600, "src1" -> 450)
  private val MIX_DEFAULT_BUDGET = 300

  /** Token-budget source mixing: take each source's documents in
    * doc_id order until the source's token budget is exhausted — the
    * step that turns per-source weights into an actual token-bounded
    * mix. One window partitioned by source (no global sort at any
    * scale: sources partition the work), then a partial-agg profile;
    * at 100 TB the same plan emits the kept rows via `where(keep)`. */
  val qMixBudget: Q = (s, d) => {
    val budget = MIX_BUDGETS.foldRight(lit(MIX_DEFAULT_BUDGET): Column) {
      case ((src, b), rest) => when(col("source") === src, lit(b)).otherwise(rest)
    }
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), size(tokens(col("text"))).as("n_tok"))
      .withColumn("running", sum("n_tok").over(w))
      .withColumn("keep", (col("running") <= budget).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum("keep").as("n_kept"),
        sum(col("keep") * col("n_tok")).cast("long").as("tok_used"),
        first(budget).cast("long").as("budget"))
      .orderBy("source")
  }

  /** Temperature-based mixture sampling (the multilingual-training
    * recipe of mBERT/XLM-R: sample language l with p_l ∝ q_l^α,
    * α < 1 upsamples low-resource languages). α = 0.5 is chosen so the
    * per-language keep rate reduces to 0.5·√(n_max/n_l), capped at 1 —
    * every operation (integer counts, double divide, sqrt, multiply)
    * is IEEE-correctly-rounded, so Spark and DuckDB agree BIT-FOR-BIT
    * with no epsilon anywhere (a pow(q, 0.3) formulation would not:
    * pow is not correctly rounded and may differ across libm builds).
    * The keep decision reuses the deterministic md5 percentile. Plan:
    * one K-row counts aggregate broadcast back, then a map-side gate +
    * partial-agg profile — at 100 TB the same plan emits kept rows
    * via `where(keep)`. */
  val qMixTemperature: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(max("n_l").as("n_max"))))
      .withColumn("rate", least(lit(1.0),
        lit(0.5) * sqrt(col("n_max").cast("double") / col("n_l").cast("double"))))
    docs.join(broadcast(rates), "lang")
      .withColumn("keep", (pct(col("doc_id")) < col("rate") * 100).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum("keep").as("n_kept"),
        round(first("rate"), 4).as("rate"))
      .orderBy("lang")
  }

  private val UNIMAX_E = 2L // per-language epoch cap

  /** UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling", arXiv:2304.09151):
    * given a total token budget N and an epoch cap E, serve every
    * language at most E epochs and split the remaining budget
    * uniformly — the water-filling allocation alloc_l = min(E·c_l, θ)
    * with θ chosen so the allocations exhaust N.
    *
    * All arithmetic is integer-exact (token counts, `div`), so Spark
    * and DuckDB agree bit-for-bit: with languages sorted ascending by
    * cap, language i saturates iff cap_i·(K−i+1) ≤ N − S_{i−1} (the
    * prefix cumulative sum) — the standard exchange argument shows
    * saturation is a prefix property under this exact integer test —
    * and every non-saturated language receives the common share
    * (N − S_sat) div (K − n_sat).
    *
    * Plan shape at 100 TB: one partial-aggregated shuffle collapses
    * the corpus to K per-language rows (map-side combine; K = #langs,
    * dozens at most); the window and the totals cross-join run over
    * that K-row table, so nothing downstream of the first aggregate
    * scales with the corpus. The same plan gates the actual emit via
    * a broadcast of the K-row allocation. */
  /** Two-phase annealing data schedule — the final-phase quality
    * upweighting used by recent open recipes (MiniCPM's WSD annealing
    * stage, Llama 3's final-stage mix adjustment; OLMo's "midtraining"
    * swap): training ends on a restricted high-quality slice while
    * the main phase sees the whole corpus. The quality proxy here is
    * doc length (n_chars — pluggable; any per-doc integer score slots
    * in), and the anneal pool is the top quintile by proxy: the cut is
    * the smallest value v with cumulative doc count ≥ 4/5·N over the
    * ASCENDING value histogram, ties co-staged into main (the
    * curriculum rule — no arbitrary tie split). Per (source, phase)
    * audit: docs + exact char volume.
    *
    * Degenerate case (documented, by design): if the single largest
    * n_chars value alone crosses the 4/5 cumulative boundary, the cut
    * equals the max value and NO doc is strictly above it — the
    * schedule collapses to one "main" phase with an empty anneal
    * pool. This is the correct reading of the ties-to-main rule (the
    * tie at the cut is co-staged into main even when the tie IS the
    * top bucket); consumers detect it by the absence of any
    * phase='anneal' row and should fall back to a single-phase run.
    *
    * Shape: the corpus reduces to a value-bounded histogram (distinct
    * n_chars values — independent of corpus row count) before the
    * cumulative window (partition lit(0), bounded rows); the 1-row cut
    * and N attach by broadcast cross-join (scalar-attach pattern);
    * phase labeling is map-side; one (source, phase) aggregate. No
    * corpus sort, no corpus-keyed window — q_quality_buckets' posture
    * applied to schedule construction. */
  val qMixAnneal: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
    val tot = docs.agg(count(lit(1)).as("n"))
    val cum = hist.withColumn("cm",
      sum("c").over(boundedWindow(col("n_chars").asc)
        .rowsBetween(Window.unboundedPreceding, 0)))
    val cut = cum.crossJoin(broadcast(tot))
      .where(col("cm") * 5 >= col("n") * 4)
      .agg(min("n_chars").as("v"))
    docs.crossJoin(broadcast(cut))
      .withColumn("phase",
        when(col("n_chars") > col("v"), lit("anneal")).otherwise(lit("main")))
      .groupBy("source", "phase")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      .orderBy("source", "phase")
  }

  val qMixUnimax: Q = (s, d) => {
    val perLang = Tables.documents(s, d)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang").agg(sum("n_tok").as("c"))
    Scoped.share(perLang)(unimaxAlloc(perLang))
  }

  /** The K-row water-fill over a (lang, c) per-language token-count
    * table — factored out so UnimaxSpec can drive it with synthetic
    * inputs and check the allocation invariants directly. Budget =
    * 3/2 of corpus tokens: low-resource languages saturate at the
    * E-epoch cap, the head language is truncated. */
  private[graft] def unimaxAlloc(perLangCounts: DataFrame): DataFrame = {
    val perLang = perLangCounts.withColumn("cap", col("c") * UNIMAX_E)
    val tot = perLang.agg(sum("c").as("t"), count(lit(1)).as("k"))
      .withColumn("n", expr("t * 3 div 2"))
    val ord = Window.orderBy(col("cap").asc, col("lang").asc)
    val ranked = perLang.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(ord))
      .withColumn("s_prev", coalesce(sum("cap").over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("saturated",
        (col("cap") * (col("k") - col("i") + 1) <= col("n") - col("s_prev")).cast("int"))
    val sat = ranked.agg(
      sum(when(col("saturated") === 1, col("cap")).otherwise(0L)).as("s_sat"),
      sum(col("saturated").cast("long")).as("n_sat"))
    ranked.crossJoin(broadcast(sat))
      .withColumn("alloc", when(col("saturated") === 1, col("cap"))
        .otherwise(expr("(n - s_sat) div (k - n_sat)")))
      .select(col("lang"), col("c"), col("cap"), col("saturated"),
        col("alloc"), round(col("alloc").cast("double") / col("c"), 6).as("epochs"))
      .orderBy("lang")
  }

  private val TENS_V = 256   // vocab size (top-V tokens by corpus freq)
  private val TENS_SEQ = 128 // fixed sequence length

  /** Tensorization — the last-mile step that turns curated text into
    * training tensors: map tokens to ids from a corpus-derived vocab
    * (top-[[TENS_V]] by frequency, ids by rank, ties → token order,
    * OOV → 0), frame each doc to a fixed [[TENS_SEQ]]-length sequence
    * (truncate long docs, right-pad short ones), and report the
    * per-language framing profile plus an order-independent integer
    * checksum of the id streams (Σ over docs of Σ id·(pos+1),
    * position-weighted so any id permutation changes it — the
    * cheap whole-output integrity check a tensor-writer emits).
    *
    * Shape: the vocab is one map-side-combined partial agg + a
    * TakeOrdered of V rows, broadcast back (fixed-size model, the
    * [[Curation.qSelectDsir]] posture); encode + frame + checksum are
    * pure map-side array ops; the profile is one partial-agg shuffle
    * of K language rows. Nothing but the vocab agg scales with the
    * corpus, and its shuffle carries ≤ |vocab| rows per task. */
  val qTensorize: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
    val vocab = docs.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc).limit(TENS_V)
      .withColumn("id", row_number().over(
        boundedWindow(col("freq").desc, col("tok").asc)).cast("long"))
      .select("tok", "id")
    val enc = docs.crossJoin(broadcast(vocab.agg(
        map_from_arrays(collect_list("tok"), collect_list("id")).as("vm"))))
      .withColumn("ids", expr(
        s"transform(slice(w, 1, $TENS_SEQ), t -> coalesce(element_at(vm, t), 0L))"))
      .withColumn("n_tok", size(col("w")).cast("long"))
    enc.select(col("lang"), col("n_tok"),
        when(col("n_tok") > TENS_SEQ, 1L).otherwise(0L).as("trunc"),
        (lit(TENS_SEQ) - least(col("n_tok"), lit(TENS_SEQ.toLong))).as("pad"),
        expr("aggregate(ids, struct(0L AS s, 1L AS p), " +
          "(acc, x) -> struct(acc.s + x * acc.p, acc.p + 1L), acc -> acc.s)").as("ck"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"),
        sum("trunc").as("n_trunc_docs"), sum("pad").as("pad_total"),
        sum("ck").as("ids_checksum"))
      .orderBy("lang")
  }

  private val PACK_BUDGET = 512 // tokens per packed sequence
  private val PACK_SHARDS = 8

  /** Sequence packing: contiguous greedy binning of docs into
    * token-budget sequences. The window partitions by (lang, shard) so
    * no global sort exists at any scale — shard count grows with the
    * cluster; each doc's sequence id is the budget-bin of its starting
    * offset in the running token count. */
  val qPackSequences: Q = (s, d) => {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .withColumn("shard", (col("doc_id") % PACK_SHARDS).cast("int"))
      .withColumn("n_tok", size(tokens(col("text"))))
      .withColumn("running", sum("n_tok").over(w))
      .withColumn("seq_id",
        floor((col("running") - col("n_tok")) / lit(PACK_BUDGET.toDouble)).cast("long"))
      .groupBy("lang", "shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").cast("long").as("n_tok"))
      .orderBy("lang", "shard", "seq_id")
  }

  private val EPOCH_SHARDS = 4
  private val EPOCH_HEAD = 3

  /** Deterministic per-epoch shuffle order — the data-loader property
    * that a training run is REPRODUCIBLE and each epoch sees a
    * different permutation: a doc's position within its shard at epoch
    * e ranks by hash28("epoch<e>_<doc_id>") (seeded per epoch, so
    * epochs permute independently; no RNG state anywhere). The window
    * partitions by (epoch, shard) — shards scale with the cluster, no
    * global sort. Output: the first EPOCH_HEAD docs of every (epoch,
    * shard) stream for two epochs, enough for the oracle to pin both
    * permutations. */
  val qEpochShuffle: Q = (s, d) => {
    val key = hash28(concat(lit("epoch"), col("epoch").cast("string"),
      lit("_"), col("doc_id").cast("string")))
    val w = Window.partitionBy("epoch", "shard").orderBy(key.asc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % EPOCH_SHARDS).cast("int").as("shard"),
        explode(array(lit(0), lit(1))).as("epoch"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= EPOCH_HEAD)
      .select("epoch", "shard", "rn", "doc_id")
      .orderBy("epoch", "shard", "rn")
  }

  private val BATCH_SIZE = 8 // docs per padded batch

  /** Length-grouped batching (the dynamic-batching / "bucketing by
    * length" step every padded-batch trainer runs): within each
    * (lang, shard), docs sorted by token count form batches of
    * BATCH_SIZE, so each batch pads to a NEAR-UNIFORM length instead
    * of its longest straggler. Output compares the exact integer
    * padding waste (Σ batch_max·|batch| − Σ len) of length-sorted
    * batches against naive arrival-order (doc_id) batches, per
    * language — the % of padded-token compute the sort saves.
    *
    * Scale: both batchings are windows partitioned by (lang, shard) —
    * shard count grows with the cluster, no global sort anywhere; all
    * arithmetic integer-exact until one final rounded division. */
  val qPackLenGrouped: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        (col("doc_id") % PACK_SHARDS).cast("int").as("shard"),
        size(tokens(col("text"))).as("n_tok"))
    def padOf(order: Column*): DataFrame = {
      val w = Window.partitionBy("lang", "shard").orderBy(order: _*)
      base
        .withColumn("bid", floor((row_number().over(w) - 1) / BATCH_SIZE))
        .groupBy("lang", "shard", "bid")
        .agg((max("n_tok") * count(lit(1)) - sum("n_tok")).as("pad"),
          count(lit(1)).as("n_docs"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_batches"), sum("pad").cast("long").as("pad"))
    }
    val sorted = padOf(col("n_tok").asc, col("doc_id").asc)
      .withColumnRenamed("pad", "pad_sorted")
    val naive = padOf(col("doc_id").asc)
      .select(col("lang").as("nlang"), col("pad").as("pad_naive"))
    sorted.join(naive, col("lang") === col("nlang"))
      .select(col("lang"), col("n_batches"), col("pad_sorted"), col("pad_naive"),
        // degenerate guard: a language whose every naive batch has
        // uniform lengths has pad_naive=0 — the ratio is undefined, and
        // an unguarded divide yields NaN here but NULL in DuckDB (a
        // cross-engine hash split); both engines agree on NULL
        when(col("pad_naive") > 0,
          round(lit(1.0) - col("pad_sorted").cast("double") / col("pad_naive"), 4))
          .otherwise(lit(null).cast("double")).as("saving_frac"))
      .orderBy("lang")
  }

  /** DoReMi-style excess-loss domain reweighting (Xie et al. 2023,
    * arXiv:2305.10429): upweight the domains a reference model finds
    * HARD — the complement of size-based temperature mixing (which
    * only sees counts). The full DoReMi alternates proxy-model updates
    * with multiplicative weight steps; the ENGINE-side operator is the
    * reweighting pass itself, computed here in one shot from a static
    * loss proxy (the corpus-trained unigram surprise of q_quality_lm —
    * no external model artifact): domain loss = mean token surprise,
    * excess = loss − min domain loss, weight ∝ exp(η·excess),
    * normalized.
    *
    * Determinism: per-token surprise is the established floor(·10⁶)
    * exact-long machinery; domain loss is one correctly-rounded divide
    * of exact longs; exp is computed once per DOMAIN (K values) and
    * floored to 10⁻⁶ before the exact-long normalization — the same
    * risk profile as the accepted ln-based queries. Scale (round 8):
    * one map-side-combined pass to per-(lang, tok) multiplicities,
    * then a vocab-sized join bounded at ≤ #langs rows per token —
    * no corpus-row shuffle, no skew possible anywhere (the Zipf head
    * collapses in partial aggregation); everything after the per-lang
    * agg is K rows. The round-7 (tok)-partitioned window put the hot
    * token's group in one un-splittable WindowExec task. */
  val qMixDoremi: Q = (s, d) => {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    // The output is per-DOMAIN, so no per-row (or even per-doc) attach
    // is needed: compress to per-(lang, tok) multiplicities in one
    // map-side-combined pass (the Zipf head collapses per input task),
    // derive vocab counts as the sum over domains — no second corpus
    // scan — and join the two VOCAB-sized tables on tok, where vl
    // carries ≤ #langs rows per token and vocab exactly one: bounded
    // per key by construction, no skew possible. Σ n·surp ≡ Σ surp
    // over occurrences in exact longs. n_docs (distinct docs per lang
    // among docs with ≥1 token) rides a text-light second aggregation
    // joined on the K-row result.
    val vl = tk.groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val vocab = vl.groupBy("tok").agg(sum("n").cast("long").as("c"))
    val nd = Tables.documents(s, d)
      .where(size(tokens(col("text"))) > 0)
      .groupBy("lang").agg(countDistinct("doc_id").as("n_docs"))
    val perLang = vl.join(vocab.hint("shuffle_hash"), "tok")
      .crossJoin(broadcast(vocab.agg(sum("c").cast("long").as("total"))))
      .withColumn("surp",
        floor(-log(col("c").cast("double") / col("total").cast("double")) * 1e6)
          .cast("long"))
      .groupBy("lang")
      // Overflow envelope (round 9): n·surp and its per-DOMAIN sum are
      // corpus-scale — at 10¹² tokens a hot token's n alone can reach
      // ~10¹¹ and surp ≤ ln(10¹²)·10⁶ ≈ 2.8·10⁷, so both the product
      // and the domain sum (≤ 2.8·10¹⁹) exceed int64. Widened to
      // decimal(38,0): exact, order-insensitive, 10³⁸ headroom, and
      // the decimal arithmetic touches only the VOCAB-sized table —
      // never the corpus rows. (DuckDB's sum(BIGINT) is already
      // HUGEINT, so the oracle side was never at risk; values are
      // identical, only Spark's accumulator width changed.)
      .agg(sum("n").as("n_tok"),
        sum(col("n").cast("decimal(20,0)") * col("surp")).as("ssum"))
      .join(nd, "lang")
      .withColumn("loss",
        col("ssum").cast("double") / (col("n_tok").cast("double") * lit(1e6)))
    val w = perLang
      .crossJoin(broadcast(perLang.agg(min("loss").as("lmin"))))
      .withColumn("excess", col("loss") - col("lmin"))
      .withColumn("ew", floor(exp(col("excess")) * 1e6).cast("long"))
    // ew ≤ e^excess·10⁶ where excess is bounded by the max domain-loss
    // spread (≤ ln of the vocab-size ratio, ~28 nats worst case →
    // ew ≤ 1.4·10¹⁸, inside int64 with 6× headroom); the TOTAL across
    // K domains is not, so the normalizer sums decimal (K rows).
    w.crossJoin(broadcast(w.agg(sum(col("ew").cast("decimal(38,0)")).as("ewtot"))))
      .select(col("lang"), col("n_docs"), col("n_tok"),
        round(col("loss"), 4).as("loss"),
        round(col("excess"), 4).as("excess"),
        round(col("ew").cast("double") / col("ewtot").cast("double"), 4).as("weight"))
      .orderBy("lang")
  }

  private val DECON_MOD = 11  // doc_id % 11 == 0 plays the eval set
  private val DECON_MIN_OVERLAP = 5

  /** Benchmark decontamination: training docs sharing ≥ 5 word-3-grams
    * with the held-out eval split. The eval side is tiny by nature, so
    * its distinct shingles broadcast; a driver-built bloom filter
    * (1% fpp) additionally drops almost every clean shingle MAP-SIDE
    * before the exact confirm semi-join — false positives die in the
    * join, so the result is exact regardless of fpp. At 100 TB the
    * bloom is what keeps join input proportional to candidate shingles,
    * not the corpus.
    *
    * The split filter is PUSHED INTO TWO SEPARATE SCANS (eval 1/11 +
    * train 10/11 = exactly one corpus tokenize total) instead of
    * sharing one cached full-corpus shingle explosion: only the tiny
    * eval side is ever cached — a corpus-sized exploded cache can't
    * exist at 100 TB, and locally its materialization write was most
    * of this query's cost. */
  val qDecontaminate: Q = (s, d) => {
    def shingleOf(df: DataFrame): DataFrame = df
      .withColumn("w", tokens(col("text")))
      .select(col("doc_id"), col("lang"), explode(shingles(col("w"), 3)).as("s"))
    val docs = Tables.documents(s, d)
    val bench = shingleOf(docs.where(col("doc_id") % DECON_MOD === 0))
      .select("s").distinct()
    // the body runs driver actions (the eval-side count and the bloom
    // build); share caches `bench` before the body, so they read the
    // scope instead of recomputing the tokenize/shingle chain
    Scoped.share(bench) {
      val train = shingleOf(docs.where(col("doc_id") % DECON_MOD =!= 0))
      // Size the bloom from the data, not a constant: an undersized
      // filter silently degrades its fpp, which weakens the map-side
      // prune — the whole point of the bloom at 100 TB. The count is one
      // extra action on the (tiny, cached) eval side.
      val nBench = bench.count().max(1L)
      val bf = bench.stat.bloomFilter("s", nBench, 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      // native codegen'd probe — no udf on the widest stage
      train.where(graft.functions.BloomExpressions.mightContain(col("s"), bfB))
        .join(bench, Seq("s"), "left_semi") // exact confirm
        .groupBy("doc_id", "lang").agg(count(lit(1)).as("n_over"))
        .where(col("n_over") >= DECON_MIN_OVERLAP)
        .select("doc_id", "lang", "n_over")
        .orderBy("doc_id")
    }
  }

  // ---- End-to-end corpus preparation -------------------------------
  private val QUAL_MIN_TOK = 20      // quality gate: ≥ 20 tokens
  private val QUAL_MIN_ALPHA = 0.81  // and ≥ 81% alphabetic characters
  private val PIPE_MIN_AGREE = 14    // near-exact dedup: est. Jaccard ≥ 14/16
  private val PIPE_SHINGLE_N = 4     // decon on 4-grams (3-grams hit template
                                     // boilerplate: at sf0.1 they flag 100%)
  private val PIPE_MIN_OVERLAP = 5

  /** The full corpus-preparation pipeline as ONE composed plan — the
    * query a training-data user actually runs, chaining the inventory's
    * building blocks end-to-end:
    *
    *   1. quality gate (token count + alpha ratio, map-side);
    *   2. near-dup cluster keeper over the survivors (MinHash
    *      bucket-star candidates → signature-verified edges → min-label
    *      components; keep roots) at a stricter near-exact threshold
    *      than q_dedup_cluster;
    *   3. benchmark decontamination vs the held-out eval split
    *      (4-gram overlap ≥ 5, bloom-prefiltered + exact confirm);
    *      eval docs themselves leave the corpus here too;
    *   4. deterministic stratified sampling (per-lang rates);
    *   5. sequence packing; output = per-lang corpus profile
    *      (docs kept, packed sequences, total tokens).
    *
    * Every stage is the same shuffle-bounded shape as its standalone
    * query, so the 100 TB arguments carry over unchanged; the oracle
    * replays all five stages in one recursive-CTE SQL statement. The
    * corpus universe is the doc_id % 5 sample, mirroring the dedup
    * inventory (bounds the oracle's recursive CTE, not the plan). */
  val qPipelineCorpus: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val base = docs.where(col("doc_id") % 5 === 0)
      .withColumn("w", tokens(col("text")))
    val qual = base.where(size(col("w")) >= QUAL_MIN_TOK &&
      length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double")
        / length(col("text")) >= QUAL_MIN_ALPHA)
    val bench = docs.where(col("doc_id") % DECON_MOD === 0)
      .select(explode(shingles(tokens(col("text")), PIPE_SHINGLE_N)).as("s"))
      .distinct()
    // the fixpoint and the bloom build are driver actions against
    // qual/bench; share caches both before the body (see
    // qDecontaminate), so no action rebuilds the tokenize/shingle chains.
    Scoped.share(qual, bench) {
      // stage 3's bloom build (two actions on the tiny cached eval
      // side) is independent of stage 2's cluster fixpoint — run it on
      // a concurrent driver thread so its jobs fill the fixpoint's
      // driver-synchronization gaps
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val bloomF = Future {
        val nBench = bench.count().max(1L)
        s.sparkContext.broadcast(bench.stat.bloomFilter("s", nBench, 0.01))
      }
      // If anything below throws BEFORE the bloom is consumed (e.g. the
      // fixpoint's convergence require), reap the concurrent broadcast
      // instead of leaking it into the shared session; the finite await
      // also means a wedged bloom job fails the query instead of
      // hanging it forever. On the success path the broadcast must
      // OUTLIVE this scope — the returned plan probes it lazily — so
      // its cleanup belongs to ContextCleaner via GC, not to us.
      def reapBloom(): Unit =
        try Await.result(bloomF, 1.minute).destroy() catch { case _: Throwable => () }
      val kept = try {
        // stage 2: labels are localCheckpoint-materialized inside, so the
        // returned plan is self-contained (see Dedup.clusterLabelsOf)
        val labels = Dedup.clusterLabelsOf(s, qual, PIPE_MIN_AGREE)
        qual.join(
          labels.where(col("lbl") === col("id")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_semi")
      } catch { case t: Throwable => reapBloom(); throw t }
      // stage 3: bloom map-side prune + exact confirm (fpp-irrelevant)
      val bfB = Await.result(bloomF, 10.minutes)
      val contam = kept
        .select(col("doc_id"), explode(shingles(col("w"), PIPE_SHINGLE_N)).as("s"))
        // native codegen'd probe — no udf on the widest stage
        .where(graft.functions.BloomExpressions.mightContain(col("s"), bfB))
        .join(bench, Seq("s"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_over"))
        .where(col("n_over") >= PIPE_MIN_OVERLAP)
        .select("doc_id")
      val clean = kept.where(col("doc_id") % DECON_MOD =!= 0)
        .join(contam, Seq("doc_id"), "left_anti")
      // stage 4: deterministic stratified sample
      val rate = RATES.foldRight(lit(DEFAULT_RATE): Column) {
        case ((lang, r), rest) => when(col("lang") === lang, lit(r)).otherwise(rest)
      }
      val samp = clean.where(pct(col("doc_id")) < rate)
        .select(col("lang"), col("doc_id"), size(col("w")).as("n_tok"))
      // stage 5: pack + per-lang profile
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      samp.withColumn("shard", (col("doc_id") % PACK_SHARDS).cast("int"))
        .withColumn("running", sum("n_tok").over(w))
        .withColumn("seq_id",
          floor((col("running") - col("n_tok")) / lit(PACK_BUDGET.toDouble)).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("shard"), col("seq_id")).as("n_seq"),
          sum("n_tok").cast("long").as("n_tok"))
        .orderBy("lang")
    }
  }

  // ---- RAG sliding-window chunking ------------------------------------

  private val CHUNK_W = 24      // tokens per chunk
  private val CHUNK_S = 16      // stride (overlap = W - S = 8)
  private val CHUNK_DOC_MOD = 5 // sampled provenance dump

  /** Sliding-window chunking (the RAG / long-context ingestion step:
    * fixed token windows with overlap, each chunk carrying provenance
    * and a content fingerprint so a retrieval index or a downstream
    * near-dup pass can key on it). Chunks start at 0, S, 2S, … while
    * the start is inside the document; the final chunk is the natural
    * remainder (shorter than W), matching the LangChain/LlamaIndex
    * convention.
    *
    * Scale shape: ZERO shuffles — the chunk explosion is a map-side
    * `posexplode(transform(sequence(...)))` over each document's own
    * token array, so the operator scales by adding executors; the only
    * exchange in the plan is the output-order sort of the sampled dump.
    * At 100 TB the same plan emits (doc_id, chunk_idx, text, fp) as the
    * corpus's chunk table, partitioned exactly like its input. */
  val qChunkSliding: Q = (s, d) => {
    Tables.documents(s, d)
      .where(col("doc_id") % CHUNK_DOC_MOD === 0)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .where(col("n") > 0)
      .select(col("doc_id"), col("n"),
        posexplode(expr(s"transform(sequence(0, n - 1, $CHUNK_S), st -> " +
          s"concat_ws(' ', slice(w, st + 1, $CHUNK_W)))")))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        (col("pos") * CHUNK_S).cast("long").as("start_pos"),
        least(lit(CHUNK_W).cast("long"),
          col("n").cast("long") - col("pos") * CHUNK_S).as("chunk_len"),
        substring(md5(col("col")), 1, 8).as("fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val CUR_Q = 4      // difficulty buckets (competence stages)
  private val CUR_SHARDS = 4 // data-loader shards (grows with the cluster)
  private val CUR_HEAD = 2   // schedule head rows pinned per (bucket, shard)

  /** Curriculum-ordered training schedule (Bengio et al. 2009, ICML
    * "Curriculum Learning"; the block form of Platanios et al. 2019's
    * competence-based curricula): docs are staged easy→hard by a
    * difficulty signal (token count — the standard LM length
    * curriculum), and WITHIN a stage the order is a seeded
    * deterministic shuffle (hash28("cur_<doc_id>")) so each stage is
    * i.i.d. internally, reproducible across runs and engines.
    *
    * Bucketing is the scalable exact-quantile form, not a global
    * ntile: difficulty has bounded distinct values (integer token
    * counts; a continuous signal would be floored to a grain first),
    * so the quantile cuts come from a partial-aggregated histogram —
    * bucket(v) = min(Q−1, ⌊docs_strictly_easier(v)·Q / N⌋), computed
    * with integer arithmetic on the BOUNDED histogram and joined back
    * as a broadcast. Equal difficulties land in one bucket by
    * construction (no arbitrary tie split), which is what makes the
    * assignment engine-independent.
    *
    * Scale shape: one map-side-combined histogram pass; windows
    * partition by (bucket, shard) — shard count scales with the
    * cluster, so no stage becomes one giant partition; the schedule
    * is read round-robin across shards per stage, the data-loader
    * convention. Output pins the first [[CUR_HEAD]] docs of every
    * (bucket, shard) stream — enough for the oracle to verify both
    * the bucketing and both permutation seeds. */
  val qCurriculumOrder: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % CUR_SHARDS).cast("int").as("shard"),
        size(tokens(col("text"))).as("n_tok"))
    val wcum = Window.orderBy("n_tok")
      .rowsBetween(Window.unboundedPreceding, -1)
    // bounded table (distinct integer difficulties), so the global
    // windows here cost nothing at any corpus scale
    val cuts = base.groupBy("n_tok").agg(count(lit(1)).as("c"))
      .withColumn("cum_before", coalesce(sum("c").over(wcum), lit(0L)))
      .withColumn("total", sum("c").over(Window.partitionBy()))
      .select(col("n_tok").as("ct_tok"),
        expr(s"least(CAST(${CUR_Q - 1} AS BIGINT), (cum_before * $CUR_Q) div total)")
          .as("bucket"))
    val key = hash28(concat(lit("cur_"), col("doc_id").cast("string")))
    val w = Window.partitionBy("bucket", "shard").orderBy(key.asc, col("doc_id").asc)
    base.join(broadcast(cuts), col("n_tok") === col("ct_tok"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= CUR_HEAD)
      .select(col("bucket"), col("shard"), col("rn"), col("doc_id"),
        col("n_tok").cast("long").as("n_tok"))
      .orderBy("bucket", "shard", "rn")
  }

  private val DIFF_DROP = 10            // pct < 10 → removed in v2
  private val DIFF_EDIT = 20            // 10 ≤ pct < 20 → text revised
  private val DIFF_ADD = 90             // pct ≥ 90 → spawns one added doc
  private val DIFF_OFFSET = 1000000000L // added-doc id namespace

  /** Snapshot diff — the dataset-versioning reconciliation every
    * periodically-recrawled corpus needs (the Delta/Iceberg
    * change-audit shape): given snapshots v1 and v2 keyed by doc_id,
    * classify every doc as added / removed / changed / unchanged by
    * comparing content CHECKSUMS (md5 here), and report the audit a
    * release ships — per (lang, status): doc count and the exact char
    * volume on each side. v2 is simulated deterministically from v1
    * (hash-percentile: drop <[[DIFF_DROP]], revise <[[DIFF_EDIT]],
    * spawn an added doc ≥[[DIFF_ADD]] under [[DIFF_OFFSET]]) so both
    * engines derive the identical second snapshot with no extra
    * fixture.
    *
    * Scale shape: checksums are map-side; the diff is ONE full outer
    * join hash-partitioned on the unique doc_id — co-partitioned,
    * skew-free by construction; the audit is a partial-aggregated
    * rollup to ≤ |langs|·4 rows. At 100 TB the same plan emits the
    * per-doc change feed instead of the rollup. */
  val qDiffSnapshot: Q = (s, d) => {
    val v1 = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val pctOf = hash28(concat(lit("v2_"), col("doc_id").cast("string"))) % 100
    val kept = v1.where(pctOf >= DIFF_DROP)
      .withColumn("text",
        when(pctOf < DIFF_EDIT, concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val added = v1.where(pctOf >= DIFF_ADD)
      .select((col("doc_id") + DIFF_OFFSET).as("doc_id"), col("lang"),
        concat(lit("new "), col("text")).as("text"))
    val v2 = kept.unionByName(added)
    val l = v1.select(col("doc_id"), col("lang").as("lang1"),
      md5(col("text")).as("h1"), length(col("text")).cast("long").as("chars1"))
    val r = v2.select(col("doc_id"), col("lang").as("lang2"),
      md5(col("text")).as("h2"), length(col("text")).cast("long").as("chars2"))
    l.join(r, Seq("doc_id"), "full_outer")
      .select(coalesce(col("lang1"), col("lang2")).as("lang"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("chars1"), lit(0L)).as("chars1"),
        coalesce(col("chars2"), lit(0L)).as("chars2"))
      .groupBy("lang", "status")
      .agg(count(lit(1)).as("n_docs"),
        sum("chars1").cast("long").as("chars_v1"),
        sum("chars2").cast("long").as("chars_v2"))
      .orderBy("lang", "status")
  }

  private val RV_SHARDS = 8 // baseline shard count; the growth case adds one

  /** Rendezvous (highest-random-weight) shard assignment — Thaler &
    * Ravishankar 1998, the consistent-placement scheme behind cache
    * rings and shard routers: each doc goes to the shard with the
    * highest deterministic weight hash28("rv<shard>_<doc_id>"), so
    * when the fleet grows [[RV_SHARDS]]→+1 ONLY docs whose new
    * shard wins move (expected 1/(N+1) of the corpus) — versus
    * `doc_id % N` placement where N/(N+1) of all docs relocate.
    * Output per shard: population before, after, and docs that moved
    * IN — the rendezvous invariant makes moved_in provably zero for
    * every pre-existing shard, which the oracle hash pins.
    *
    * Shape: a constant-factor explode (N+1 weights per doc, computed
    * in the same task that read the doc — no shuffle), then ONE
    * map-side-combined groupBy(doc_id) where both assignments fall
    * out of two conditional max aggregates over the packed key
    * w·16+shard (w < 2²⁸ keeps the pack < 2³², argmax-with-tiebreak
    * without any window or sort), then a ≤N+1-row rollup. At 100 TB
    * the per-doc work is N hashes and the only shuffle is the
    * |docs|-row partial-aggregated groupBy. */
  val qShardRendezvous: Q = (s, d) => {
    val assigned = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(RV_SHARDS))).as("shard"))
      .withColumn("key", hash28(concat(lit("rv"), col("shard").cast("string"),
        lit("_"), col("doc_id").cast("string"))) * 16 + col("shard"))
      .groupBy("doc_id")
      .agg((max(when(col("shard") < RV_SHARDS, col("key"))) % 16).as("a8"),
        (max(col("key")) % 16).as("a9"))
    val before = assigned.groupBy(col("a8").as("shard"))
      .agg(count(lit(1)).as("n_before"))
    val after = assigned.groupBy(col("a9").as("shard"))
      .agg(count(lit(1)).as("n_after"),
        sum((col("a8") =!= col("a9")).cast("long")).as("moved_in"))
    after.join(before, Seq("shard"), "full_outer")
      .select(col("shard"), coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("moved_in"), lit(0L)).as("moved_in"))
      .orderBy("shard")
  }

  def queries: Map[String, Q] = Map(
    "q_shard_rendezvous" -> qShardRendezvous,
    "q_curriculum_order" -> qCurriculumOrder,
    "q_diff_snapshot" -> qDiffSnapshot,
    "q_chunk_sliding" -> qChunkSliding,
    "q_sample_stratified" -> qSampleStratified,
    "q_source_jsonl" -> qSourceJsonl,
    "q_sample_priority" -> qSamplePriority,
    "q_mix_anneal" -> qMixAnneal,
    "q_mix_budget" -> qMixBudget,
    "q_mix_temperature" -> qMixTemperature,
    "q_mix_doremi" -> qMixDoremi,
    "q_mix_unimax" -> qMixUnimax,
    "q_tensorize" -> qTensorize,
    "q_pack_sequences" -> qPackSequences,
    "q_pack_lengrouped" -> qPackLenGrouped,
    "q_epoch_shuffle" -> qEpochShuffle,
    "q_decontaminate" -> qDecontaminate,
    "q_pipeline_corpus" -> qPipelineCorpus
  )

  private val toksAll =
    """list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '')"""

  private val ratesCase = RATES
    .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
    .mkString("CASE ", " ", s" ELSE $DEFAULT_RATE END")

  private val priCase = PRI_WEIGHTS
    .map { case (l, w) => s"WHEN lang = '$l' THEN $w" }
    .mkString("CASE ", " ", s" ELSE $PRI_DEFAULT_W END")

  private val mixCase = MIX_BUDGETS
    .map { case (src, b) => s"WHEN source = '$src' THEN $b" }
    .mkString("CASE ", " ", s" ELSE $MIX_DEFAULT_BUDGET END")

  def oracleSql: Map[String, String] = Map(
    "q_curriculum_order" ->
      s"""WITH base AS (SELECT doc_id, CAST(doc_id % $CUR_SHARDS AS INT) AS shard,
         |                len($toksAll) AS n_tok FROM documents),
         |h AS (SELECT n_tok, count(*) AS c FROM base GROUP BY n_tok),
         |cut AS (SELECT n_tok,
         |          coalesce(sum(c) OVER (ORDER BY n_tok
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
         |          sum(c) OVER () AS total FROM h),
         |b AS (SELECT n_tok,
         |        CAST(least(${CUR_Q - 1}, (cum_before * $CUR_Q) // total) AS BIGINT) AS bucket
         |      FROM cut),
         |j AS (SELECT base.doc_id, base.shard, base.n_tok, b.bucket,
         |        CAST(concat('0x', substr(md5(
         |          concat('cur_', CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS k
         |      FROM base JOIN b USING (n_tok)),
         |r AS (SELECT bucket, shard, doc_id, n_tok,
         |        row_number() OVER (PARTITION BY bucket, shard ORDER BY k, doc_id) AS rn
         |      FROM j)
         |SELECT bucket, shard, CAST(rn AS INT) AS rn, doc_id,
         |  CAST(n_tok AS BIGINT) AS n_tok
         |FROM r WHERE rn <= $CUR_HEAD ORDER BY bucket, shard, rn""".stripMargin,
    "q_diff_snapshot" ->
      s"""WITH v1 AS (SELECT doc_id, lang, text FROM documents),
         |p AS (SELECT doc_id,
         |        CAST(concat('0x', substr(md5(
         |          concat('v2_', CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) % 100 AS pct
         |      FROM v1),
         |v2 AS (SELECT v1.doc_id, lang,
         |         CASE WHEN pct < $DIFF_EDIT THEN concat(text, ' rev2') ELSE text END AS text
         |       FROM v1 JOIN p ON v1.doc_id = p.doc_id WHERE pct >= $DIFF_DROP
         |       UNION ALL
         |       SELECT v1.doc_id + $DIFF_OFFSET, lang, concat('new ', text)
         |       FROM v1 JOIN p ON v1.doc_id = p.doc_id WHERE pct >= $DIFF_ADD),
         |l AS (SELECT doc_id, lang AS lang1, md5(text) AS h1,
         |        CAST(length(text) AS BIGINT) AS chars1 FROM v1),
         |r AS (SELECT doc_id, lang AS lang2, md5(text) AS h2,
         |        CAST(length(text) AS BIGINT) AS chars2 FROM v2),
         |d AS (SELECT coalesce(lang1, lang2) AS lang,
         |        CASE WHEN h1 IS NULL THEN 'added'
         |             WHEN h2 IS NULL THEN 'removed'
         |             WHEN h1 <> h2 THEN 'changed'
         |             ELSE 'unchanged' END AS status,
         |        coalesce(chars1, 0) AS chars1, coalesce(chars2, 0) AS chars2
         |      FROM l FULL OUTER JOIN r USING (doc_id))
         |SELECT lang, status, count(*) AS n_docs,
         |  CAST(sum(chars1) AS BIGINT) AS chars_v1,
         |  CAST(sum(chars2) AS BIGINT) AS chars_v2
         |FROM d GROUP BY lang, status ORDER BY lang, status""".stripMargin,
    "q_chunk_sliding" ->
      s"""WITH t AS (SELECT doc_id, $toksAll AS w FROM documents
         |           WHERE doc_id % $CHUNK_DOC_MOD = 0),
         |t2 AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
         |ch AS (SELECT doc_id, n, st,
         |         array_to_string(list_slice(w, st + 1, st + $CHUNK_W), ' ') AS chunk
         |       FROM t2, unnest(range(0, n, $CHUNK_S)) u(st))
         |SELECT doc_id, CAST(st // $CHUNK_S AS BIGINT) AS chunk_idx,
         |  CAST(st AS BIGINT) AS start_pos,
         |  CAST(least($CHUNK_W, n - st) AS BIGINT) AS chunk_len,
         |  substr(md5(chunk), 1, 8) AS fp
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_tensorize" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksAll AS w FROM documents),
         |v AS (SELECT tok, CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS id
         |      FROM (SELECT tok, count(*) AS freq
         |            FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok
         |            ORDER BY freq DESC, tok LIMIT $TENS_V)),
         |p AS (SELECT doc_id, lang, i, w[i] AS tok
         |      FROM t, unnest(generate_series(1, least(len(w), $TENS_SEQ))) AS u(i)),
         |ids AS (SELECT p.doc_id, i, coalesce(v.id, 0) AS id FROM p LEFT JOIN v USING (tok)),
         |ck AS (SELECT doc_id, CAST(sum(id * i) AS BIGINT) AS ck FROM ids GROUP BY 1),
         |s AS (SELECT t.doc_id, t.lang, CAST(len(w) AS BIGINT) AS n_tok,
         |        CASE WHEN len(w) > $TENS_SEQ THEN 1 ELSE 0 END AS trunc,
         |        $TENS_SEQ - least(len(w), $TENS_SEQ) AS pad, coalesce(ck.ck, 0) AS ck
         |      FROM t LEFT JOIN ck ON t.doc_id = ck.doc_id)
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |  CAST(sum(trunc) AS BIGINT) AS n_trunc_docs,
         |  CAST(sum(pad) AS BIGINT) AS pad_total,
         |  CAST(sum(ck) AS BIGINT) AS ids_checksum
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "q_mix_unimax" ->
      s"""WITH pl AS (SELECT lang, CAST(sum(len($toksAll)) AS BIGINT) AS c
         |            FROM documents GROUP BY lang),
         |pl2 AS (SELECT lang, c, c * $UNIMAX_E AS cap FROM pl),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS k,
         |          CAST(sum(c) * 3 // 2 AS BIGINT) AS n FROM pl2),
         |ranked AS (SELECT lang, c, cap, t, k, n,
         |    row_number() OVER (ORDER BY cap, lang) AS i,
         |    CAST(coalesce(sum(cap) OVER (ORDER BY cap, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s_prev
         |  FROM pl2 CROSS JOIN tot),
         |flagged AS (SELECT *, CASE WHEN cap * (k - i + 1) <= n - s_prev
         |                           THEN 1 ELSE 0 END AS saturated FROM ranked),
         |sat AS (SELECT CAST(sum(CASE WHEN saturated = 1 THEN cap ELSE 0 END) AS BIGINT) AS s_sat,
         |          CAST(sum(saturated) AS BIGINT) AS n_sat FROM flagged)
         |SELECT lang, c, cap, saturated,
         |  CASE WHEN saturated = 1 THEN cap ELSE (n - s_sat) // (k - n_sat) END AS alloc,
         |  round(CAST(CASE WHEN saturated = 1 THEN cap
         |                  ELSE (n - s_sat) // (k - n_sat) END AS DOUBLE) / c, 6) AS epochs
         |FROM flagged CROSS JOIN sat ORDER BY lang""".stripMargin,
    "q_shard_rendezvous" ->
      s"""WITH w AS (SELECT doc_id, shard,
         |             CAST(concat('0x', substr(md5(
         |               concat('rv', shard, '_', CAST(doc_id AS VARCHAR))), 1, 7))
         |               AS BIGINT) * 16 + shard AS key
         |           FROM documents,
         |             unnest(range(0, ${RV_SHARDS + 1})) t(shard)),
         |a AS (SELECT doc_id,
         |        max(CASE WHEN shard < $RV_SHARDS THEN key END) % 16 AS a8,
         |        max(key) % 16 AS a9
         |      FROM w GROUP BY doc_id),
         |bef AS (SELECT a8 AS shard, count(*) AS n_before FROM a GROUP BY 1),
         |aft AS (SELECT a9 AS shard, count(*) AS n_after,
         |          sum(CASE WHEN a8 <> a9 THEN 1 ELSE 0 END) AS moved_in
         |        FROM a GROUP BY 1)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
         |  CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
         |  CAST(coalesce(moved_in, 0) AS BIGINT) AS moved_in
         |FROM aft FULL OUTER JOIN bef USING (shard) ORDER BY shard""".stripMargin,
    "q_epoch_shuffle" ->
      s"""WITH e AS (SELECT doc_id, CAST(doc_id % $EPOCH_SHARDS AS INT) AS shard, epoch,
         |             CAST(concat('0x', substr(md5(
         |               concat('epoch', epoch, '_', CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS k
         |           FROM documents, unnest([0, 1]) t(epoch)),
         |r AS (SELECT CAST(epoch AS INT) AS epoch, shard, doc_id,
         |        row_number() OVER (PARTITION BY epoch, shard ORDER BY k, doc_id) AS rn
         |      FROM e)
         |SELECT epoch, shard, CAST(rn AS INT) AS rn, doc_id FROM r
         |WHERE rn <= $EPOCH_HEAD ORDER BY epoch, shard, rn""".stripMargin,
    "q_pack_lengrouped" ->
      s"""WITH base AS (SELECT lang, doc_id, CAST(doc_id % $PACK_SHARDS AS INT) AS shard,
         |                len($toksAll) AS n_tok FROM documents),
         |srt AS (SELECT lang, shard, n_tok,
         |          (row_number() OVER (PARTITION BY lang, shard ORDER BY n_tok, doc_id) - 1)
         |            // $BATCH_SIZE AS bid FROM base),
         |nai AS (SELECT lang, shard, n_tok,
         |          (row_number() OVER (PARTITION BY lang, shard ORDER BY doc_id) - 1)
         |            // $BATCH_SIZE AS bid FROM base),
         |ps AS (SELECT lang, sum(pad) AS pad_sorted, count(*) AS n_batches FROM (
         |         SELECT lang, shard, bid, max(n_tok) * count(*) - sum(n_tok) AS pad
         |         FROM srt GROUP BY 1, 2, 3) b GROUP BY lang),
         |pn AS (SELECT lang, sum(pad) AS pad_naive FROM (
         |         SELECT lang, shard, bid, max(n_tok) * count(*) - sum(n_tok) AS pad
         |         FROM nai GROUP BY 1, 2, 3) b GROUP BY lang)
         |SELECT ps.lang AS lang, n_batches, CAST(pad_sorted AS BIGINT) AS pad_sorted,
         |  CAST(pad_naive AS BIGINT) AS pad_naive,
         |  CASE WHEN pad_naive > 0
         |    THEN round(CAST(1.0 AS DOUBLE) - CAST(pad_sorted AS DOUBLE) / pad_naive, 4)
         |    ELSE NULL END AS saving_frac
         |FROM ps JOIN pn ON ps.lang = pn.lang ORDER BY ps.lang""".stripMargin,
    "q_mix_doremi" ->
      s"""WITH tk AS (SELECT doc_id, lang, unnest($toksAll) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         |tt AS (SELECT sum(c) AS total FROM c),
         |sp AS (SELECT tok,
         |         CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS surp
         |       FROM c, tt),
         |pl AS (SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tok,
         |         sum(surp) AS ssum
         |       FROM tk JOIN sp USING (tok) GROUP BY lang),
         |l AS (SELECT lang, n_docs, n_tok,
         |        CAST(ssum AS DOUBLE) / (CAST(n_tok AS DOUBLE) * 1000000.0) AS loss
         |      FROM pl),
         |mn AS (SELECT min(loss) AS lmin FROM l),
         |ew AS (SELECT lang, n_docs, n_tok, loss, loss - lmin AS excess,
         |         CAST(floor(exp(loss - lmin) * 1000000) AS BIGINT) AS ew
         |       FROM l, mn),
         |et AS (SELECT sum(ew) AS ewtot FROM ew)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tok AS BIGINT) AS n_tok,
         |  round(loss, 4) AS loss, round(excess, 4) AS excess,
         |  round(CAST(ew AS DOUBLE) / CAST(ewtot AS DOUBLE), 4) AS weight
         |FROM ew, et ORDER BY lang""".stripMargin,
    "q_mix_anneal" ->
      """WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM documents),
        |cum AS (SELECT n_chars, sum(c) OVER (ORDER BY n_chars
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm FROM h),
        |cut AS (SELECT min(n_chars) AS v FROM cum, t WHERE cm * 5 >= 4 * n)
        |SELECT source,
        |  CASE WHEN n_chars > (SELECT v FROM cut) THEN 'anneal' ELSE 'main' END AS phase,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
        |m AS (SELECT max(n_l) AS n_max FROM c),
        |r AS (SELECT lang, n_l,
        |        least(CAST(1.0 AS DOUBLE),
        |          0.5 * sqrt(CAST(n_max AS DOUBLE) / CAST(n_l AS DOUBLE))) AS rate
        |      FROM c, m),
        |k AS (SELECT d.lang,
        |        CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
        |          % 100 < rate * 100 THEN 1 ELSE 0 END AS keep, rate
        |      FROM documents d JOIN r ON d.lang = r.lang)
        |SELECT lang, count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept,
        |  round(any_value(rate), 4) AS rate
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sample_priority" ->
      s"""SELECT doc_id, lang,
         |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
         |    // ($priCase) AS pri
         |FROM documents ORDER BY pri ASC, doc_id ASC LIMIT $PRI_K""".stripMargin,
    "q_mix_budget" ->
      s"""WITH t AS (SELECT source, doc_id, len($toksAll) AS n_tok,
         |             $mixCase AS budget FROM documents),
         |r AS (SELECT source, n_tok, budget,
         |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
         |      FROM t),
         |k AS (SELECT source, n_tok, budget,
         |        CASE WHEN running <= budget THEN 1 ELSE 0 END AS keep FROM r)
         |SELECT source, count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept,
         |  CAST(sum(keep * n_tok) AS BIGINT) AS tok_used,
         |  CAST(any_value(budget) AS BIGINT) AS budget
         |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "q_sample_stratified" ->
      s"""WITH k AS (
         |  SELECT lang,
         |    CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
         |      % 100 < ($ratesCase) THEN 1 ELSE 0 END AS keep
         |  FROM documents)
         |SELECT lang, count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept,
         |  round(CAST(sum(keep) AS DOUBLE) / count(*), 4) AS ratio
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    // the JSONL round trip is internal to the Spark query; the oracle
    // predicts its outcome from the parquet table and the
    // deterministic every-37th poison rule
    "q_source_jsonl" ->
      """WITH b AS (
        |  SELECT CASE WHEN doc_id % 37 = 0 THEN '_corrupt' ELSE lang END AS bucket,
        |    CASE WHEN doc_id % 37 = 0 THEN NULL ELSE n_chars END AS nc
        |  FROM documents)
        |SELECT bucket, count(*) AS n, CAST(sum(nc) AS BIGINT) AS chars
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH t AS (SELECT lang, CAST(doc_id % $PACK_SHARDS AS INT) AS shard, doc_id,
         |             len($toksAll) AS n_tok FROM documents),
         |r AS (SELECT lang, shard, n_tok,
         |        sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
         |      FROM t)
         |SELECT lang, shard,
         |  CAST(floor((running - n_tok) / ${PACK_BUDGET.toDouble}) AS BIGINT) AS seq_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok
         |FROM r GROUP BY lang, shard, seq_id
         |ORDER BY lang, shard, seq_id""".stripMargin,
    "q_pipeline_corpus" -> {
      val shingle4 = (0 until PIPE_SHINGLE_N)
        .map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, lang, text, $toksAll AS w,
         |    CAST(len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |      / len(text) AS alpha
         |  FROM documents WHERE doc_id % 5 = 0),
         |qual AS (SELECT * FROM base
         |         WHERE len(w) >= $QUAL_MIN_TOK AND alpha >= CAST($QUAL_MIN_ALPHA AS DOUBLE)),
         |uh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(w) AS tok FROM qual) u),
         |sig AS (SELECT doc_id, ${Dedup.mhColsSql} FROM uh GROUP BY doc_id),
         |bands AS (${Dedup.bandSelectsSql}),
         |stars AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY band_id, sig) AS root FROM bands),
         |cand AS (SELECT DISTINCT root AS da, doc_id AS db FROM stars WHERE doc_id > root),
         |pairs AS (SELECT da, db FROM cand
         |          JOIN sig sa ON cand.da = sa.doc_id
         |          JOIN sig sb ON cand.db = sb.doc_id
         |          WHERE (${Dedup.agreeSumSql}) >= $PIPE_MIN_AGREE),
         |edges AS (SELECT da AS src, db AS dst FROM pairs
         |          UNION ALL SELECT db, da FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM sig
         |  UNION
         |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |comp AS (SELECT id, min(lbl) AS root FROM reach GROUP BY id),
         |kept AS (SELECT q.* FROM qual q JOIN comp ON q.doc_id = comp.id
         |         WHERE comp.root = comp.id),
         |sh AS (SELECT DISTINCT doc_id, $shingle4 AS s
         |       FROM kept, unnest(range(1, len(w) + 2 - $PIPE_SHINGLE_N)) t(i)),
         |all_toks AS (SELECT doc_id, $toksAll AS w FROM documents WHERE doc_id % $DECON_MOD = 0),
         |bench AS (SELECT DISTINCT $shingle4 AS s
         |          FROM all_toks, unnest(range(1, len(w) + 2 - $PIPE_SHINGLE_N)) t(i)),
         |contam AS (SELECT doc_id FROM sh JOIN bench USING(s)
         |           GROUP BY doc_id HAVING count(*) >= $PIPE_MIN_OVERLAP),
         |clean AS (SELECT * FROM kept WHERE doc_id % $DECON_MOD != 0
         |          AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |samp AS (SELECT lang, doc_id, len(w) AS n_tok FROM clean
         |         WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
         |           % 100 < ($ratesCase)),
         |packed AS (SELECT lang, CAST(doc_id % $PACK_SHARDS AS INT) AS shard, n_tok,
         |    sum(n_tok) OVER (PARTITION BY lang, CAST(doc_id % $PACK_SHARDS AS INT) ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
         |  FROM samp)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(count(DISTINCT (shard, CAST(floor((running - n_tok) / ${PACK_BUDGET.toDouble}) AS BIGINT))) AS BIGINT) AS n_seq,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tok
         |FROM packed GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, lang, $toksAll AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, lang, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |       FROM toks, unnest(range(1, len(w) - 1)) t(i)),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % $DECON_MOD = 0),
         |train AS (SELECT * FROM sh WHERE doc_id % $DECON_MOD != 0),
         |ov AS (SELECT doc_id, lang, count(*) AS n_over
         |       FROM train JOIN bench USING(s) GROUP BY doc_id, lang)
         |SELECT doc_id, lang, n_over FROM ov
         |WHERE n_over >= $DECON_MIN_OVERLAP ORDER BY doc_id""".stripMargin
  )
}
