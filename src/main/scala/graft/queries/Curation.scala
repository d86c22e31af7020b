package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Corpus-curation operators a training-data pipeline runs before the
  * dedup/mixing stages already in the inventory:
  *
  *  - Gopher-style document quality rules (Rae et al. 2021 §A1.1,
  *    adapted to this corpus's ranges): token-count bounds, mean word
  *    length band, stopword presence, distinct-token ratio — each rule
  *    a map-side boolean, aggregated to per-language pass rates;
  *  - repetition detection (the Gopher "repetitious text" signals):
  *    duplicate-token ratio and top-bigram mass per document;
  *  - PII detection/redaction: regex hit counts + masked text, the
  *    scrubbing pass run before any corpus leaves the lake;
  *  - Z-order (Morton) curve layout: multi-dimensional clustering for
  *    file-skipping on two correlated dimensions at once.
  *
  * Quality and PII are pure map-side (zero shuffle — they scale by
  * adding executors); repetition is one partial-aggregated shuffle on
  * (doc_id, bigram); the Z-order profile is one shuffle on the bucket.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  private val DRIFT_MOD = 3 // doc_id % 3 == 0 plays the prior snapshot

  /** Snapshot drift profile (the TFDV-style data-validation stage a
    * recurring ingest runs between batches): per-language statistics of
    * the PRIOR snapshot vs the NEW batch — doc counts, exact token
    * totals, distinct sources, mean doc length — and the mean-length
    * shift as the drift indicator. A language whose mean length or
    * source mix moves is flagged for inspection BEFORE the batch joins
    * the corpus.
    *
    * Everything is integer-exact (counts, long token sums) until the
    * two final rounded divisions, so the profile is hash-stable;
    * the whole query is two partial-agg passes over the corpus joined
    * on the (tiny, per-lang) profile rows. */
  val qProfileDrift: Q = (s, d) => {
    val docs = Tables.documents(s, d).withColumn("n_tok", size(tokens(col("text"))))
    def prof(which: Column, suffix: String): DataFrame =
      docs.where(which)
        .groupBy(col("lang").as(s"lang$suffix"))
        .agg(count(lit(1)).as(s"n$suffix"),
          sum("n_tok").cast("long").as(s"tok$suffix"),
          countDistinct("source").as(s"src$suffix"))
    val old = prof(col("doc_id") % DRIFT_MOD === 0, "_old")
    val neu = prof(col("doc_id") % DRIFT_MOD =!= 0, "_new")
    old.join(neu, col("lang_old") === col("lang_new"), "full_outer")
      .select(coalesce(col("lang_old"), col("lang_new")).as("lang"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("src_old"), lit(0L)).as("src_old"),
        coalesce(col("src_new"), lit(0L)).as("src_new"),
        round(col("tok_old").cast("double") / col("n_old"), 4).as("mean_old"),
        round(col("tok_new").cast("double") / col("n_new"), 4).as("mean_new"))
      .withColumn("mean_shift", round(col("mean_new") - col("mean_old"), 4))
      .orderBy("lang")
  }

  private val MAD_K = 0.6745 // Iglewicz–Hoaglin consistency constant
  private val MAD_THR = 3.5  // their recommended modified-z cutoff

  /** Robust per-language outlier audit on document token counts — the
    * MAD-based modified z-score (Iglewicz & Hoaglin 1993): median and
    * median-absolute-deviation replace mean/stddev so a few extreme
    * docs cannot mask themselves by inflating the spread (the failure
    * mode of plain z-scores on heavy-tailed length distributions).
    * z = 0.6745·(x − med)/MAD, outlier iff |z| > 3.5. Output per lang:
    * doc count, med, MAD, outlier count, z range.
    *
    * Determinism: both quantiles are Spark `percentile` ≡ DuckDB
    * `quantile_cont` (the q_agg_percentile-proven mapping); every
    * arithmetic op after them is a single correctly-rounded IEEE op on
    * identical inputs, so the outlier booleans agree bit-for-bit. A
    * zero MAD (more than half the docs sharing one length) yields NULL
    * z — guarded identically in both engines. Scale: two grouped
    * quantile passes with K-row broadcasts back; the final pass is one
    * partial agg. */
  val qQualityMad: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    Scoped.share(docs) {
      val med = docs.groupBy(col("lang").as("m_lang"))
        .agg(percentile(col("n_tok"), lit(0.5)).as("med"))
      val dv = docs.join(broadcast(med), col("lang") === col("m_lang"))
      val mad = dv.groupBy(col("lang").as("d_lang"))
        .agg(percentile(abs(col("n_tok") - col("med")), lit(0.5)).as("mad"))
      dv.join(broadcast(mad), col("lang") === col("d_lang"))
        .withColumn("z", when(col("mad") > 0,
          lit(MAD_K) * (col("n_tok") - col("med")) / col("mad")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(first("med"), 4).as("med_tok"),
          round(first("mad"), 4).as("mad_tok"),
          sum(when(abs(col("z")) > MAD_THR, 1L).otherwise(0L)).as("n_outliers"),
          round(min("z"), 4).as("z_min"),
          round(max("z"), 4).as("z_max"))
        .orderBy("lang")
    }
  }

  private val DSIR_MOD = 13  // doc_id % 13 == 0 plays the curated target set
  private val DSIR_B = 1024  // hashed feature buckets
  private val DSIR_TOPK = 20

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * score every raw-pool document by how much more likely its hashed
    * n-gram features are under a small curated TARGET set than under
    * the pool itself, and keep the top-scoring docs — the importance-
    * resampling pass that turns "we have 100 TB of crawl" into "the
    * slice that looks like our target domain".
    *
    * Model: unigram features hashed into a FIXED B=1024 buckets
    * (hashed n-grams are DSIR's own trick); bucket log-ratio
    * w(b) = ln p̂_target(b)/p̂_pool(b) with add-1 smoothing. Because B
    * is fixed, the model is ≤ B rows at ANY corpus scale — unlike a
    * vocabulary it may ALWAYS broadcast, so scoring is one map-side
    * broadcast join + partial agg: the corpus is scanned once for the
    * model (conditional aggregation, no second pass) and once for
    * scoring. Determinism follows [[qQualityLm]]: the ratio is a
    * single divide of two exact long products, ln floored to 10⁻⁶ per
    * bucket, per-doc sums exact longs, one rounded divide at the end. */
  val qSelectDsir: Q = (s, d) => {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % DSIR_MOD === 0).as("tgt"),
        explode(tokens(col("text"))).as("tok"))
      .withColumn("b", hash28(col("tok")) % DSIR_B)
    Scoped.share(tk) {
      val counts = tk.groupBy("b").agg(
        sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("tgt"), 0L).otherwise(1L)).as("cp"))
      // Each factor casts to double BEFORE the multiply: a long product
      // (ct+1)*(tp+B) overflows int64 once total tokens pass ~3e9 —
      // Spark would wrap silently while DuckDB's HUGEINT would not, a
      // cross-engine split exactly at deployment scale. The double
      // product is exact below 2^53 and correctly rounded above, and
      // the ln lands on the same floor(·10⁻⁶) grid in both engines.
      val model = counts
        .crossJoin(broadcast(counts.agg(sum("ct").as("tt"), sum("cp").as("tp"))))
        .select(col("b"),
          floor(log(((col("ct") + 1).cast("double") * (col("tp") + DSIR_B).cast("double")) /
                    ((col("cp") + 1).cast("double") * (col("tt") + DSIR_B).cast("double"))) * 1e6)
            .cast("long").as("w"))
      tk.where(!col("tgt"))
        .join(broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tok"), sum("w").as("lw"))
        .withColumn("importance",
          round(col("lw").cast("double") / (col("n_tok") * lit(1000000.0)), 4))
        .orderBy(col("importance").desc, col("doc_id").asc).limit(DSIR_TOPK)
        .withColumn("rn", row_number().over(
          boundedWindow(col("importance").desc, col("doc_id").asc)))
        .select("rn", "doc_id", "lang", "n_tok", "importance")
        .orderBy("rn")
    }
  }

  private val LM_TOPK = 10

  /** CCNet-style LM quality scoring (Wenzek et al. 2020 score their
    * corpus with a KenLM perplexity; here the LM is a unigram model
    * trained on the corpus ITSELF, so the operator needs no external
    * artifact): token surprise −ln(c_t / T) from corpus counts, doc
    * score = mean surprise over its tokens, output = the LM_TOPK most
    * atypical documents (highest surprise — the boilerplate/outlier
    * end a curation pass inspects or drops).
    *
    * Determinism design: surprise is integer-scaled floor(·10⁶) per
    * token value, so the per-doc sum is an exact long — a raw double
    * sum would depend on shuffle arrival order and differ run to run.
    * The only FP ops are ln (floored to 10⁻⁶; identical value for
    * every occurrence of a token) and one correctly-rounded divide at
    * the end.
    *
    * Scale shape (round 8): vocab counts attach via the heavy-hitter
    * split ([[HeavyHitters.attachKeyCount]]) — hot tokens (df ≥
    * total/10⁴, provably ≤ 10⁴ keys) broadcast and attach MAP-SIDE, so
    * the Zipf head (the dominant share of occurrences) never shuffles;
    * the tail joins back shuffle-hash with every partition bounded
    * below total/10⁴ rows. The round-7 count().over(partitionBy(tok))
    * form was one shuffle fewer locally but put the hottest token's
    * entire group in ONE WindowExec task, which AQE cannot split — the
    * skew bound here is explicit instead. Per-doc sum is a partial agg;
    * top-k is a distributed TakeOrdered.
    *
    * Overflow envelope (round 9, DeterminismSpec-pinned): surp ≤
    * ln(T)·10⁶ ≈ 2.8·10⁷ at T = 10¹² corpus tokens, and the sum is
    * per-DOC — a 10⁶-token document reaches 2.8·10¹³, 3·10⁵× inside
    * int64. (Corpus-level sums of this grain are NOT long-safe; see
    * q_quality_buckets / q_mix_doremi, which widen to decimal.) */
  val qQualityLm: Q = (s, d) => {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    // Unlike q_mix_doremi (per-domain output → vocab-sized join), the
    // output here is per-DOC, so the vocab count genuinely attaches to
    // a corpus-sized row table — the heavy-hitter split's case. The
    // raw-occurrence form beats a per-(doc, tok) pre-compression here:
    // tokenize is cheap (native expression) and the compression's
    // (doc, tok) shuffle is near row cardinality, so re-reading the
    // scan in the split's two branches costs less than that extra
    // corpus-wide shuffle (measured 0.88 vs 1.44 s at sf0.1).
    // Surprise is the identical floor(·10⁶) long per token regardless
    // of which branch attached the count, so the split cannot perturb
    // the result hash.
    HeavyHitters.attachKeyCount(tk, "tok", "c", totalOut = Some("total"))
      .withColumn("surp",
        floor(-log(col("c").cast("double") / col("total").cast("double")) * 1e6)
          .cast("long"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"), sum("surp").as("ssum"))
      .withColumn("surprise",
        round(col("ssum").cast("double") / (col("n_tok") * lit(1000000.0)), 4))
      .orderBy(col("surprise").desc, col("doc_id").asc).limit(LM_TOPK)
      .withColumn("rn", row_number().over(
        boundedWindow(col("surprise").desc, col("doc_id").asc)))
      .select("rn", "doc_id", "lang", "n_tok", "surprise")
      .orderBy("rn")
  }

  private val BLM_TOPK = 10

  /** Bigram-LM quality scoring — the conditional-context upgrade of
    * [[qQualityLm]] (CCNet's KenLM is a 5-gram model; the unigram
    * scorer can't see broken word ORDER, only rare words — a document
    * of common words shuffled randomly scores as clean; under a bigram
    * model its improbable transitions surface): token surprise
    * −ln(c(w₁w₂)/c₁(w₁)) where c₁ counts w₁'s occurrences as a bigram
    * LEFT element (the MLE conditional over observed transitions —
    * every scored bigram was observed, so c ≥ 1 and no smoothing mass
    * is needed for self-scoring); doc score = mean transition surprise,
    * output = the [[BLM_TOPK]] most-atypical documents.
    *
    * Scale shape: the bigram stream is map-side (native non-distinct
    * Shingles); the CORPUS is aggregated exactly once — the left-
    * element totals derive from the bigram counts table itself
    * (c₁(w₁) = Σ_bg c(w₁·), a key-cardinality-sized agg + join, per-w₁
    * group bounded by the distinct-continuation count ≤ vocab), and
    * per-bigram-TYPE surprise is precomputed on that model table so
    * ONE heavy-hitter split ([[HeavyHitters.attachModel]]) attaches a
    * single long to the stream — bigram keys are Zipfian exactly like
    * tokens ("of the" ~0.5-1% of English web bigrams), so the ≤ 10⁴
    * hot types broadcast map-side and only the tail joins back
    * shuffle-hash, partitions bounded below total/10⁴. Surprise per
    * type is the established floor(·10⁶) long, so per-doc sums are
    * exact. Overflow envelope: per-doc only — surp ≤ ln(T)·10⁶ ≈
    * 2.8·10⁷ at T = 10¹² transitions × 10⁶-token doc = 2.8·10¹³,
    * 3·10⁵× inside int64 (DeterminismSpec). */
  val qQualityBigram: Q = (s, d) => {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextExpressions
          .shinglesAllFast(tokens(col("text")), 2)).as("bg"))
    val cb = bg.groupBy("bg").agg(count(lit(1)).as("cbg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val cw1 = cb.groupBy(col("w1").as("u1")).agg(sum("cbg").as("cw1"))
    val model = cb.join(cw1.hint("shuffle_hash"), col("w1") === col("u1"))
      .withColumn("surp",
        floor(-log(col("cbg").cast("double") / col("cw1").cast("double")) * 1e6)
          .cast("long"))
      .select("bg", "cbg", "surp")
    HeavyHitters.attachModel(bg, "bg", model, "cbg")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bg"), sum("surp").as("ssum"))
      .withColumn("surprise",
        round(col("ssum").cast("double") / (col("n_bg") * lit(1000000.0)), 4))
      .orderBy(col("surprise").desc, col("doc_id").asc).limit(BLM_TOPK)
      .withColumn("rn", row_number().over(
        boundedWindow(col("surprise").desc, col("doc_id").asc)))
      .select("rn", "doc_id", "lang", "n_bg", "surprise")
      .orderBy("rn")
  }

  private val RHO_TOPK = 16

  /** Excess-loss (learnability) data selection — the RHO-1 criterion
    * (Lin et al. 2024, arXiv:2404.07965: select where a REFERENCE
    * model's loss sits far below the current model's — high excess =
    * learnable signal; low excess = noise or already-learned) lifted
    * to document grain with the engine's own corpus-self proxy pair:
    * the context-free unigram LM ([[qQualityLm]]'s model) as the
    * "current" scorer and the transition-aware bigram MLE
    * ([[qQualityBigram]]'s model) as the stronger reference. excess =
    * mean unigram surprise − mean bigram surprise: large where word
    * ORDER carries structure the weaker model can't see (exactly the
    * documents sequence training extracts signal from), near zero
    * where tokens are unpredictable regardless of context. Output:
    * the [[RHO_TOPK]] most-learnable documents. Single-token
    * documents carry no transition evidence and are excluded by the
    * inner join (they have no bigram row).
    *
    * Determinism: both per-doc sums are the established floor(·10⁶)
    * exact-long machinery — the identical dags of the two parent
    * queries — and excess is ONE double expression over exact longs,
    * rounded once; ties at 4 decimals break on doc_id.
    *
    * Scale shape: inherits both parents' postures unchanged (unigram
    * heavy-hitter split; bigram model table + one heavy-hitter
    * attach); the only NEW exchange is the per-doc join of two
    * doc-keyed aggregates — co-partitioned on the unique doc_id,
    * skew-free; top-K is a distributed TakeOrdered. */
  val qSelectRho: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tk = docs.select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    val uni = HeavyHitters.attachKeyCount(tk, "tok", "c", totalOut = Some("total"))
      .withColumn("surp",
        floor(-log(col("c").cast("double") / col("total").cast("double")) * 1e6)
          .cast("long"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"), sum("surp").as("us"))
    val bg = docs.select(col("doc_id"),
      explode(graft.functions.TextExpressions
        .shinglesAllFast(tokens(col("text")), 2)).as("bg"))
    val cb = bg.groupBy("bg").agg(count(lit(1)).as("cbg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val cw1 = cb.groupBy(col("w1").as("u1")).agg(sum("cbg").as("cw1"))
    val model = cb.join(cw1.hint("shuffle_hash"), col("w1") === col("u1"))
      .withColumn("surp",
        floor(-log(col("cbg").cast("double") / col("cw1").cast("double")) * 1e6)
          .cast("long"))
      .select("bg", "cbg", "surp")
    val big = HeavyHitters.attachModel(bg, "bg", model, "cbg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"), sum("surp").as("bs"))
    uni.join(big, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tok"),
        round(col("us").cast("double") / (col("n_tok") * lit(1000000.0)), 4).as("u_surprise"),
        round(col("bs").cast("double") / (col("n_bg") * lit(1000000.0)), 4).as("b_surprise"),
        round(col("us").cast("double") / (col("n_tok") * lit(1000000.0)) -
          col("bs").cast("double") / (col("n_bg") * lit(1000000.0)), 4).as("excess"))
      .orderBy(col("excess").desc, col("doc_id").asc).limit(RHO_TOPK)
      .withColumn("rn", row_number().over(
        boundedWindow(col("excess").desc, col("doc_id").asc)))
      .select("rn", "doc_id", "lang", "n_tok", "u_surprise", "b_surprise", "excess")
      .orderBy("rn")
  }

  private val KN_TOPK = 10
  private val KN_D = 0.75 // the standard absolute discount

  /** Join posture for the KN scorers' WORD-keyed statistics tables
    * (one row per distinct word — Heaps-law vocabulary growth, the
    * same boundedness the model already assumes when it broadcasts
    * its count-of-counts row): broadcast while the optimizer's size
    * estimate fits `spark.sql.autoBroadcastJoinThreshold`, so the
    * n-gram model stream skips a full re-shuffle per statistic;
    * shuffle_hash above it (or with broadcasts disabled, -1), so a
    * vocabulary that outgrows executor memory is never broadcast. An
    * explicit `broadcast()` would bypass the threshold. The
    * N-GRAM-keyed tables (ctx/cont — corpus-scale) stay shuffle_hash. */
  private def knPerWord(df: DataFrame): DataFrame = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit >= 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit) broadcast(df)
    else df.hint("shuffle_hash")
  }

  /** Interpolated Kneser-Ney bigram scoring — the smoothing the real
    * CCNet pipeline's KenLM actually uses (Kneser & Ney 1995; Chen &
    * Goodman 1999 establish interpolated KN as the best-performing
    * n-gram smoothing; Heafield 2011's KenLM implements modified KN).
    * [[qQualityBigram]] scores with the MLE conditional, which can
    * only rank transitions it has seen by raw frequency; KN reserves
    * discount mass D from every observed bigram and backs off to the
    * CONTINUATION unigram — "how many distinct contexts does w₂
    * follow?" — the distributional-novelty prior that makes KN the
    * standard ("san francisco" is frequent, but "francisco" follows
    * almost nothing else, so its continuation probability is tiny):
    *
    *   P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c₁(w₁)
    *            + (D·N₁₊(w₁·)/c₁(w₁)) · (N₁₊(·w₂)/N)
    *
    * with c₁(w₁) the left totals, N₁₊(w₁·) the distinct-continuation
    * count of w₁, N₁₊(·w₂) the distinct-context count of w₂, N the
    * bigram-type count. Doc score = mean transition surprise
    * −ln P(w₂|w₁); output = the [[KN_TOPK]] most-atypical documents.
    *
    * Scale shape: identical to [[qQualityBigram]] — the CORPUS
    * aggregates exactly once into the bigram-type table; c₁/N₁₊ left
    * stats and the N₁₊(·w₂) right stats are key-cardinality aggregates
    * OF that type table (per-key groups bounded by distinct-
    * continuation/context counts ≤ vocab); per-TYPE surprise is
    * precomputed on the model so ONE heavy-hitter split
    * ([[HeavyHitters.attachModel]]) attaches a single long to the
    * Zipf-skewed stream (hot types broadcast map-side, tail joins
    * shuffle-hash with partitions bounded below total/10⁴).
    *
    * Determinism: all model inputs are exact longs; P is evaluated
    * with the IDENTICAL parenthesized IEEE-double op order in both
    * engines — (max(c−D,0)/c₁) + ((D·n₁ₗ)/c₁)·(n₁ᵣ/N) — then floored
    * to the established 10⁻⁶ ln grid, so per-doc sums are exact longs
    * and one rounded divide ends the query. P > 0 always (c ≥ 1 > D
    * leaves positive discounted mass) and < 1, so the ln is finite.
    * Overflow envelope: same per-doc-only bound as [[qQualityBigram]]
    * (−ln P < 56 nats → 3·10⁵× int64 headroom per 10⁶-token doc;
    * DeterminismSpec). */
  val qQualityKn: Q = (s, d) => {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextExpressions
          .shinglesAllFast(tokens(col("text")), 2)).as("bg"))
    val cb = bg.groupBy("bg").agg(count(lit(1)).as("cbg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val left = cb.groupBy(col("w1").as("u1"))
      .agg(sum("cbg").as("cw1"), count(lit(1)).as("n1l"))
    val right = cb.groupBy(col("w2").as("u2")).agg(count(lit(1)).as("n1r"))
    val nTypes = cb.agg(count(lit(1)).as("nt"))
    val model = cb
      // left/right are WORD-keyed (vocab-scale) statistics — same
      // broadcast posture as the trigram scorer's mid/uni (knPerWord)
      .join(knPerWord(left), col("w1") === col("u1"))
      .join(knPerWord(right), col("w2") === col("u2"))
      .crossJoin(broadcast(nTypes))
      .withColumn("p",
        (greatest(col("cbg").cast("double") - KN_D, lit(0.0))
          / col("cw1").cast("double"))
        + ((lit(KN_D) * col("n1l").cast("double")) / col("cw1").cast("double"))
          * (col("n1r").cast("double") / col("nt").cast("double")))
      .withColumn("surp", floor(-log(col("p")) * 1e6).cast("long"))
      .select("bg", "cbg", "surp")
    HeavyHitters.attachModel(bg, "bg", model, "cbg")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bg"), sum("surp").as("ssum"))
      .withColumn("surprise",
        round(col("ssum").cast("double") / (col("n_bg") * lit(1000000.0)), 4))
      .orderBy(col("surprise").desc, col("doc_id").asc).limit(KN_TOPK)
      .withColumn("rn", row_number().over(
        boundedWindow(col("surprise").desc, col("doc_id").asc)))
      .select("rn", "doc_id", "lang", "n_bg", "surprise")
      .orderBy("rn")
  }

  private val KNM_TOPK = 10

  /** MODIFIED Kneser-Ney bigram scoring — the count-of-counts discount
    * schedule KenLM actually ships (Chen & Goodman 1999 §4.1.6:
    * separate discounts for count-1, count-2 and count-≥3 types,
    * estimated from the corpus's own count-of-counts; Heafield 2011):
    *
    *   Y  = n₁/(n₁+2n₂),  D₁ = 1−2Y·n₂/n₁,  D₂ = 2−3Y·n₃/n₂,
    *   D₃₊ = 3−4Y·n₄/n₃   (ratio terms 0 when the denominator
    *                       count-of-count is 0 — degenerate-corpus
    *                       guard, same CASE in both engines)
    *   P(w₂|w₁) = max(c−D(c),0)/c₁(w₁)
    *            + ((D₁·N₁(w₁·)+D₂·N₂(w₁·)+D₃₊·N₃₊(w₁·))/c₁(w₁))
    *              · N₁₊(·w₂)/N
    *
    * where N_k(w₁·) counts w₁'s continuations with count exactly k
    * (≥3 for the last). Upgrades [[qQualityKn]]'s fixed D = 0.75 to
    * the data-estimated schedule — the difference is measurable
    * exactly where singleton mass dominates (web-scale tails).
    *
    * Scale shape: identical to [[qQualityKn]] — ONE corpus aggregate
    * to the bigram-type table; the count-of-counts (n₁..n₄, N) are ONE
    * broadcast row aggregated from it; left stats gain two columns;
    * per-TYPE surprise rides the same heavy-hitter split. Discounts
    * are doubles derived from exact integer counts with the identical
    * op order in both engines, then the established floor(·10⁻⁶) ln
    * grid. Overflow envelope: per-doc only, same bound as
    * [[qQualityBigram]] (DeterminismSpec class). */
  val qQualityKnMod: Q = (s, d) => {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextExpressions
          .shinglesAllFast(tokens(col("text")), 2)).as("bg"))
    val cb = bg.groupBy("bg").agg(count(lit(1)).as("cbg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val cc = cb.agg(
      sum(when(col("cbg") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cbg") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("cbg") === 3, 1L).otherwise(0L)).as("n3"),
      sum(when(col("cbg") === 4, 1L).otherwise(0L)).as("n4"),
      count(lit(1)).as("nt"))
    val left = cb.groupBy(col("w1").as("u1")).agg(
      sum("cbg").as("cw1"),
      sum(when(col("cbg") === 1, 1L).otherwise(0L)).as("nl1"),
      sum(when(col("cbg") === 2, 1L).otherwise(0L)).as("nl2"),
      sum(when(col("cbg") >= 3, 1L).otherwise(0L)).as("nl3"))
    val right = cb.groupBy(col("w2").as("u2")).agg(count(lit(1)).as("n1r"))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(0.0))
    val y = ratio(col("n1"), col("n1") + col("n2") * 2)
    val model = cb
      // left/right are WORD-keyed (vocab-scale) statistics — same
      // broadcast posture as the trigram scorer's mid/uni (knPerWord)
      .join(knPerWord(left), col("w1") === col("u1"))
      .join(knPerWord(right), col("w2") === col("u2"))
      .crossJoin(broadcast(cc))
      // clamped at 0: a degenerate count-of-counts profile (n₃ > n₂ on
      // small/duplicated corpora) can push the raw D₂/D₃ negative,
      // which would ADD mass and could drive P < 0 → NaN ln. The clamp
      // is the standard practical guard and is identical in the oracle.
      .withColumn("d1",
        greatest(lit(1.0) - (lit(2.0) * y) * ratio(col("n2"), col("n1")), lit(0.0)))
      .withColumn("d2",
        greatest(lit(2.0) - (lit(3.0) * y) * ratio(col("n3"), col("n2")), lit(0.0)))
      .withColumn("d3",
        greatest(lit(3.0) - (lit(4.0) * y) * ratio(col("n4"), col("n3")), lit(0.0)))
      .withColumn("dc",
        when(col("cbg") === 1, col("d1"))
          .when(col("cbg") === 2, col("d2")).otherwise(col("d3")))
      .withColumn("p",
        (greatest(col("cbg").cast("double") - col("dc"), lit(0.0))
          / col("cw1").cast("double"))
        + (((col("d1") * col("nl1").cast("double"))
            + (col("d2") * col("nl2").cast("double"))
            + (col("d3") * col("nl3").cast("double"))) / col("cw1").cast("double"))
          * (col("n1r").cast("double") / col("nt").cast("double")))
      .withColumn("surp", floor(-log(col("p")) * 1e6).cast("long"))
      .select("bg", "cbg", "surp")
    HeavyHitters.attachModel(bg, "bg", model, "cbg")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bg"), sum("surp").as("ssum"))
      .withColumn("surprise",
        round(col("ssum").cast("double") / (col("n_bg") * lit(1000000.0)), 4))
      .orderBy(col("surprise").desc, col("doc_id").asc).limit(KNM_TOPK)
      .withColumn("rn", row_number().over(
        boundedWindow(col("surprise").desc, col("doc_id").asc)))
      .select("rn", "doc_id", "lang", "n_bg", "surprise")
      .orderBy("rn")
  }

  private val KN3_TOPK = 10

  /** Interpolated TRIGRAM Kneser-Ney scoring — the order-3 extension
    * of [[qQualityKn]] (Chen & Goodman 1999 §3: each order discounts
    * its observed counts and interpolates with the next-lower order's
    * CONTINUATION distribution; KenLM ships order 5). The full ladder:
    *
    *   P(w₃|w₁w₂) = max(c(w₁w₂w₃)−D, 0)/c(w₁w₂·)
    *              + (D·N₁₊(w₁w₂·)/c(w₁w₂·)) · P_mid(w₃|w₂)
    *   P_mid(w₃|w₂) = max(N₁₊(·w₂w₃)−D, 0)/N₁₊(·w₂·)
    *              + (D·N₁₊(w₂·)/N₁₊(·w₂·)) · P_cont(w₃)
    *   P_cont(w₃) = N₁₊(·w₃)/N₁₊(··)
    *
    * — the middle and bottom orders use TYPE (continuation) counts,
    * not raw counts, all derived from the trigram-type table: N₁₊(·w₂w₃)
    * is its distinct-w₁ count per (w₂,w₃), N₁₊(·w₂·)/N₁₊(w₂·) its
    * per-middle-w₂ aggregates, N₁₊(·w₃)/N₁₊(··) the (w₂,w₃)-pair-table
    * aggregates (boundary bigrams not covered by any trigram are
    * outside the model by this convention — documented, and replayed
    * identically by the oracle). Doc score = mean trigram surprise;
    * output = the [[KN3_TOPK]] most-atypical documents.
    *
    * Scale shape: the corpus aggregates exactly ONCE into the
    * trigram-type table; every KN statistic is a key-cardinality
    * aggregate of that table or of its (w₂,w₃) contraction, joined
    * shuffle_hash with per-key groups bounded by distinct-continuation
    * counts; per-TYPE surprise rides ONE heavy-hitter split
    * ([[HeavyHitters.attachModel]]) onto the Zipf-skewed trigram
    * stream — same posture as the bigram scorers, one order deeper.
    *
    * Determinism: model inputs are exact longs; P evaluates with the
    * identical parenthesized IEEE-double dag in both engines, floored
    * to the 10⁻⁶ ln grid, so per-doc sums are exact longs. c ≥ 1 > D
    * keeps every numerator's discounted mass positive, so P ∈ (0,1)
    * and the ln is finite. Overflow envelope: per-doc only, same bound
    * as [[qQualityBigram]] (DeterminismSpec).
    *
    * Deliberately NOT cached: ct/cont each feed several consumers, but
    * they are all aggregates over the SAME groupBy exchange, which
    * ReuseExchange dedups for free — an explicit Scoped.share
    * measured 1.9 → 3.5 s at sf0.1 (serial materialization barriers +
    * a non-codegen cached scan replacing the reused exchange). */
  val qQualityKnTri: Q = (s, d) => {
    val tg = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextExpressions
          .shinglesAllFast(tokens(col("text")), 3)).as("tg"))
    val ct = tg.groupBy("tg").agg(count(lit(1)).as("c3"))
      .withColumn("w1", substring_index(col("tg"), " ", 1))
      .withColumn("w2",
        substring_index(substring_index(col("tg"), " ", 2), " ", -1))
      .withColumn("w3", substring_index(col("tg"), " ", -1))
    val ctx = ct.groupBy(col("w1").as("x1"), col("w2").as("x2"))
      .agg(sum("c3").as("c12"), count(lit(1)).as("n1l12"))
    val cont = ct.groupBy(col("w2").as("v2"), col("w3").as("v3"))
      .agg(count(lit(1)).as("n23"))
    val mid = cont.groupBy(col("v2").as("m2"))
      .agg(sum("n23").cast("long").as("n2mid"), count(lit(1)).as("nw2dot"))
    val uni = cont.groupBy(col("v3").as("q3")).agg(count(lit(1)).as("ndw3"))
    val nPairs = cont.agg(count(lit(1)).as("np"))
    // join strategy split (optimization round 17, guide §3.1): ctx and
    // cont are N-GRAM-scale tables (one row per distinct context /
    // continuation pair — they grow with the corpus like ct itself) so
    // they must stay shuffle joins; mid and uni are WORD-scale (one
    // row per distinct w2 / w3 — Heaps-law vocabulary growth, the same
    // bound the KN model itself assumes when it broadcasts the
    // count-of-counts row), so broadcasting them removes two full
    // re-shuffles of the trigram model stream (the w2 and w3
    // exchanges) from the four-join chain.
    val model = ct
      .join(ctx.hint("shuffle_hash"),
        col("w1") === col("x1") && col("w2") === col("x2"))
      .join(cont.hint("shuffle_hash"),
        col("w2") === col("v2") && col("w3") === col("v3"))
      .join(knPerWord(mid), col("w2") === col("m2"))
      .join(knPerWord(uni), col("w3") === col("q3"))
      .crossJoin(broadcast(nPairs))
      .withColumn("pcont", col("ndw3").cast("double") / col("np").cast("double"))
      .withColumn("pmid",
        (greatest(col("n23").cast("double") - KN_D, lit(0.0))
          / col("n2mid").cast("double"))
        + ((lit(KN_D) * col("nw2dot").cast("double")) / col("n2mid").cast("double"))
          * col("pcont"))
      .withColumn("p",
        (greatest(col("c3").cast("double") - KN_D, lit(0.0))
          / col("c12").cast("double"))
        + ((lit(KN_D) * col("n1l12").cast("double")) / col("c12").cast("double"))
          * col("pmid"))
      .withColumn("surp", floor(-log(col("p")) * 1e6).cast("long"))
      .select("tg", "c3", "surp")
    HeavyHitters.attachModel(tg, "tg", model, "c3")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tg"), sum("surp").as("ssum"))
      .withColumn("surprise",
        round(col("ssum").cast("double") / (col("n_tg") * lit(1000000.0)), 4))
      .orderBy(col("surprise").desc, col("doc_id").asc).limit(KN3_TOPK)
      .withColumn("rn", row_number().over(
        boundedWindow(col("surprise").desc, col("doc_id").asc)))
      .select("rn", "doc_id", "lang", "n_tg", "surprise")
      .orderBy("rn")
  }

  // ---- Gopher-style quality rules (thresholds fit this corpus's
  // observed ranges: n_tok p10/p50/p90 = 21/56/88, mean word length
  // 3.7-5.3, distinct ratio 0.28-0.99, mean stopword hits 3.4) ----
  private val QG_MIN_TOK = 25
  private val QG_MAX_TOK = 90
  private val QG_MIN_WLEN = 4.0
  private val QG_MAX_WLEN = 5.0
  private val QG_MIN_STOPS = 2
  private val QG_MIN_DISTINCT = 0.35
  private val STOPWORDS = Seq("the", "a", "of", "and")

  /** The corpus stand-in for C4's constant badword list; the real
    * ~400-entry list compiles into the same fixed literal predicate.
    * "spam"/"crash" never occur in the fixtures — they pin the
    * zero-hit path through both engines. */
  private val BLOCKLIST = Seq("dup", "spam", "crash")

  /** C4-style blocklist filter (Raffel et al. 2020 §2.2: a document
    * containing ANY term from the fixed badword list is dropped
    * whole). Output is the audit a corpus release ships with its
    * filter config — per (lang, source): docs scanned, docs flagged,
    * total blocklisted-token hits, docs kept.
    *
    * Scale: the blocklist is a FIXED literal at any corpus size, so
    * the flag is a pure map-side predicate over the token array (no
    * dictionary join, no broadcast — the list rides in the codegen'd
    * plan); the only shuffle is the final partial-agg rollup to
    * (lang, source) rows. Counts are exact longs end to end. */
  val qFilterBlocklist: Q = (s, d) => {
    val hits = size(filter(tokens(col("text")),
      t => t.isin(BLOCKLIST.map(lit): _*)))
    Tables.documents(s, d)
      .select(col("lang"), col("source"), hits.as("hits"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum("hits").cast("long").as("n_hits"),
        sum(when(col("hits") === 0, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("lang", "source")
  }

  /** Substring dictionary for the Aho–Corasick pass. Deliberately NOT
    * token-aligned: "in" hits inside "window"/"join"/"line" (substring
    * vs token semantics), "batch batch" self-overlaps inside "batch
    * batch batch" runs (pins overlapping-occurrence counting — a
    * replace-and-measure scan undercounts it), "err" never occurs
    * (pins the zero path). */
  private val AC_PATTERNS = Seq("batch batch", "data", "dup", "err", "in", "ine")

  /** Multi-pattern substring audit via the native Aho–Corasick DFA
    * ([[graft.functions.AhoCorasickCounts]]): per (lang, pattern) —
    * docs scanned, docs containing the pattern, total OVERLAPPING
    * occurrences. The token-exact [[qFilterBlocklist]] is the C4 word
    * filter; this is its substring-lexicon sibling (PII fragments,
    * brand strings, markup residue — dictionaries where word
    * boundaries don't hold).
    *
    * Scale: the DFA is a fixed plan literal — text is scanned ONCE for
    * the whole dictionary (n transitions for n bytes, dictionary-size
    * independent), map-side inside whole-stage codegen; the only
    * shuffle is the partial-aggregated rollup to (lang, pattern) ≤
    * |langs|·|dict| rows. The oracle recomputes each pattern's
    * overlapping count positionally. */
  val qFilterAc: Q = (s, d) => {
    val cnts = graft.functions.AhoCorasick.counts(lower(col("text")), AC_PATTERNS)
    Tables.documents(s, d)
      .select(col("lang"), posexplode(cnts))
      .select(col("lang"),
        element_at(typedLit(AC_PATTERNS), col("pos") + 1).as("pattern"),
        col("col").as("hits"))
      .groupBy("lang", "pattern")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum("hits").cast("long").as("n_hits"))
      .orderBy("lang", "pattern")
  }

  private val CLF_B = DSIR_B // hashed feature buckets
  private val CLF_K = 8      // selected features — the model is K+1 numbers

  /** Hashed linear quality classifier — the fastText-family learned
    * gate (Joulin et al. 2016, arXiv:1607.01759: bag of hashed
    * features into a linear model). The label distills the Gopher
    * stopword-presence rule (≥ [[QG_MIN_STOPS]] stopword hits — the
    * fluency gate) over a seeded md5-decile 8/2 train/test split; the
    * trained model scores every document as a broadcast dot product.
    *
    * The learner is the NBSVM-family closed form (Wang & Manning 2012,
    * "Baselines and Bigrams": naive-Bayes log-count-ratio features are
    * the strong linear-classifier baseline — the lineage fastText
    * descends from), in three one-pass stages, each order-independent:
    *   1. SELECT: per-bucket class-association
    *      |ct/(TP+1) − cn/(TN+1)| (floored ·10¹²), top-[[CLF_K]]
    *      buckets via a distributed TakeOrdered. Selection is what
    *      defeats this corpus's length confound: EVERY bucket count
    *      correlates with the label through document length, and on
    *      that dense noise the iterative batch learners measured here
    *      (perceptron at lr 1, damped 1/e, averaged, pocket; Winnow;
    *      batch logistic GD over a lr×epoch grid) all limit-cycle or
    *      crawl into the majority-class corner — while the association
    *      ranking pins the truly predictive buckets at both SFs.
    *   2. WEIGH: NB log-count-ratio per selected bucket,
    *      floor(10⁶·ln((ct+1)(TN+B)/((cn+1)(TP+B)))) — factors cast to
    *      double BEFORE multiplying (the [[qSelectDsir]] overflow rule).
    *   3. CALIBRATE: the decision threshold is the train-margin cut
    *      maximizing train accuracy (grouped distinct margins + one
    *      bounded cumulative window; ties → smallest cut; the
    *      all-positive cut rides along as min−1) — the held-out
    *      threshold-picking every production quality filter does.
    *
    * Scale: the model is K weights + 1 threshold at ANY corpus size —
    * broadcasts forever; the corpus is scanned once for class counts
    * (map-side explode carrying the label, partial agg ⇒ ≤ B bucket
    * rows per task shuffle) and once for margins (a literal-map fold
    * over the token array — NO shuffle at all; the K-pair model is
    * collected at plan time like the IVF fits); the corpus token table
    * itself never shuffles anywhere; the threshold window runs over DISTINCT
    * margins of K small-integer-weighted counts (bounded far below
    * doc count; a 100 TB deployment quantizes margins to a fixed grid
    * if ever needed). Determinism: exact longs end to end except the
    * floored ln / ratio (the established 10⁻⁶ grid). Test accuracy
    * 0.96 at sf0.01 and 0.99 at sf0.1 against base rates of 0.77. */
  val qQualityClassifier: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("w", tokens(col("text")))
      .where(size(col("w")) > 0)
      .select(col("doc_id"), col("lang"),
        when(size(filter(col("w"), t => t.isin(STOPWORDS.map(lit): _*)))
          >= QG_MIN_STOPS, 1L).otherwise(-1L).as("y"),
        (hash28(concat(lit("clf_"), col("doc_id").cast("string"))) % 10 < 8).as("train"),
        col("w"))
    Scoped.share(docs) {
      // Class counts straight off a map-side explode carrying the
      // label: partial agg collapses each task to ≤ B bucket rows, so
      // the shuffle is B-row partials — the per-(doc_id, b) grouping
      // this replaces shuffled the whole token table.
      val cls = docs.where(col("train"))
        .select(col("y"), explode(col("w")).as("tok"))
        .withColumn("b", hash28(col("tok")) % CLF_B)
        .groupBy("b").agg(
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("ct"),
          sum(when(col("y") === 1L, 0L).otherwise(1L)).as("cn"))
      val sel = cls
        .crossJoin(broadcast(cls.agg(sum("ct").as("tp0"), sum("cn").as("tn0"))))
        .withColumn("assoc",
          floor(abs(col("ct").cast("double") / (col("tp0") + 1).cast("double")
            - col("cn").cast("double") / (col("tn0") + 1).cast("double")) * 1e12)
            .cast("long"))
        .withColumn("wv",
          floor(log(((col("ct") + 1).cast("double") * (col("tn0") + CLF_B).cast("double"))
            / ((col("cn") + 1).cast("double") * (col("tp0") + CLF_B).cast("double"))) * 1e6)
            .cast("long"))
        .orderBy(col("assoc").desc, col("b").asc).limit(CLF_K)
        .select("b", "wv")
      // The model is K (bucket, weight) pairs — collect it and score
      // map-side as a literal-map lookup folded over the token array
      // (the tiny-model-at-plan-time pattern of the IVF fits): the
      // margin pass touches no shuffle at all, at any corpus scale.
      val model = sel.collect().map(r => r.getLong(0) -> r.getLong(1))
      val wvMap = map(model.flatMap { case (b, wv) => Seq(lit(b), lit(wv)) }: _*)
      val dm = docs.select(col("doc_id"), col("lang"), col("y"), col("train"),
        aggregate(col("w"), lit(0L), (acc, t) =>
          acc + coalesce(element_at(wvMap, hash28(t) % CLF_B), lit(0L))).as("m"))
      val trm = dm.where(col("train")).groupBy("m").agg(
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 1L, 0L).otherwise(1L)).as("nn"))
      val cuts = trm
        .crossJoin(broadcast(trm.agg(sum("np").as("tpos"))))
        .select(col("m"),
          (col("tpos") - sum("np").over(boundedWindow(col("m").asc))
            + sum("nn").over(boundedWindow(col("m").asc))).as("acc"))
        .unionByName(trm.agg((min("m") - 1).as("m"), sum("np").as("acc")))
      val thr = cuts.orderBy(col("acc").desc, col("m").asc).limit(1)
        .select(col("m").as("t"))
      dm.where(!col("train"))
        .crossJoin(broadcast(thr))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("m") > col("t"), 1L).otherwise(0L)).as("n_pred_pos"),
          sum(when((col("m") > col("t")) === (col("y") === 1L), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("acc", round(col("n_correct").cast("double") / col("n_test"), 4))
        .orderBy("lang")
    }
  }

  /** Per-language quality funnel: how many documents pass each Gopher
    * rule and all of them together. Every rule is a per-row boolean on
    * the tokenized text — the whole profile is one map-side pass plus
    * one partial-aggregated groupBy(lang); at 100 TB the same plan
    * with `where(pass)` emits the filtered corpus instead. */
  val qQualityGopher: Q = (s, d) => {
    val w = col("w")
    val rules = Tables.documents(s, d)
      .withColumn("w", tokens(col("text")))
      .select(col("lang"),
        (size(w) >= QG_MIN_TOK && size(w) <= QG_MAX_TOK).cast("int").as("r_len"),
        (aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(w))
          .between(QG_MIN_WLEN, QG_MAX_WLEN).cast("int").as("r_wlen"),
        (size(filter(w, t => t.isin(STOPWORDS.map(lit): _*))) >= QG_MIN_STOPS)
          .cast("int").as("r_stop"),
        (size(array_distinct(w)).cast("double") / size(w) >= QG_MIN_DISTINCT)
          .cast("int").as("r_distinct"))
      .withColumn("r_all",
        (col("r_len") === 1 && col("r_wlen") === 1 &&
          col("r_stop") === 1 && col("r_distinct") === 1).cast("int"))
    rules.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("r_len").cast("long").as("pass_len"),
        sum("r_wlen").cast("long").as("pass_wlen"),
        sum("r_stop").cast("long").as("pass_stop"),
        sum("r_distinct").cast("long").as("pass_distinct"),
        sum("r_all").cast("long").as("pass_all"))
      .withColumn("pass_rate", round(col("pass_all") / col("n_docs"), 4))
      .orderBy("lang")
  }

  /** Word bigrams (frequency form, not distinct) of a token array. */
  private def bigrams(w: Column): Column =
    graft.functions.TextExpressions.shinglesAllFast(w, 2)

  /** Per-document repetition signals on the sampled corpus: distinct
    * token ratio and the mass of the single most frequent bigram
    * (Gopher's "top 2-gram fraction"). The bigram mode needs a
    * per-(doc, bigram) count — one partial-aggregated shuffle keyed by
    * (doc_id, bigram), then a per-doc max; the doc-level join is
    * co-partitioned on doc_id. Left join + coalesce keeps one-token
    * documents (no bigrams) in the profile. */
  val qTextRepetition: Q = (s, d) => {
    val base = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .withColumn("w", tokens(col("text")))
    Scoped.share(base) {
      val stats = base.select(col("doc_id"),
        size(col("w")).as("n_tok"), size(array_distinct(col("w"))).as("n_dist"))
      val topBg = base
        .select(col("doc_id"), explode(bigrams(col("w"))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(max("n").as("top_bg"))
      stats.join(topBg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          round(col("n_dist").cast("double") / col("n_tok"), 6).as("distinct_ratio"),
          coalesce(col("top_bg"), lit(0L)).as("top_bg"),
          round(lit(2.0) * coalesce(col("top_bg"), lit(0L)) / col("n_tok"), 6)
            .as("top_bigram_frac"))
        .orderBy("doc_id")
    }
  }

  // ---- PII detection / redaction ----
  // Patterns chosen to behave identically under Java regex (Spark) and
  // RE2 (DuckDB): no backreferences, no lookaround.
  private val RE_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val RE_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val RE_PHONE = "\\+1-555-\\d{4}"

  /** Deterministically inject PII into a subset of docs (the synthetic
    * corpus carries none), so detection counts vary 0/1 per kind. */
  private def withPii(textCol: Column, id: Column): Column = concat(
    textCol,
    when(id % 3 === 0,
      concat(lit(" contact doc"), id, lit("@mail.example.com"))).otherwise(lit("")),
    when(id % 4 === 0,
      concat(lit(" from 10."), id % 256, lit(".0."), id % 100)).otherwise(lit("")),
    when(id % 5 === 0,
      concat(lit(" call +1-555-"), lpad((id % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")))

  /** PII scrub: per-document counts of detected emails / IPv4s / phone
    * numbers plus an md5 fingerprint of the redacted text (masking
    * applied email → ip → phone, fixed order). Pure map-side — no
    * shuffle at any scale; the regexes are codegen'd built-ins. */
  val qPiiRedact: Q = (s, d) => {
    val pii = withPii(col("text"), col("doc_id"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(pii, RE_EMAIL, "[EMAIL]"),
          RE_IP, "[IP]"),
        RE_PHONE, "[PHONE]")
    Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(col("doc_id"),
        size(regexp_extract_all(pii, lit(RE_EMAIL), lit(0))).as("n_email"),
        size(regexp_extract_all(pii, lit(RE_IP), lit(0))).as("n_ip"),
        size(regexp_extract_all(pii, lit(RE_PHONE), lit(0))).as("n_phone"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  // ---- Z-order curve layout profile ----
  private val Z_BUCKET_SHIFT = 10 // 16-bit curve -> 64 buckets of 1024

  /** Z-order (Morton) layout profile over lineitem's (partkey, suppkey)
    * plane: every row's 8-bit coordinates interleave into a 16-bit
    * curve value; range-bucketing that value (top 6 bits) yields tiles
    * whose per-bucket bounding boxes are ≤ 32×32 — the locality that
    * makes one sort key prune scans on BOTH dimensions at 100 TB
    * (min/max file statistics on the curve value). Map-side curve
    * computation + one partial-aggregated shuffle on the bucket. */
  val qZorderCurve: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select(pmod(col("l_partkey"), lit(256)).as("x"),
        pmod(col("l_suppkey"), lit(256)).as("y"))
      .withColumn("z", zorder8(col("x"), col("y")))
      .groupBy(shiftrightunsigned(col("z"), Z_BUCKET_SHIFT).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("bucket")
  }

  /** Hilbert vs Morton clustering quality on the same (partkey,
    * suppkey) plane — the layout decision data-skipping engines
    * actually face (Delta's OPTIMIZE moved from z-order toward Hilbert
    * for exactly this measurement): range-bucket each curve value into
    * 64 tiles and compare per-tile bounding-box areas. Hilbert's
    * unit-step continuity (consecutive indices are ALWAYS adjacent
    * cells — pinned in GraftFunctionsSpec) yields strictly tighter
    * boxes than Morton's quadrant jumps; smaller summed area = fewer
    * false-positive file reads per 2-D range predicate.
    *
    * Scale: both curve values are pure map-side column arithmetic
    * (codegen'd, in-register); the plan is one partial-aggregated
    * shuffle to (curve, bucket) ≤ 128 rows, then a 2-row contraction.
    * At 100 TB the same hilbert column is the repartitionByRange /
    * file-sort key — the profile here is the evidence for choosing
    * it.
    *
    * Tiles are 1000 curve positions wide DELIBERATELY: at
    * power-of-4-aligned widths every tile of either curve is an exact
    * 2ᵏ×2ᵏ quadrant block (both profiles tie — measured), but real
    * file boundaries are row-count-aligned, not curve-aligned, and on
    * non-aligned tiles Morton's quadrant jumps inflate the boxes
    * while Hilbert's unit-step continuity keeps them tight. */
  private val HIL_TILE = 1000

  val qHilbertLocality: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select(pmod(col("l_partkey"), lit(256)).cast("int").as("x"),
        pmod(col("l_suppkey"), lit(256)).cast("int").as("y"))
      .withColumn("hv", hilbert8(col("x"), col("y")))
      .withColumn("zv", zorder8(col("x"), col("y")))
      .select(col("x"), col("y"), explode(array(
        struct(lit("hilbert").as("curve"), col("hv").cast("long").as("v")),
        struct(lit("morton").as("curve"), col("zv").cast("long").as("v")))).as("cv"))
      .select(col("x"), col("y"), col("cv.curve").as("curve"),
        (col("cv.v") / HIL_TILE).cast("int").as("bucket"))
      .groupBy("curve", "bucket")
      .agg(count(lit(1)).as("n"),
        ((max("x") - min("x") + 1) * (max("y") - min("y") + 1)).cast("long").as("area"))
      .groupBy("curve")
      .agg(count(lit(1)).as("n_buckets"),
        sum("n").cast("long").as("n_rows"),
        sum("area").cast("long").as("area_sum"),
        max("area").cast("long").as("area_max"))
      .orderBy("curve")
  }

  // ---- per-source caps + adaptive quality threshold -------------------

  private val CAP_PER_SOURCE = 10

  /** Per-source document cap (the CommonCrawl-style domain cap): within
    * each source keep the CAP best documents by a deterministic quality
    * order (n_chars desc, doc_id asc), profile kept/dropped and the
    * admission threshold per source. The rank is a per-key window — at
    * 100 TB it hash-partitions by source and sorts only within each
    * key's partition (and the custom TopKPerKey physical operator
    * bounds the per-partition state to CAP rows). The same plan with
    * `where(rn <= CAP)` on the doc rows emits the capped corpus. */
  val qCapPerSource: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rn") <= CAP_PER_SOURCE, 1L).otherwise(0L)).as("n_kept"),
        min(when(col("rn") <= CAP_PER_SOURCE, col("n_chars"))).as("admit_chars"))
      .orderBy("source")
  }

  private val QQ_FRAC = 0.25

  /** Adaptive per-language quality gate: keep documents at or above
    * their OWN language's P25 of n_chars — the threshold adapts to the
    * stratum instead of a global constant. Thresholds are one exact-
    * percentile aggregate (K rows — broadcast back); the gate itself is
    * map-side. Exact interpolated percentile matches DuckDB's
    * quantile_cont bit-for-bit on these integer inputs. */
  val qQualityQuantile: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val thr = docs.groupBy(col("lang").as("t_lang"))
      .agg(percentile(col("n_chars"), lit(QQ_FRAC)).as("thr"))
    docs.join(broadcast(thr), col("lang") === col("t_lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("n_chars") >= col("thr"), 1L).otherwise(0L)).as("n_kept"),
        round(first("thr"), 4).as("p25_chars"))
      .orderBy("lang")
  }

  // ---- CCNet perplexity buckets (head / middle / tail) ----------------

  /** CCNet's perplexity bucketing (Wenzek et al. 2020 §4.3): within
    * each language, split documents into head / middle / tail terciles
    * of LM surprise (lowest-surprise third = head = the cleanest slice;
    * CCNet trains on head+middle and ships the split as corpus
    * metadata). The LM is the corpus-self unigram model shared with
    * [[qQualityLm]], integer-scaled floor(·10⁶) per token, so every
    * per-doc statistic is an exact long.
    *
    * Exact terciles WITHOUT a corpus-sized sort: per-doc mean surprise
    * quantizes to an integer (`floor(ssum/n_tok)`, the ·10⁶ grain), a
    * partial-agg histogram groups by (lang, grain) — the window that
    * computes cumulative counts runs over the HISTOGRAM, whose per-lang
    * partition is bounded by the value range of the grain (≤ ~3·10⁷
    * rows — ln(10⁻¹³)·10⁶ — regardless of corpus size), never over
    * document rows. Tercile cuts reduce to 2 longs per language,
    * broadcast back; the bucket assignment is map-side. Ties at a cut
    * all land on the lower bucket (`<=`), so the split is deterministic
    * in both engines. */
  val qQualityBuckets: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    val ds = HeavyHitters.attachKeyCount(tk, "tok", "c", totalOut = Some("total"))
      .withColumn("surp",
        floor(-log(col("c").cast("double") / col("total").cast("double")) * 1e6)
          .cast("long"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"), sum("surp").as("ssum"))
      .withColumn("sper", floor(col("ssum") / col("n_tok")).cast("long"))
    val hist = ds.groupBy("lang", "sper").agg(count(lit(1)).as("n"))
    val cum = hist.withColumn("cn",
      sum("n").over(Window.partitionBy("lang").orderBy("sper")))
    val tot = ds.groupBy(col("lang").as("t_lang")).agg(count(lit(1)).as("nl"))
    val cuts = cum.join(broadcast(tot), col("lang") === col("t_lang"))
      .groupBy(col("lang").as("c_lang"))
      .agg(min(when(col("cn") * 3 >= col("nl"), col("sper"))).as("c1"),
        min(when(col("cn") * 3 >= col("nl") * 2, col("sper"))).as("c2"))
    ds.join(broadcast(cuts), col("lang") === col("c_lang"))
      .withColumn("bucket",
        when(col("sper") <= col("c1"), "head")
          .when(col("sper") <= col("c2"), "middle").otherwise("tail"))
      .groupBy("lang", "bucket")
      // Overflow envelope (round 9): per-DOC ssum is long-safe (a 10⁶-
      // token doc × surp ≤ 2.8·10⁷ stays under 2.8·10¹³), but the
      // per-(lang, bucket) sum of ssum is corpus-scale — ≈ 2.8·10¹⁹ at
      // 10¹² tokens, past int64. Widened to decimal(38,0) on the
      // #docs-row aggregate only (DuckDB sums BIGINT into HUGEINT, so
      // the oracle was never at risk; the double quotient is
      // bit-identical either way).
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("tok_total"),
        round(sum(col("ssum").cast("decimal(38,0)")).cast("double")
          / (sum("n_tok") * lit(1000000.0)), 4)
          .as("mean_surprise"))
      .orderBy("lang", "bucket")
  }

  // ---- fixed-vocabulary OOV audit -------------------------------------

  private val OOV_V = 16 // top-V corpus vocabulary (10⁵ in practice)

  /** Out-of-vocabulary audit: the rate of token occurrences outside the
    * corpus's top-[[OOV_V]] vocabulary, per (lang, source) — the check
    * a tokenizer-training or vocab-freeze step runs before committing a
    * vocabulary (high OOV in a stratum means the vocab under-serves
    * it). The vocab is FIXED-SIZE by construction (top-V by count, ties
    * by token), so it broadcasts at any corpus scale — membership is a
    * map-side broadcast left-join; the only shuffles are the two
    * partial-agg groupBys (token counts; stratum profile), both
    * map-side combined. Top-V selection is a distributed TakeOrdered,
    * never a global sort. */
  val qVocabOov: Q = (s, d) => {
    val tk = Tables.documents(s, d)
      .select(col("lang"), col("source"), explode(tokens(col("text"))).as("tok"))
    val vocab = tk.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(OOV_V)
      .select(col("tok").as("v_tok"))
    tk.join(broadcast(vocab), col("tok") === col("v_tok"), "left")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("v_tok").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tok"), 4))
      .orderBy("lang", "source")
  }

  // ---- per-source curation profile (RefinedWeb-style) -----------------

  private val SRC_MAX_DUP = 0.2 // drop a source above this exact-dup rate

  /** Source-level curation profile (the RefinedWeb/CommonCrawl move of
    * judging whole domains, Penedo et al. 2023 §3: a domain whose pages
    * are mostly mirror copies is dropped wholesale before any per-doc
    * work): per source — document count, distinct-text count (exact,
    * via md5 digest), the implied duplicate rate, language breadth,
    * token volume, and the keep/drop flag at [[SRC_MAX_DUP]].
    *
    * Shape: one partial-aggregated groupBy(source) carrying
    * count-distinct over the digest and lang — Spark plans these as
    * two-phase expand+agg where the per-task partial dedups each
    * (source, digest) to one row before the shuffle, so hot sources
    * cost distinct-values-per-task, not rows. No window, no join; the
    * profile is K rows for K sources. */
  val qSourceStats: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), col("lang"), md5(col("text")).as("digest"),
        col("n_chars"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("digest")).as("n_uniq"),
        countDistinct(col("lang")).as("n_langs"),
        sum("n_tok").as("tok_total"),
        round(sum("n_chars").cast("double") / count(lit(1)), 4).as("mean_chars"))
      .withColumn("dup_rate",
        round((col("n_docs") - col("n_uniq")).cast("double") / col("n_docs"), 4))
      .withColumn("keep", col("dup_rate") <= SRC_MAX_DUP)
      .select("source", "n_docs", "n_uniq", "dup_rate", "n_langs",
        "tok_total", "mean_chars", "keep")
      .orderBy("source")
  }

  private val WIN_LO = 5  // winsorization percentile edges (P5 / P95)
  private val WIN_HI = 95

  /** Winsorized mean — the robust-statistics companion of
    * [[qQualityMad]] (Tukey's recipe for heavy-tailed quality
    * metrics: clamp, don't drop): per language, doc lengths clamp
    * into the exact [P[[WIN_LO]], P[[WIN_HI]]] band before averaging,
    * so a handful of monster documents stops dominating the mean the
    * mixture planner reads.
    *
    * Exact percentile edges WITHOUT a corpus sort — the
    * q_quality_buckets histogram posture: group to a (lang, n_chars)
    * histogram (partial-agg), run the cumulative window over the
    * HISTOGRAM (per-lang partition bounded by the value range, not
    * the corpus), take the smallest value whose cumulative count
    * reaches ceil(p·n) (exact integer rank arithmetic, ties land
    * deterministically on the lower value), broadcast the two edges
    * per language back, clamp map-side. */
  val qQualityWinsor: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("lang"), col("n_chars"))
    val hist = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("n"))
    val cum = hist.withColumn("cn",
      sum("n").over(Window.partitionBy("lang").orderBy("n_chars")))
    val tot = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val edges = cum.join(tot, "lang")
      .groupBy("lang")
      .agg(first("n_docs").as("n_docs"),
        min(when(col("cn") >= expr(s"(n_docs * $WIN_LO + 99) div 100"),
          col("n_chars"))).as("lo"),
        min(when(col("cn") >= expr(s"(n_docs * $WIN_HI + 99) div 100"),
          col("n_chars"))).as("hi"))
    docs.join(broadcast(edges), "lang")
      .groupBy("lang")
      .agg(first("n_docs").as("n_docs"), first("lo").as("p_lo"),
        first("hi").as("p_hi"),
        round(avg("n_chars"), 4).as("mean_raw"),
        round(avg(greatest(col("lo"), least(col("hi"), col("n_chars")))
          .cast("double")), 4).as("mean_winsor"))
      .orderBy("lang")
  }

  /** Two-sample Kolmogorov–Smirnov drift gate — per (lang, source)
    * one-vs-rest distribution shift on document length, the check a
    * corpus pipeline runs when a source is re-crawled or a new dump
    * lands: a high KS against the rest of the language's corpus flags
    * the source whose length profile drifted (truncation bugs,
    * boilerplate regressions, contamination) before it skews mixing
    * weights. KS = sup_x |F_source(x) − F_rest(x)|; the supremum over
    * all real x is attained at a support point of either sample, so
    * the max over the language's DISTINCT length grid is exact.
    *
    * Determinism/overflow: both CDFs are floored to integer ppm
    * (`cum·10⁶ div n` — the repo's ratio convention), so the reported
    * statistic is a ppm-quantized KS (within 2 ppm of the real-valued
    * sup), identical in both engines by construction, and every
    * intermediate fits a long up to ~9·10¹² docs per group (no
    * decimal promotion needed; the EXACT cross-product form
    * `cum_s·n_r − cum_r·n_s` would overflow long at ~10¹¹ docs).
    *
    * Shape at 100 TB: ONE corpus-sized scan — the (lang, source,
    * n_chars) histogram (map-side partial agg absorbs the Zipf mass);
    * everything after runs on the histogram, whose size is bounded by
    * |distinct lengths| × |sources|, not docs. The grid × sources
    * fan-out is a bounded equi-join on lang (sources are bounded
    * entities, the [[qSourceOverlap]] argument); the cumulative sums
    * are per-(lang, source) windows over the grid — thousands of rows
    * per partition at any corpus size. Single-source languages have
    * no rest sample and are excluded (n_rest = 0). */
  val qQualityKs: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.documents(s, d)
      .select(col("lang"), col("source"), col("n_chars").as("x"))
      .groupBy("lang", "source", "x").agg(count(lit(1)).as("n"))
    Scoped.share(c) {
      val grid = c.select("lang", "x").distinct()
      val srcs = c.groupBy("lang", "source").agg(sum("n").as("n_s"))
      val tot = c.groupBy("lang").agg(sum("n").as("n_all"))
      // lang-wide cumulative at every grid point (window over the
      // per-(lang, x) histogram — grid-sized, not corpus-sized)
      val cumAll = c.groupBy("lang", "x").agg(sum("n").as("n_x"))
        .withColumn("cum_all",
          sum("n_x").over(Window.partitionBy("lang").orderBy("x")))
        .select("lang", "x", "cum_all")
      // per-source cumulative at every grid point: fan the grid out to
      // the lang's sources (bounded), attach own counts, window-sum
      val cum = grid.join(srcs.select("lang", "source"), "lang")
        .join(c, Seq("lang", "source", "x"), "left")
        .select(col("lang"), col("source"), col("x"),
          coalesce(col("n"), lit(0L)).as("n"))
        .withColumn("cum_s",
          sum("n").over(Window.partitionBy("lang", "source").orderBy("x")))
      cum.join(cumAll, Seq("lang", "x"))
        .join(srcs, Seq("lang", "source"))
        .join(tot, "lang")
        .where(col("n_all") > col("n_s"))
        .select(col("lang"), col("source"), col("n_s"),
          (col("n_all") - col("n_s")).as("n_rest"),
          abs(expr("cum_s * 1000000L div n_s") -
            expr("(cum_all - cum_s) * 1000000L div (n_all - n_s)")).as("dppm"))
        .groupBy("lang", "source")
        .agg(first("n_s").as("n_s"), first("n_rest").as("n_rest"),
          max("dppm").as("ks_ppm"))
        .orderBy("lang", "source")
    }
  }

  private val OVL_N = 8 // word-gram order for the cross-source overlap

  /** Cross-source duplication matrix — the inter-source counterpart of
    * [[qSourceStats]]'s intra-source dup rate (the question mixture
    * design asks BEFORE weighting sources: how much of src_a is
    * already inside src_b? Soldaini et al. 2024's Dolma reports
    * exactly this before dedup): distinct word-[[OVL_N]]-gram
    * shingles per source, pairwise shared-shingle counts, and the
    * containment ratio shared/min(|A|,|B|).
    *
    * Shape: docs never pair — the plan is (source, shingle) distinct
    * (two-phase partial dedup), a self-equi-join ON SHINGLE whose
    * per-key fan-out is bounded by the SOURCE COUNT squared (sources
    * are bounded entities — 20 here, hundreds in production — so the
    * hub-key blowup that forces banding in doc-level dedup cannot
    * occur), and a K²-row rollup joined to per-source totals.
    * Counts exact; one rounded divide per pair. */
  val qSourceOverlap: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .select(col("source"), explode(shingles(tokens(col("text")), OVL_N)).as("sp"))
      .distinct()
    Scoped.share(sh) {
      val tot = sh.groupBy("source").agg(count(lit(1)).as("n"))
      sh.select(col("source").as("src_a"), col("sp"))
        .join(sh.select(col("source").as("src_b"), col("sp")), "sp")
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
        .join(tot.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
        .join(tot.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
          round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 4)
            .as("containment"))
        .orderBy("src_a", "src_b")
    }
  }

  /** k-anonymity / l-diversity release audit (Sweeney 2002; Machanavajjhala
    * et al. 2007) — the privacy check run before a structured table leaves
    * the lake, sibling of the PII scrub for freetext: records sharing a
    * quasi-identifier (QI) combination form an equivalence class; k = class
    * size bounds re-identification risk, l = distinct sensitive values per
    * class bounds attribute disclosure. The whole GENERALIZATION ladder
    * a release pipeline walks until k ≥ 5 — the quasi-identifier's
    * balance band coarsened 100-wide → 1000-wide → dropped, nation
    * always kept — is evaluated in ONE pass via GROUPING SETS with
    * grouping() labeling the rung; the sensitive attribute (market
    * segment) is never part of any QI level. The fine rung genuinely
    * produces singleton classes (k=1 re-identifiable, l=1 leaking the
    * member's segment outright), so every audit column is exercised.
    * Per level: class count, min k, records in k<5 classes and their
    * exact ppm share (integer div), min l, and l=1 class count.
    *
    * Shape: one partial-aggregable grouping-sets aggregate (the
    * 3-level expand is the only exchange; distinct-segment per class
    * is bounded by the 5-value segment alphabet) + a 3-row
    * re-aggregate. No window, no join. */
  val qPrivacyKanon: Q = (s, d) => {
    val base = Tables.customer(s, d)
      .select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
        expr("cast(floor(c_acctbal/100) as int)").as("b100"),
        expr("cast(floor(c_acctbal/1000) as int)").as("b1000"))
    val classes = base
      .groupingSets(
        Seq(Seq(col("nk"), col("b100")), Seq(col("nk"), col("b1000")),
          Seq(col("nk"))),
        col("nk"), col("b100"), col("b1000"))
      .agg(count(lit(1)).as("k"), countDistinct(col("seg")).as("l"),
        expr("cast(grouping(b100) + 2*grouping(b1000) as int)").as("lvl"))
    classes.groupBy(expr(
        """CASE lvl WHEN 2 THEN 'L0_nation_bal100'
                    WHEN 1 THEN 'L1_nation_bal1000'
                    ELSE 'L2_nation_only' END""").as("level"))
      .agg(count(lit(1)).as("n_classes"),
        sum("k").as("n_records"),
        min("k").as("min_k"),
        sum(when(col("k") < 5, col("k")).otherwise(0L)).as("records_k_lt5"),
        min("l").as("min_l"),
        sum(when(col("l") === 1, 1L).otherwise(0L)).as("classes_l_eq1"))
      .withColumn("risk_ppm",
        expr("1000000 * records_k_lt5 div n_records"))
      .orderBy("level")
  }

  /** Width of one skyline bucket on the length axis (chars). */
  private val SKY_BUCKET_W = 256

  /** 2-D Pareto frontier (skyline) over documents on (length,
    * lexical-diversity) — multi-objective corpus selection: keep the
    * documents no other document beats on BOTH length (n_chars) and
    * type-token ratio; everything dominated is a candidate to drop.
    * The skyline operator (Börzsönyi et al. ICDE 2001) composed from
    * relational pieces, no quadratic dominance self-join anywhere.
    *
    * Metric grain: ttr_milli = (distinct_toks · 1000) div toks —
    * integer in both engines, no FP boundary. Per distinct length the
    * best (max ttr, then min doc_id as witness) survives first; the
    * frontier test is then "ttr strictly above every point with
    * strictly greater length".
    *
    * Shape at scale — the distributed skyline recipe: (1) one
    * partial-aggregated groupBy(n_chars) collapses the corpus to ≤
    * |distinct lengths| points; (2) points bucket by length range and
    * each bucket computes its LOCAL frontier with a bucket-partitioned
    * window (parallel, no global sort); (3) a bucket-level max-ttr
    * table (|buckets| rows, broadcast) supplies "best in any higher
    * bucket", and a point survives iff it beats both the local running
    * max and every higher bucket's max. No stage ever holds more than
    * one bucket's points in a single task; the only driver-sized
    * object is the |buckets|-row summary. The oracle replays the
    * equivalent single-window form — same set, different plan. */
  val qCurationSkyline: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.documents(s, d)
      .withColumn("w", tokens(col("text")))
      // zero-token docs have no TTR; filtered identically in the oracle
      // (DuckDB's `//` would raise on 0 where Spark's `div` yields NULL)
      .where(size(col("w")) > 0)
      .select(col("doc_id"), col("n_chars").as("len"),
        expr("size(array_distinct(w)) * 1000L div size(w)").as("ttr_milli"))
      .groupBy("len")
      .agg(max("ttr_milli").as("ttr"), count(lit(1)).as("n_docs"))
    val bucketed = pts.withColumn("bkt", expr(s"len div $SKY_BUCKET_W"))
    val byBkt = Window.partitionBy("bkt").orderBy(col("len").desc)
    val localMax = max("ttr").over(byBkt.rowsBetween(Window.unboundedPreceding, -1))
    val hiW = Window.orderBy(col("bkt").desc).rowsBetween(Window.unboundedPreceding, -1)
    val hi = bucketed.groupBy("bkt").agg(max("ttr").as("bmax"))
      .withColumn("hi_max", max("bmax").over(hiW))
      .select("bkt", "hi_max")
    bucketed
      .withColumn("lmax", localMax)
      .join(broadcast(hi), "bkt")
      // greatest() skips nulls; both-null (the single highest bucket's
      // longest point) falls back to an unbeatable-by-nothing floor
      .where(col("ttr") > coalesce(greatest(col("lmax"), col("hi_max")),
        lit(Long.MinValue)))
      .select(col("len"), col("ttr").as("ttr_milli"), col("n_docs"))
      .orderBy(col("len"))
  }

  def queries: Map[String, Q] = Map(
    "q_privacy_kanon" -> qPrivacyKanon,
    "q_curation_skyline" -> qCurationSkyline,
    "q_profile_drift" -> qProfileDrift,
    "q_select_dsir" -> qSelectDsir,
    "q_quality_mad" -> qQualityMad,
    "q_quality_gopher" -> qQualityGopher,
    "q_quality_classifier" -> qQualityClassifier,
    "q_quality_lm" -> qQualityLm,
    "q_quality_bigram" -> qQualityBigram,
    "q_quality_kn" -> qQualityKn,
    "q_quality_kn_mod" -> qQualityKnMod,
    "q_quality_kn_tri" -> qQualityKnTri,
    "q_text_repetition" -> qTextRepetition,
    "q_pii_redact" -> qPiiRedact,
    "q_zorder_curve" -> qZorderCurve,
    "q_hilbert_locality" -> qHilbertLocality,
    "q_select_rho" -> qSelectRho,
    "q_cap_per_source" -> qCapPerSource,
    "q_quality_quantile" -> qQualityQuantile,
    "q_quality_buckets" -> qQualityBuckets,
    "q_vocab_oov" -> qVocabOov,
    "q_source_stats" -> qSourceStats,
    "q_source_overlap" -> qSourceOverlap,
    "q_quality_winsor" -> qQualityWinsor,
    "q_quality_ks" -> qQualityKs,
    "q_filter_blocklist" -> qFilterBlocklist,
    "q_filter_ac" -> qFilterAc
  )

  private val toksAll =
    """list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '')"""

  private val stopsIn = STOPWORDS.map(w => s"'$w'").mkString("(", ",", ")")

  /** DuckDB-side PII synthesis mirroring [[withPii]]. */
  private val piiSql =
    """text
      | || CASE WHEN doc_id % 3 = 0
      |      THEN ' contact doc' || doc_id || '@mail.example.com' ELSE '' END
      | || CASE WHEN doc_id % 4 = 0
      |      THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ELSE '' END
      | || CASE WHEN doc_id % 5 = 0
      |      THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"""
      .stripMargin.replace("\n", "")

  /** 16-term DuckDB bit-interleave mirroring [[GraftFunctions.zorder8]]. */
  private val zorderSql: String =
    (0 until 8).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  /** 8-stage CTE chain mirroring [[GraftFunctions.hilbert8Ref]]'s exact
    * iteration (generated from the same s-loop so the three
    * implementations cannot drift): stage k holds (x, y, hx, hy, hd)
    * after consuming bit s = 128 >> k. */
  private val hilbertCtes: String = {
    // inner subquery with fresh names (hd2/hx2/hy2) — DuckDB's lateral
    // column aliases would otherwise bind the hy-CASE's `hx` to the
    // NEW hx alias defined just before it in the same SELECT list
    val stages = Iterator.iterate(128)(_ >> 1).takeWhile(_ > 0).zipWithIndex.map {
      case (s, k) =>
        s"""hil${k + 1} AS (SELECT x, y, hd2 AS hd, hx2 AS hx, hy2 AS hy FROM (
           |  SELECT x, y,
           |    hd + ${s.toLong * s} * xor(3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
           |                               (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)) AS hd2,
           |    CASE WHEN (hy & $s) = 0
           |         THEN (CASE WHEN (hx & $s) > 0 THEN 255 - hy ELSE hy END)
           |         ELSE hx END AS hx2,
           |    CASE WHEN (hy & $s) = 0
           |         THEN (CASE WHEN (hx & $s) > 0 THEN 255 - hx ELSE hx END)
           |         ELSE hy END AS hy2
           |  FROM hil$k) t${k + 1})""".stripMargin
    }
    (Seq("hil0 AS (SELECT x, y, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd FROM c)") ++
      stages).mkString(",\n")
  }

  def oracleSql: Map[String, String] = Map(
    // skyline oracle: the equivalent single-window form (max ttr over
    // strictly-longer points in len-desc order) — same frontier set,
    // different plan than the bucketed distributed recipe
    "q_curation_skyline" ->
      s"""WITH t AS (SELECT doc_id, n_chars AS len, $toksAll AS w
         |           FROM documents),
         |m AS (SELECT len, (len(list_distinct(w)) * 1000) // len(w) AS ttr
         |      FROM t WHERE len(w) > 0),
         |p AS (SELECT len, max(ttr) AS ttr, count(*) AS n_docs
         |      FROM m GROUP BY len),
         |f AS (SELECT len, ttr, n_docs, max(ttr) OVER (
         |        ORDER BY len DESC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
         |      FROM p)
         |SELECT len, ttr AS ttr_milli, n_docs
         |FROM f WHERE runmax IS NULL OR ttr > runmax
         |ORDER BY len""".stripMargin,
    "q_privacy_kanon" ->
      """WITH c AS (
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |         CAST(floor(c_acctbal/100) AS INT) AS b100,
        |         CAST(floor(c_acctbal/1000) AS INT) AS b1000
        |  FROM customer),
        |cls AS (
        |  SELECT count(*) AS k, count(DISTINCT seg) AS l,
        |         CAST(GROUPING(b100) + 2*GROUPING(b1000) AS INT) AS lvl
        |  FROM c GROUP BY GROUPING SETS ((nk, b100), (nk, b1000), (nk)))
        |SELECT CASE lvl WHEN 2 THEN 'L0_nation_bal100'
        |                WHEN 1 THEN 'L1_nation_bal1000'
        |                ELSE 'L2_nation_only' END AS level,
        |  count(*) AS n_classes,
        |  CAST(sum(k) AS BIGINT) AS n_records,
        |  min(k) AS min_k,
        |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS records_k_lt5,
        |  min(l) AS min_l,
        |  CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS classes_l_eq1,
        |  1000000 * CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |    // CAST(sum(k) AS BIGINT) AS risk_ppm
        |FROM cls GROUP BY lvl ORDER BY 1""".stripMargin,
    "q_profile_drift" ->
      s"""WITH t AS (SELECT doc_id, lang, source, len($toksAll) AS n_tok FROM documents),
         |o AS (SELECT lang, count(*) AS n_old, sum(n_tok) AS tok_old,
         |        count(DISTINCT source) AS src_old
         |      FROM t WHERE doc_id % $DRIFT_MOD = 0 GROUP BY lang),
         |n AS (SELECT lang, count(*) AS n_new, sum(n_tok) AS tok_new,
         |        count(DISTINCT source) AS src_new
         |      FROM t WHERE doc_id % $DRIFT_MOD != 0 GROUP BY lang),
         |j AS (SELECT coalesce(o.lang, n.lang) AS lang,
         |        coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new,
         |        coalesce(src_old, 0) AS src_old, coalesce(src_new, 0) AS src_new,
         |        round(CAST(tok_old AS DOUBLE) / n_old, 4) AS mean_old,
         |        round(CAST(tok_new AS DOUBLE) / n_new, 4) AS mean_new
         |      FROM o FULL OUTER JOIN n ON o.lang = n.lang)
         |SELECT lang, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
         |  CAST(src_old AS BIGINT) AS src_old, CAST(src_new AS BIGINT) AS src_new,
         |  mean_old, mean_new, round(mean_new - mean_old, 4) AS mean_shift
         |FROM j ORDER BY lang""".stripMargin,
    "q_select_dsir" ->
      s"""WITH tk AS (SELECT doc_id, lang, (doc_id % $DSIR_MOD = 0) AS tgt,
         |    CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT) % $DSIR_B AS b
         |  FROM (SELECT doc_id, lang, unnest($toksAll) AS tok FROM documents) u),
         |c AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         |        sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cp
         |      FROM tk GROUP BY b),
         |t AS (SELECT sum(ct) AS tt, sum(cp) AS tp FROM c),
         |m AS (SELECT b,
         |        CAST(floor(ln((CAST(ct + 1 AS DOUBLE) * CAST(tp + $DSIR_B AS DOUBLE))
         |                    / (CAST(cp + 1 AS DOUBLE) * CAST(tt + $DSIR_B AS DOUBLE))) * 1000000) AS BIGINT) AS w
         |      FROM c, t),
         |ds AS (SELECT tk.doc_id, tk.lang, count(*) AS n_tok, sum(w) AS lw
         |       FROM tk JOIN m USING (b) WHERE NOT tk.tgt GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
         |        round(CAST(lw AS DOUBLE) / (n_tok * 1000000.0), 4) AS importance
         |      FROM ds)
         |SELECT rn, doc_id, lang, n_tok, importance FROM (
         |  SELECT *, row_number() OVER (ORDER BY importance DESC, doc_id ASC) AS rn
         |  FROM r) q
         |WHERE rn <= $DSIR_TOPK ORDER BY rn""".stripMargin,
    "q_quality_classifier" -> {
      val h28 = (x: String) => s"CAST(concat('0x', substr(md5($x), 1, 7)) AS BIGINT)"
      s"""WITH d AS (SELECT doc_id, lang, $toksAll AS w FROM documents),
         |lab AS (SELECT doc_id, lang,
         |    CASE WHEN len(list_filter(w, x -> x IN $stopsIn)) >= $QG_MIN_STOPS
         |    THEN 1 ELSE -1 END AS y,
         |    ${h28(s"concat('clf_', CAST(doc_id AS VARCHAR))")} % 10 < 8 AS train
         |  FROM d WHERE len(w) > 0),
         |feat AS (SELECT doc_id, ${h28("tok")} % $CLF_B AS b, CAST(count(*) AS BIGINT) AS x
         |  FROM (SELECT doc_id, unnest(w) AS tok FROM d WHERE len(w) > 0) u
         |  GROUP BY 1, 2),
         |cls AS (SELECT b,
         |    CAST(sum(CASE WHEN lab.y = 1 THEN x ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN lab.y = 1 THEN 0 ELSE x END) AS BIGINT) AS cn
         |  FROM feat JOIN lab USING (doc_id) WHERE lab.train GROUP BY b),
         |tots AS (SELECT CAST(sum(ct) AS BIGINT) AS tp0, CAST(sum(cn) AS BIGINT) AS tn0 FROM cls),
         |sel AS (SELECT b,
         |    CAST(floor(ln((CAST(ct + 1 AS DOUBLE) * CAST(tn0 + $CLF_B AS DOUBLE))
         |      / (CAST(cn + 1 AS DOUBLE) * CAST(tp0 + $CLF_B AS DOUBLE))) * 1000000) AS BIGINT) AS wv
         |  FROM cls, tots
         |  ORDER BY CAST(floor(abs(CAST(ct AS DOUBLE) / CAST(tp0 + 1 AS DOUBLE)
         |    - CAST(cn AS DOUBLE) / CAST(tn0 + 1 AS DOUBLE)) * 1000000000000) AS BIGINT) DESC,
         |    b ASC
         |  LIMIT $CLF_K),
         |mg AS (SELECT lab.doc_id, lab.lang, lab.y, lab.train,
         |    CAST(coalesce(sum(feat.x * sel.wv), 0) AS BIGINT) AS m
         |  FROM lab LEFT JOIN feat ON lab.doc_id = feat.doc_id
         |    LEFT JOIN sel ON feat.b = sel.b
         |  GROUP BY 1, 2, 3, 4),
         |trm AS (SELECT m,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |    CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM mg WHERE train GROUP BY m),
         |tpos AS (SELECT CAST(sum(np) AS BIGINT) AS tp FROM trm),
         |cuts AS (
         |  SELECT m, tp - sum(np) OVER (ORDER BY m) + sum(nn) OVER (ORDER BY m) AS acc
         |  FROM trm, tpos
         |  UNION ALL
         |  SELECT (SELECT min(m) - 1 FROM trm) AS m, tp AS acc FROM tpos),
         |thr AS (SELECT m AS t FROM cuts ORDER BY acc DESC, m ASC LIMIT 1)
         |SELECT lang, count(*) AS n_test,
         |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(sum(CASE WHEN m > t THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
         |  CAST(sum(CASE WHEN (m > t) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN (m > t) = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 4) AS acc
         |FROM mg, thr WHERE NOT train
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q_quality_lm" ->
      s"""WITH tk AS (SELECT doc_id, lang, unnest($toksAll) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         |tt AS (SELECT sum(c) AS total FROM c),
         |sp AS (SELECT tok,
         |         CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS surp
         |       FROM c, tt),
         |ds AS (SELECT tk.doc_id, tk.lang, count(*) AS n_tok, sum(surp) AS ssum
         |       FROM tk JOIN sp USING (tok) GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, n_tok,
         |        round(CAST(ssum AS DOUBLE) / (n_tok * 1000000.0), 4) AS surprise
         |      FROM ds)
         |SELECT rn, doc_id, lang, n_tok, surprise FROM (
         |  SELECT *, row_number() OVER (ORDER BY surprise DESC, doc_id ASC) AS rn FROM r) q
         |WHERE rn <= $LM_TOPK ORDER BY rn""".stripMargin,
    "q_quality_gopher" ->
      s"""WITH t AS (SELECT lang, $toksAll AS w FROM documents),
         |r AS (SELECT lang,
         |  CASE WHEN len(w) BETWEEN $QG_MIN_TOK AND $QG_MAX_TOK THEN 1 ELSE 0 END AS r_len,
         |  CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
         |       BETWEEN $QG_MIN_WLEN AND $QG_MAX_WLEN THEN 1 ELSE 0 END AS r_wlen,
         |  CASE WHEN len(list_filter(w, x -> x IN $stopsIn)) >= $QG_MIN_STOPS
         |       THEN 1 ELSE 0 END AS r_stop,
         |  CASE WHEN CAST(len(list_distinct(w)) AS DOUBLE) / len(w) >= $QG_MIN_DISTINCT
         |       THEN 1 ELSE 0 END AS r_distinct
         |  FROM t),
         |f AS (SELECT lang, r_len, r_wlen, r_stop, r_distinct,
         |  CASE WHEN r_len + r_wlen + r_stop + r_distinct = 4 THEN 1 ELSE 0 END AS r_all
         |  FROM r)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(r_len) AS BIGINT) AS pass_len,
         |  CAST(sum(r_wlen) AS BIGINT) AS pass_wlen,
         |  CAST(sum(r_stop) AS BIGINT) AS pass_stop,
         |  CAST(sum(r_distinct) AS BIGINT) AS pass_distinct,
         |  CAST(sum(r_all) AS BIGINT) AS pass_all,
         |  round(CAST(sum(r_all) AS DOUBLE) / count(*), 4) AS pass_rate
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksAll AS w FROM documents WHERE doc_id % 20 = 0),
         |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
         |       FROM t, unnest(range(1, len(w))) u(i)),
         |m AS (SELECT doc_id, max(n) AS top_bg FROM (
         |        SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg) c
         |      GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(w) AS INT) AS n_tok,
         |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS distinct_ratio,
         |  CAST(coalesce(top_bg, 0) AS BIGINT) AS top_bg,
         |  round(2.0 * coalesce(top_bg, 0) / len(w), 6) AS top_bigram_frac
         |FROM t LEFT JOIN m ON t.doc_id = m.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_pii_redact" ->
      s"""WITH p AS (SELECT doc_id, $piiSql AS s
         |           FROM documents WHERE doc_id % 20 = 0)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(s, '$RE_EMAIL')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(s, '$RE_IP')) AS INT) AS n_ip,
         |  CAST(len(regexp_extract_all(s, '$RE_PHONE')) AS INT) AS n_phone,
         |  md5(regexp_replace(regexp_replace(regexp_replace(s,
         |    '$RE_EMAIL', '[EMAIL]', 'g'),
         |    '$RE_IP', '[IP]', 'g'),
         |    '$RE_PHONE', '[PHONE]', 'g')) AS redacted_md5
         |FROM p ORDER BY doc_id""".stripMargin,
    "q_zorder_curve" ->
      s"""WITH c AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
         |z AS (SELECT x, y, $zorderSql AS z FROM c)
         |SELECT CAST(z >> $Z_BUCKET_SHIFT AS INT) AS bucket, count(*) AS n,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_hilbert_locality" ->
      s"""WITH c AS (SELECT CAST(l_partkey % 256 AS INT) AS x,
         |             CAST(l_suppkey % 256 AS INT) AS y FROM lineitem),
         |$hilbertCtes,
         |curves AS (SELECT 'hilbert' AS curve, x, y, hd AS v FROM hil8
         |           UNION ALL
         |           SELECT 'morton' AS curve, x, y, CAST($zorderSql AS BIGINT) AS v FROM c),
         |tiles AS (SELECT curve, CAST(v // $HIL_TILE AS INT) AS bucket,
         |            count(*) AS n,
         |            CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS BIGINT) AS area
         |          FROM curves GROUP BY curve, bucket)
         |SELECT curve, count(*) AS n_buckets,
         |  CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(sum(area) AS BIGINT) AS area_sum,
         |  CAST(max(area) AS BIGINT) AS area_max
         |FROM tiles GROUP BY curve ORDER BY curve""".stripMargin,
    "q_cap_per_source" ->
      s"""WITH r AS (SELECT source, doc_id, n_chars,
         |  row_number() OVER (PARTITION BY source
         |                     ORDER BY n_chars DESC, doc_id ASC) AS rn
         |  FROM documents)
         |SELECT source, count(*) AS n_total,
         |  CAST(sum(CASE WHEN rn <= $CAP_PER_SOURCE THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  min(CASE WHEN rn <= $CAP_PER_SOURCE THEN n_chars END) AS admit_chars
         |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q_quality_mad" ->
      s"""WITH t AS (SELECT doc_id, lang, CAST(len($toksAll) AS BIGINT) AS n_tok
         |  FROM documents),
         |med AS (SELECT lang AS m_lang, quantile_cont(n_tok, 0.5) AS med
         |        FROM t GROUP BY lang),
         |dv AS (SELECT t.lang, t.n_tok, med.med FROM t JOIN med ON t.lang = m_lang),
         |mad AS (SELECT lang AS d_lang, quantile_cont(abs(n_tok - med), 0.5) AS mad
         |        FROM dv GROUP BY lang),
         |z AS (SELECT dv.lang, dv.n_tok, dv.med, mad.mad,
         |        CASE WHEN mad.mad > 0
         |          THEN $MAD_K * (dv.n_tok - dv.med) / mad.mad END AS z
         |      FROM dv JOIN mad ON dv.lang = d_lang)
         |SELECT lang, count(*) AS n_docs, round(any_value(med), 4) AS med_tok,
         |  round(any_value(mad), 4) AS mad_tok,
         |  CAST(sum(CASE WHEN abs(z) > $MAD_THR THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  round(min(z), 4) AS z_min, round(max(z), 4) AS z_max
         |FROM z GROUP BY lang ORDER BY lang""".stripMargin,
    "q_quality_quantile" ->
      s"""WITH thr AS (SELECT lang AS t_lang,
         |               quantile_cont(n_chars, $QQ_FRAC) AS thr
         |             FROM documents GROUP BY lang)
         |SELECT lang, count(*) AS n_total,
         |  CAST(sum(CASE WHEN n_chars >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(any_value(thr), 4) AS p25_chars
         |FROM documents JOIN thr ON lang = t_lang
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_select_rho" ->
      s"""WITH tk AS (SELECT doc_id, lang, unnest($toksAll) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         |tt AS (SELECT sum(c) AS total FROM c),
         |usp AS (SELECT tok,
         |          CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS surp
         |        FROM c, tt),
         |uni AS (SELECT tk.doc_id, tk.lang, count(*) AS n_tok, sum(surp) AS us
         |        FROM tk JOIN usp USING (tok) GROUP BY 1, 2),
         |t AS (SELECT doc_id, $toksAll AS w FROM documents),
         |bg AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS bg
         |       FROM t, unnest(range(1, len(w))) u(i)),
         |cb AS (SELECT bg, count(*) AS cbg FROM bg GROUP BY bg),
         |cu AS (SELECT w1, count(*) AS cw1 FROM bg GROUP BY w1),
         |bsp AS (SELECT bg.doc_id,
         |          CAST(floor(-ln(CAST(cbg AS DOUBLE) / cw1) * 1000000) AS BIGINT) AS surp
         |        FROM bg JOIN cb USING (bg) JOIN cu USING (w1)),
         |big AS (SELECT doc_id, count(*) AS n_bg, sum(surp) AS bs
         |        FROM bsp GROUP BY 1),
         |r AS (SELECT uni.doc_id, lang, n_tok,
         |        round(CAST(us AS DOUBLE) / (n_tok * 1000000.0), 4) AS u_surprise,
         |        round(CAST(bs AS DOUBLE) / (n_bg * 1000000.0), 4) AS b_surprise,
         |        round(CAST(us AS DOUBLE) / (n_tok * 1000000.0)
         |              - CAST(bs AS DOUBLE) / (n_bg * 1000000.0), 4) AS excess
         |      FROM uni JOIN big ON uni.doc_id = big.doc_id)
         |SELECT rn, doc_id, lang, n_tok, u_surprise, b_surprise, excess FROM (
         |  SELECT *, row_number() OVER (ORDER BY excess DESC, doc_id ASC) AS rn FROM r) q
         |WHERE rn <= $RHO_TOPK ORDER BY rn""".stripMargin,
    "q_quality_bigram" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksAll AS w FROM documents),
         |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i] || ' ' || w[i+1] AS bg
         |       FROM t, unnest(range(1, len(w))) u(i)),
         |cb AS (SELECT bg, count(*) AS cbg FROM bg GROUP BY bg),
         |cu AS (SELECT w1, count(*) AS cw1 FROM bg GROUP BY w1),
         |sp AS (SELECT bg.doc_id, bg.lang,
         |         CAST(floor(-ln(CAST(cbg AS DOUBLE) / cw1) * 1000000) AS BIGINT) AS surp
         |       FROM bg JOIN cb USING (bg) JOIN cu USING (w1)),
         |ds AS (SELECT doc_id, lang, count(*) AS n_bg, sum(surp) AS ssum
         |       FROM sp GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, n_bg,
         |        round(CAST(ssum AS DOUBLE) / (n_bg * 1000000.0), 4) AS surprise
         |      FROM ds)
         |SELECT rn, doc_id, lang, n_bg, surprise FROM (
         |  SELECT *, row_number() OVER (ORDER BY surprise DESC, doc_id ASC) AS rn FROM r) q
         |WHERE rn <= $BLM_TOPK ORDER BY rn""".stripMargin,
    "q_quality_kn" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksAll AS w FROM documents),
         |bg AS (SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS bg
         |       FROM t, unnest(range(1, len(w))) u(i)),
         |cb AS (SELECT bg, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         |         count(*) AS cbg FROM bg GROUP BY bg),
         |lf AS (SELECT w1, sum(cbg) AS cw1, count(*) AS n1l FROM cb GROUP BY w1),
         |rt AS (SELECT w2, count(*) AS n1r FROM cb GROUP BY w2),
         |nt AS (SELECT count(*) AS nt FROM cb),
         |m AS (SELECT bg,
         |        CAST(floor(-ln(
         |          (greatest(CAST(cbg AS DOUBLE) - 0.75, 0.0) / CAST(cw1 AS DOUBLE))
         |          + ((0.75 * CAST(n1l AS DOUBLE)) / CAST(cw1 AS DOUBLE))
         |            * (CAST(n1r AS DOUBLE) / CAST(nt AS DOUBLE))
         |        ) * 1000000) AS BIGINT) AS surp
         |      FROM cb JOIN lf USING (w1) JOIN rt USING (w2), nt),
         |ds AS (SELECT bg.doc_id, bg.lang, count(*) AS n_bg, sum(surp) AS ssum
         |       FROM bg JOIN m USING (bg) GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, n_bg,
         |        round(CAST(ssum AS DOUBLE) / (n_bg * 1000000.0), 4) AS surprise
         |      FROM ds)
         |SELECT rn, doc_id, lang, n_bg, surprise FROM (
         |  SELECT *, row_number() OVER (ORDER BY surprise DESC, doc_id ASC) AS rn FROM r) q
         |WHERE rn <= $KN_TOPK ORDER BY rn""".stripMargin,
    "q_quality_kn_mod" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksAll AS w FROM documents),
         |bg AS (SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS bg
         |       FROM t, unnest(range(1, len(w))) u(i)),
         |cb AS (SELECT bg, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         |         count(*) AS cbg FROM bg GROUP BY bg),
         |cc AS (SELECT
         |         CAST(sum(CASE WHEN cbg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |         CAST(sum(CASE WHEN cbg = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |         CAST(sum(CASE WHEN cbg = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         |         CAST(sum(CASE WHEN cbg = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         |         count(*) AS nt
         |       FROM cb),
         |lf AS (SELECT w1, sum(cbg) AS cw1,
         |         CAST(sum(CASE WHEN cbg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nl1,
         |         CAST(sum(CASE WHEN cbg = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nl2,
         |         CAST(sum(CASE WHEN cbg >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nl3
         |       FROM cb GROUP BY w1),
         |rt AS (SELECT w2, count(*) AS n1r FROM cb GROUP BY w2),
         |ds0 AS (SELECT cb.bg, cb.cbg, lf.cw1, lf.nl1, lf.nl2, lf.nl3, rt.n1r,
         |          cc.n1, cc.n2, cc.n3, cc.n4, cc.nt,
         |          (CASE WHEN cc.n1 + cc.n2 * 2 > 0
         |             THEN CAST(cc.n1 AS DOUBLE) / CAST(cc.n1 + cc.n2 * 2 AS DOUBLE)
         |             ELSE 0.0 END) AS y
         |        FROM cb JOIN lf USING (w1) JOIN rt USING (w2), cc),
         |ds1 AS (SELECT *,
         |          greatest(1.0 - (2.0 * y) * (CASE WHEN n1 > 0
         |            THEN CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE 0.0 END), 0.0) AS d1,
         |          greatest(2.0 - (3.0 * y) * (CASE WHEN n2 > 0
         |            THEN CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) ELSE 0.0 END), 0.0) AS d2,
         |          greatest(3.0 - (4.0 * y) * (CASE WHEN n3 > 0
         |            THEN CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE) ELSE 0.0 END), 0.0) AS d3
         |        FROM ds0),
         |m AS (SELECT bg,
         |        CAST(floor(-ln(
         |          (greatest(CAST(cbg AS DOUBLE) -
         |             (CASE WHEN cbg = 1 THEN d1 WHEN cbg = 2 THEN d2 ELSE d3 END), 0.0)
         |            / CAST(cw1 AS DOUBLE))
         |          + (((d1 * CAST(nl1 AS DOUBLE)) + (d2 * CAST(nl2 AS DOUBLE))
         |              + (d3 * CAST(nl3 AS DOUBLE))) / CAST(cw1 AS DOUBLE))
         |            * (CAST(n1r AS DOUBLE) / CAST(nt AS DOUBLE))
         |        ) * 1000000) AS BIGINT) AS surp
         |      FROM ds1),
         |ds AS (SELECT bg.doc_id, bg.lang, count(*) AS n_bg, sum(surp) AS ssum
         |       FROM bg JOIN m USING (bg) GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, n_bg,
         |        round(CAST(ssum AS DOUBLE) / (n_bg * 1000000.0), 4) AS surprise
         |      FROM ds)
         |SELECT rn, doc_id, lang, n_bg, surprise FROM (
         |  SELECT *, row_number() OVER (ORDER BY surprise DESC, doc_id ASC) AS rn FROM r) q
         |WHERE rn <= $KNM_TOPK ORDER BY rn""".stripMargin,
    // tg/ct/cont are each referenced 2-4 times; MATERIALIZED stops
    // DuckDB's default inlining from re-running the trigram explode
    // per reference (>125 CPU-min at sf1 inlined, ~3 s materialized —
    // identical semantics, the hint only pins single evaluation).
    "q_quality_kn_tri" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id, lang, $toksAll AS w FROM documents),
         |tg AS MATERIALIZED (SELECT doc_id, lang, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tg
         |       FROM t, unnest(range(1, len(w) - 1)) u(i)),
         |ct AS MATERIALIZED (SELECT tg, split_part(tg, ' ', 1) AS w1, split_part(tg, ' ', 2) AS w2,
         |         split_part(tg, ' ', 3) AS w3, count(*) AS c3 FROM tg GROUP BY tg),
         |ctx AS MATERIALIZED (SELECT w1, w2, sum(c3) AS c12, count(*) AS n1l12 FROM ct GROUP BY 1, 2),
         |cont AS MATERIALIZED (SELECT w2, w3, count(*) AS n23 FROM ct GROUP BY 1, 2),
         |mid AS MATERIALIZED (SELECT w2, sum(n23) AS n2mid, count(*) AS nw2dot FROM cont GROUP BY 1),
         |uni AS MATERIALIZED (SELECT w3, count(*) AS ndw3 FROM cont GROUP BY 1),
         |np AS MATERIALIZED (SELECT count(*) AS np FROM cont),
         |m AS (SELECT tg,
         |        CAST(floor(-ln(
         |          (greatest(CAST(c3 AS DOUBLE) - 0.75, 0.0) / CAST(c12 AS DOUBLE))
         |          + ((0.75 * CAST(n1l12 AS DOUBLE)) / CAST(c12 AS DOUBLE))
         |            * ((greatest(CAST(n23 AS DOUBLE) - 0.75, 0.0) / CAST(n2mid AS DOUBLE))
         |               + ((0.75 * CAST(nw2dot AS DOUBLE)) / CAST(n2mid AS DOUBLE))
         |                 * (CAST(ndw3 AS DOUBLE) / CAST(np AS DOUBLE)))
         |        ) * 1000000) AS BIGINT) AS surp
         |      FROM ct JOIN ctx USING (w1, w2) JOIN cont USING (w2, w3)
         |           JOIN mid USING (w2) JOIN uni USING (w3), np),
         |ds AS (SELECT tg.doc_id, tg.lang, count(*) AS n_tg, sum(surp) AS ssum
         |       FROM tg JOIN m USING (tg) GROUP BY 1, 2),
         |r AS (SELECT doc_id, lang, n_tg,
         |        round(CAST(ssum AS DOUBLE) / (n_tg * 1000000.0), 4) AS surprise
         |      FROM ds)
         |SELECT rn, doc_id, lang, n_tg, surprise FROM (
         |  SELECT *, row_number() OVER (ORDER BY surprise DESC, doc_id ASC) AS rn FROM r) q
         |WHERE rn <= $KN3_TOPK ORDER BY rn""".stripMargin,
    "q_quality_buckets" ->
      s"""WITH tk AS (SELECT doc_id, lang, unnest($toksAll) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         |tt AS (SELECT sum(c) AS total FROM c),
         |sp AS (SELECT tok,
         |         CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS surp
         |       FROM c, tt),
         |ds AS (SELECT tk.doc_id, tk.lang, count(*) AS n_tok, sum(surp) AS ssum
         |       FROM tk JOIN sp USING (tok) GROUP BY 1, 2),
         |dd AS (SELECT lang, n_tok, ssum,
         |         CAST(floor(CAST(ssum AS DOUBLE) / n_tok) AS BIGINT) AS sper FROM ds),
         |h AS (SELECT lang, sper, count(*) AS n FROM dd GROUP BY 1, 2),
         |cum AS (SELECT lang, sper, sum(n) OVER (PARTITION BY lang ORDER BY sper) AS cn FROM h),
         |tot AS (SELECT lang AS t_lang, count(*) AS nl FROM dd GROUP BY 1),
         |cuts AS (SELECT lang, min(CASE WHEN cn * 3 >= nl THEN sper END) AS c1,
         |                min(CASE WHEN cn * 3 >= nl * 2 THEN sper END) AS c2
         |         FROM cum JOIN tot ON lang = t_lang GROUP BY 1),
         |b AS (SELECT dd.lang,
         |        CASE WHEN sper <= c1 THEN 'head'
         |             WHEN sper <= c2 THEN 'middle' ELSE 'tail' END AS bucket,
         |        n_tok, ssum
         |      FROM dd JOIN cuts USING (lang))
         |SELECT lang, bucket, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |  round(CAST(sum(ssum) AS DOUBLE) / (CAST(sum(n_tok) AS BIGINT) * 1000000.0), 4)
         |    AS mean_surprise
         |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "q_vocab_oov" ->
      s"""WITH tk AS (SELECT lang, source, unnest($toksAll) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         |v AS (SELECT tok AS v_tok FROM c ORDER BY c DESC, tok ASC LIMIT $OOV_V)
         |SELECT lang, source, count(*) AS n_tok,
         |  CAST(sum(CASE WHEN v_tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(CAST(sum(CASE WHEN v_tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 4) AS oov_rate
         |FROM tk LEFT JOIN v ON tok = v_tok
         |GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "q_source_stats" ->
      s"""WITH d AS (SELECT source, lang, md5(text) AS digest, n_chars,
         |             CAST(len($toksAll) AS BIGINT) AS n_tok FROM documents),
         |g AS (SELECT source, count(*) AS n_docs,
         |        count(DISTINCT digest) AS n_uniq,
         |        count(DISTINCT lang) AS n_langs,
         |        CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |        round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS mean_chars
         |      FROM d GROUP BY source)
         |SELECT source, n_docs, n_uniq,
         |  round(CAST(n_docs - n_uniq AS DOUBLE) / n_docs, 4) AS dup_rate,
         |  n_langs, tok_total, mean_chars,
         |  round(CAST(n_docs - n_uniq AS DOUBLE) / n_docs, 4) <= $SRC_MAX_DUP AS keep
         |FROM g ORDER BY source""".stripMargin,
    "q_quality_winsor" ->
      s"""WITH hist AS (SELECT lang, n_chars, count(*) AS n
         |              FROM documents GROUP BY 1, 2),
         |cum AS (SELECT lang, n_chars,
         |          sum(n) OVER (PARTITION BY lang ORDER BY n_chars) AS cn
         |        FROM hist),
         |tot AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |edges AS (SELECT c.lang, any_value(t.n_docs) AS n_docs,
         |    min(CASE WHEN c.cn >= (t.n_docs * $WIN_LO + 99) // 100
         |        THEN c.n_chars END) AS lo,
         |    min(CASE WHEN c.cn >= (t.n_docs * $WIN_HI + 99) // 100
         |        THEN c.n_chars END) AS hi
         |  FROM cum c JOIN tot t ON c.lang = t.lang GROUP BY c.lang)
         |SELECT d.lang, any_value(e.n_docs) AS n_docs,
         |  CAST(any_value(e.lo) AS BIGINT) AS p_lo,
         |  CAST(any_value(e.hi) AS BIGINT) AS p_hi,
         |  round(avg(d.n_chars), 4) AS mean_raw,
         |  round(avg(CAST(greatest(e.lo, least(e.hi, d.n_chars)) AS DOUBLE)), 4)
         |    AS mean_winsor
         |FROM documents d JOIN edges e ON d.lang = e.lang
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q_quality_ks" ->
      """WITH c AS (SELECT lang, source, n_chars AS x, count(*) AS n
        |           FROM documents GROUP BY 1, 2, 3),
        |grid AS (SELECT DISTINCT lang, x FROM c),
        |srcs AS (SELECT lang, source, sum(n) AS n_s FROM c GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(n) AS n_all FROM c GROUP BY 1),
        |lx AS (SELECT lang, x, sum(n) AS n_x FROM c GROUP BY 1, 2),
        |call AS (SELECT lang, x,
        |           sum(n_x) OVER (PARTITION BY lang ORDER BY x) AS cum_all
        |         FROM lx),
        |cum AS (SELECT g.lang, s.source, g.x,
        |          sum(coalesce(c.n, 0))
        |            OVER (PARTITION BY g.lang, s.source ORDER BY g.x) AS cum_s
        |        FROM grid g
        |        JOIN srcs s ON s.lang = g.lang
        |        LEFT JOIN c ON c.lang = g.lang AND c.source = s.source
        |                   AND c.x = g.x)
        |SELECT cum.lang, cum.source,
        |  CAST(any_value(s.n_s) AS BIGINT) AS n_s,
        |  CAST(any_value(t.n_all - s.n_s) AS BIGINT) AS n_rest,
        |  CAST(max(abs((cum_s * 1000000) // s.n_s
        |        - ((a.cum_all - cum_s) * 1000000) // (t.n_all - s.n_s)))
        |    AS BIGINT) AS ks_ppm
        |FROM cum
        |JOIN call a ON a.lang = cum.lang AND a.x = cum.x
        |JOIN srcs s ON s.lang = cum.lang AND s.source = cum.source
        |JOIN tot t ON t.lang = cum.lang
        |WHERE t.n_all > s.n_s
        |GROUP BY cum.lang, cum.source
        |ORDER BY cum.lang, cum.source""".stripMargin,
    "q_source_overlap" -> {
      val gram = (0 until OVL_N)
        .map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT source, $toksAll AS w FROM documents),
         |g AS (SELECT DISTINCT source, $gram AS sp
         |      FROM t, unnest(range(1, len(w) + 2 - $OVL_N)) u(i)),
         |tot AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |         count(*) AS n_shared
         |       FROM g a JOIN g b ON a.sp = b.sp AND a.source < b.source
         |       GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared, ta.n AS n_a, tb.n AS n_b,
         |  round(CAST(n_shared AS DOUBLE) / least(ta.n, tb.n), 4) AS containment
         |FROM pr JOIN tot ta ON pr.src_a = ta.source
         |JOIN tot tb ON pr.src_b = tb.source
         |ORDER BY src_a, src_b""".stripMargin
    },
    "q_filter_blocklist" -> {
      val blockIn = BLOCKLIST.map(w => s"'$w'").mkString("(", ",", ")")
      s"""WITH t AS (SELECT lang, source,
         |    len(list_filter($toksAll, t -> t IN $blockIn)) AS hits
         |  FROM documents)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(sum(hits) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN hits = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM t GROUP BY lang, source ORDER BY lang, source""".stripMargin
    },
    "q_filter_ac" -> {
      val patVals = AC_PATTERNS.map(p => s"('$p')").mkString(", ")
      s"""WITH pats AS (SELECT * FROM (VALUES $patVals) p(pattern)),
         |t AS (SELECT lang, lower(text) AS lt FROM documents),
         |h AS (SELECT lang, pattern,
         |        CASE WHEN length(lt) >= length(pattern) THEN
         |          len(list_filter(range(1, length(lt) - length(pattern) + 2),
         |            i -> substr(lt, i, length(pattern)) = pattern))
         |        ELSE 0 END AS hits
         |      FROM t CROSS JOIN pats)
         |SELECT lang, pattern, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(sum(hits) AS BIGINT) AS n_hits
         |FROM h GROUP BY lang, pattern ORDER BY lang, pattern""".stripMargin
    }
  )
}
