package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions._

/** Text-analysis operators for the training-data pipeline: token
  * counting (whitespace + BPE-ish regex), quality scoring, n-gram
  * language ID, document fingerprinting, n-gram frequency, TF-IDF.
  * All are single-shuffle groupBy/window plans over `documents`.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  private val BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Corpus token statistics per language: whitespace tokens and a
    * BPE-ish regex tokenizer (letters / digits / punct pieces). */
  val qTextStats: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars"),
        size(tokens(col("text"))).as("n_tok"),
        size(regexp_extract_all(lower(col("text")), lit(BPE_RE), lit(0))).as("n_bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n_tok"), 4).as("avg_tok"),
        round(avg("n_bpe"), 4).as("avg_bpe"),
        round(avg("n_chars"), 4).as("avg_chars"))
      .orderBy("lang")
  }

  /** Per-document quality signals: token count, mean token length,
    * stopword ratio, alpha-character ratio. The token array is
    * materialized once per row (`withColumn`) so the split/filter isn't
    * re-evaluated per derived metric. */
  val qTextQuality: Q = (s, d) => {
    val stops = Seq("the", "a", "of", "and")
    val w = col("w")
    Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .withColumn("w", tokens(col("text")))
      .select(col("doc_id"),
        size(w).as("n_tok"),
        round(aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double")
          / size(w), 6).as("avg_tok_len"),
        round(size(filter(w, t => t.isin(stops.map(lit): _*))).cast("double")
          / size(w), 6).as("stop_ratio"),
        round(length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double")
          / length(col("text")), 6).as("alpha_ratio"))
      .orderBy("doc_id")
  }

  /** Stopword-frequency language-ID heuristic: score each candidate
    * language by marker-token hits, predict the argmax (ties broken by
    * fixed language order), report the confusion counts. */
  val qTextLangid: Q = (s, d) => {
    def hits(markers: Seq[String]): Column =
      size(filter(col("w"), t => t.isin(markers.map(lit): _*)))
    Tables.documents(s, d)
      .withColumn("w", tokens(col("text")))
      .withColumn("s_en", hits(Seq("the", "a", "of")))
      .withColumn("s_de", hits(Seq("der", "und", "die")))
      .withColumn("s_fr", hits(Seq("le", "la", "et")))
      .withColumn("s_es", hits(Seq("el", "los", "y")))
      .withColumn("best", greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es")))
      .withColumn("predicted",
        when(col("best") === 0, "und")
          .when(col("s_en") === col("best"), "en")
          .when(col("s_de") === col("best"), "de")
          .when(col("s_fr") === col("best"), "fr")
          .otherwise("es"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** Content fingerprint: md5 over the sorted distinct token set —
    * an order-insensitive document signature. */
  val qTextFingerprint: Q = (s, d) => {
    Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(tokens(col("text")))), " ")).as("fp"))
      .orderBy("doc_id")
  }

  /** Corpus-level top-20 word bigrams (frequency, not distinct).
    * Tokens are materialized before the bigram transform — inlining
    * the split expression would re-tokenize per bigram. */
  val qTextNgrams: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("w", tokens(col("text")))
      .select(explode(graft.functions.TextExpressions
        .shinglesAllFast(col("w"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      // top-k first (TakeOrderedAndProject — distributed partial top-k
      // per partition, no single-partition global window sort), then
      // rank the surviving 20 rows
      .orderBy(col("n").desc, col("bigram").asc).limit(20)
      .withColumn("rn", row_number().over(
        boundedWindow(col("n").desc, col("bigram").asc)))
      .select("rn", "bigram", "n")
      .orderBy("rn")
  }

  private val PMI_MIN_COUNT = 5L
  private val PMI_TOPK = 20

  /** PMI collocation mining (Church & Hanks 1990, "Word Association
    * Norms, Mutual Information, and Lexicography"): the word pairs
    * that co-occur far more than chance — pmi = ln(p(x,y)/(p(x)p(y)))
    * over adjacent-word bigrams, with the classic min-count floor
    * (rare pairs have unreliable, inflated PMI). The corpus-analysis
    * pass behind phrase detection and tokenizer-merge candidates.
    *
    * Shape: bigram pairs and unigram counts are each ONE map-side-
    * combined partial agg (the Zipf head collapses per input task);
    * the floor prunes the pair table BEFORE the two unigram joins,
    * which run on aggregate tables bounded per key by the distinct-
    * successor count — no corpus-row shuffle, no raw-key window.
    * Determinism: counts are exact longs; the single ln is computed
    * on double-cast factor products (the DSIR overflow rule) and
    * floored to the established 10⁻⁶ grid. Overflow envelope: the
    * factor products live in DOUBLES (≤ 10³⁶ at 10¹² tokens — far
    * inside double range, and both engines compute the identical
    * product dag so the floor grid cannot split); pmi_raw itself is
    * |ln| ≤ 56 nats → ≤ 5.6·10⁷, an ordering grain that is never
    * summed (DeterminismSpec). */
  val qTextPmi: Q = (s, d) => {
    val w = col("w")
    val pairs = when(size(w) < 2, array().cast("array<struct<x:string,y:string>>"))
      .otherwise(transform(sequence(lit(0), size(w) - 2),
        i => struct(element_at(w, i + 1).as("x"), element_at(w, i + 2).as("y"))))
    val toks = Tables.documents(s, d).withColumn("w", tokens(col("text")))
    val big = toks.select(explode(pairs).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    val uni = toks.select(explode(w).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val cand = big.where(col("cxy") >= PMI_MIN_COUNT)
      .join(uni.select(col("tok").as("x"), col("cnt").as("cx")).hint("shuffle_hash"), "x")
      .join(uni.select(col("tok").as("y"), col("cnt").as("cy")).hint("shuffle_hash"), "y")
      .crossJoin(broadcast(uni.agg(sum("cnt").as("tu"))))
      .crossJoin(broadcast(big.agg(sum("cxy").as("tb"))))
      .withColumn("pmi_raw",
        floor(log((col("cxy").cast("double") * col("tu").cast("double") * col("tu").cast("double"))
          / (col("tb").cast("double") * col("cx").cast("double") * col("cy").cast("double"))) * 1e6)
          .cast("long"))
    cand
      .orderBy(col("pmi_raw").desc, col("x").asc, col("y").asc).limit(PMI_TOPK)
      .withColumn("rn", row_number().over(
        boundedWindow(col("pmi_raw").desc, col("x").asc, col("y").asc)))
      .select(col("rn"), col("x"), col("y"), col("cxy").as("n_pair"),
        round(col("pmi_raw").cast("double") / 1e6, 4).as("pmi"))
      .orderBy("rn")
  }

  private val POST_K = 5
  private val POST_TOPK = 20

  /** Inverted-index posting build: per term, document frequency, total
    * term frequency, and the first [[POST_K]] postings (smallest doc
    * ids) — the index-construction pass of a search/retrieval stack,
    * profiled over the highest-df terms.
    *
    * The posting prefix is the skew trap: `row_number().over(
    * partitionBy(term))` would put a stopword's entire posting list in
    * one window task. [[graft.functions.BoundedMinK]] computes it as a
    * typed Aggregator instead — k-long bounded state, map-side partial
    * reduction (each input task contributes ≤ k postings per term to
    * the shuffle), associative merge ⇒ shuffle-order-independent. At
    * 100 TB the same aggregation emits full per-segment posting runs;
    * the prefix keeps the oracle comparable. */
  val qTextPostings: Q = (s, d) => {
    val minK = udaf(graft.functions.BoundedMinK(POST_K), Encoders.scalaLong)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(
        count(lit(1)).as("df"),
        sum("tf").as("tf_total"),
        minK(col("doc_id")).as("postings"))
      .orderBy(col("df").desc, col("term").asc).limit(POST_TOPK)
      .withColumn("rn", row_number().over(
        boundedWindow(col("df").desc, col("term").asc)))
      .select("rn", "term", "df", "tf_total", "postings")
      .orderBy("rn")
  }

  /** TF-IDF: highest-scoring term per sampled document.
    * idf = ln(N / df) with df over the full corpus. df dedups terms
    * within each document map-side (`array_distinct` before the
    * explode) so the only shuffle is the partial-aggregated
    * `groupBy(term)` — no corpus-wide (doc_id, term) distinct. */
  val qTextTfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val df = docs
      .select(explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_total"))
    val tf = docs.where(col("doc_id") % 20 === 0)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    // shuffle-join on term: the distinct-term (df) table grows with the
    // corpus — billions of rows at 100 TB — so it must never be
    // broadcast. The shuffle_hash hint pins that at-scale shape even at
    // toy scale, where size estimates would otherwise auto-broadcast;
    // both sides are keyed by term, so it's one co-partitioned shuffle.
    // n is a single row; broadcasting it is free at any scale.
    tf.join(df.hint("shuffle_hash"), "term").crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("n_total") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id", "term", "tf", "df", "score")
      .orderBy("doc_id")
  }

  private val BPE_ROUNDS = 5

  /** BPE tokenizer induction (Sennrich et al. 2016, arXiv:1508.07909):
    * learn the first [[BPE_ROUNDS]] byte-pair merges over the corpus —
    * each round counts adjacent symbol pairs (weighted by word
    * frequency), merges the most frequent pair (ties → lexicographically
    * smallest), and rewrites the vocabulary. Output: the learned merge
    * table (round, pair, merged symbol, count) — the artifact a
    * tokenizer trainer ships.
    *
    * Merge application is a space-padded non-overlapping global
    * regexp replace, scanning left-to-right and consuming the
    * separator: a run like `a a a a` becomes `aa a a` in one round
    * (the shared boundary space is consumed), not strict pairwise
    * `aa aa`. Java regex and RE2 (DuckDB) agree exactly on this
    * semantic, which is why it was chosen — the deviation from
    * textbook pairwise merging converges over subsequent rounds and
    * is identical in both engines, so the hash gate pins it.
    *
    * Scale: the ONLY corpus-sized step is the word-frequency partial
    * agg (map-side combine; vocab ≪ corpus at any scale — this is
    * precisely why production BPE trainers operate on word counts).
    * Every merge round runs on the vocab-sized table: one vocab-keyed
    * partial agg for pair counts, a 1-row TakeOrdered argmax collected
    * to the driver (the tiny-model-at-plan-time pattern of the IVF
    * fits), and a map-side rewrite. Driver state is R rows. */
  /** The [[BPE_ROUNDS]] merge rounds over an initial (word, freq, sym)
    * vocab — shared by the induction query (which emits the merge
    * table) and the fertility audit (which emits the rewritten vocab).
    * Returns the final vocab and the merge list; each round is one
    * vocab-keyed partial agg + a 1-row TakeOrdered argmax collected to
    * the driver + a map-side rewrite (the tiny-model-at-plan-time
    * pattern — driver state is R rows). */
  private def bpeFit(vocab0: DataFrame): (DataFrame, Seq[(Int, String, String, Long)]) = {
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to BPE_ROUNDS) {
      val best = vocab
        .withColumn("a", split(col("sym"), " "))
        .where(size(col("a")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(a)-2), i -> concat(a[i], ' ', a[i+1]))")).as("p"))
        .groupBy("p").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("p").asc).limit(1)
        .collect()(0)
      val (p, cnt) = (best.getString(0), best.getLong(1))
      merges += ((r, p, p.replace(" ", ""), cnt))
      vocab = vocab.withColumn("sym",
        trim(regexp_replace(concat(lit(" "), col("sym"), lit(" ")),
          lit(s" ${java.util.regex.Pattern.quote(p)} "), lit(s" ${p.replace(" ", "")} "))))
    }
    (vocab, merges.result())
  }

  val qTokenizeBpe: Q = (s, d) => {
    val vocab0 = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .withColumn("sym", trim(regexp_replace(col("word"), "(.)", "$1 ")))
    Scoped.share(vocab0) {
      import s.implicits._
      bpeFit(vocab0)._2.toDF("round", "pair", "merged", "cnt").orderBy("round")
    }
  }

  /** Tokenizer fertility audit (the cross-language fairness question —
    * Petrov et al. 2023, arXiv:2305.15425: a tokenizer that fragments
    * one language into more subwords than another taxes its context
    * budget and its per-token pricing): apply the [[BPE_ROUNDS]]
    * learned merges and report, per language, exact word/subword/char
    * volumes plus tokens-per-word (fertility) and chars-per-token —
    * the numbers a vocab freeze is judged by. The application is the
    * induction's own rewrite chain, so the two queries pin the SAME
    * merge semantics.
    *
    * Scale shape: the ONLY corpus-sized step is the per-(lang, word)
    * partial agg (map-side combine collapses the Zipf head per task);
    * the global vocab and every merge round run on the vocab-sized
    * table; the fertility join is vocab-sized × |langs|, keyed on
    * word, shuffle-hash (never a window, never broadcast of a
    * corpus-derived table); output is |langs| rows of exact longs
    * until two final rounded divisions. */
  val qTokenizeFertility: Q = (s, d) => {
    val byLang = Tables.documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).cast("long").as("freq"))
    val vocab0 = byLang.groupBy("word").agg(sum("freq").cast("long").as("freq"))
      .withColumn("sym", trim(regexp_replace(col("word"), "(.)", "$1 ")))
    Scoped.share(byLang, vocab0) {
      val (vocabR, _) = bpeFit(vocab0)
      val toks = vocabR.select(col("word"),
        size(split(col("sym"), " ")).cast("long").as("n_sym"),
        length(col("word")).cast("long").as("n_chr"))
      byLang.join(toks.hint("shuffle_hash"), "word")
        .groupBy("lang")
        .agg(sum("freq").cast("long").as("n_words"),
          sum(col("freq") * col("n_sym")).cast("long").as("n_tokens"),
          sum(col("freq") * col("n_chr")).cast("long").as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
          round(col("n_tokens").cast("double") / col("n_words"), 4).as("fertility"),
          round(col("n_chars").cast("double") / col("n_tokens"), 4).as("chars_per_token"))
        .orderBy("lang")
    }
  }

  private val BM25_QUERY = Seq("join", "hash", "merge", "scan")

  /** BM25 ranked retrieval (Robertson's probabilistic relevance
    * framework; k1 = 1.2, b = 0.75, Lucene's non-negative
    * idf = ln(1 + (N − df + ½)/(df + ½))): top-20 documents for a
    * fixed query term set, scores as floor(·10⁶) longs so the per-doc
    * sum over matched terms is associative (order-independent) and
    * bit-exact across engines — the established integer-score
    * treatment (see qSelectDsir).
    *
    * Plan shape at 100 TB: the query-term `isin` prunes the exploded
    * token stream BEFORE any shuffle, so the tf aggregate shuffles
    * only rows matching the |q| query terms (≪ corpus); df collapses
    * to |q| rows and broadcasts; the corpus stats (N, Σdl) are one
    * partial-aggregated row broadcast via crossJoin; the final top-20
    * is a TakeOrdered, never a global sort. Nothing downstream of the
    * pruned explode scales with corpus size.
    *
    * Overflow envelope: a term score w ≤ idf·(k1+1)·10⁶ ≤
    * ln(2N)·2.2·10⁶ < 6.3·10⁷ at N = 10¹² docs, and the per-doc sum
    * runs over the matched QUERY terms only (≤ |q|, here 4; even a
    * 10⁴-term query stays under 6.3·10¹¹ — 10⁷× inside int64;
    * DeterminismSpec). */
  val qRankBm25: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val toks = docs
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("tok"))
      .where(col("tok").isin(BM25_QUERY.map(lit): _*))
    val tf = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val dfTab = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val st = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(col("w"))).cast("long").as("tot"))
    val avgdl = col("tot").cast("double") / col("n_docs")
    val num = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      col("tf") * lit(2.2)
    val den = col("tf") +
      lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / avgdl)
    tf.join(broadcast(dfTab), "tok").crossJoin(broadcast(st))
      .withColumn("w", floor(num.divide(den) * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("w").as("score_w"))
      .orderBy(col("score_w").desc, col("doc_id").asc)
      .limit(20)
  }

  private val SKEW_TOPN = 10

  /** Shuffle-key skew diagnostic — the pre-flight audit this engine's
    * own scale decisions rest on (heavy-hitter split vs plain groupBy,
    * salting, AQE skew thresholds all start from "how skewed IS this
    * key?"): over the corpus token key — row and distinct-key counts,
    * the hottest key's share, the top-[[SKEW_TOPN]] keys' combined
    * share, and Shannon entropy in nats (low entropy = concentrated =
    * shuffle-hostile). A key whose top1_share × rows exceeds one
    * executor's memory fails a window partition and spills a join
    * partition — this query is the number to check BEFORE picking the
    * plan shape.
    *
    * Scale shape: one partial-agg groupBy collapses the corpus to the
    * key-cardinality counts table (hot keys cost one long per task);
    * every statistic after that runs over counts only — global aggs
    * partial-combine, the top-N is a TakeOrdered, the total is a 1-row
    * broadcast. Entropy terms are per-key floor(·10⁻⁶)-grain longs, so
    * the sum is shuffle-order-independent.
    *
    * Overflow envelope: each entropy term (c/t)·ln(t/c)·10⁶ is
    * bounded by 10⁶/e < 3.7·10⁵ (max of p·ln(1/p)), and the sum runs
    * over KEY TYPES, not occurrences — even a 10¹²-type vocabulary
    * stays under 3.7·10¹⁷, 25× inside int64 (DeterminismSpec). */
  val qSkewProfile: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    graft.queries.Scoped.share(counts) {
      val tot = counts.agg(sum("c").cast("long").as("t"))
      val stats = counts.crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_keys"),
          sum("c").as("n_rows"),
          max("c").as("top1"),
          sum(floor((col("c").cast("double") / col("t")) *
            log(col("t").cast("double") / col("c")) * 1e6).cast("long"))
            .as("ent_sum"))
      val topN = counts.orderBy(col("c").desc, col("tok").asc).limit(SKEW_TOPN)
        .agg(sum("c").cast("long").as("topn"))
      stats.crossJoin(broadcast(topN))
        .select(lit("tok").as("key_domain"), col("n_rows"), col("n_keys"),
          round(col("top1").cast("double") / col("n_rows"), 4).as("top1_share"),
          round(col("topn").cast("double") / col("n_rows"), 4).as("topn_share"),
          round(col("ent_sum").cast("double") / 1e6, 4).as("entropy_nats"))
    }
  }

  private val PHRASE = Seq("data", "line", "join")

  /** Positional phrase search (the inverted-index query class
    * [[qTextPostings]]'s doc-level postings cannot answer): documents
    * containing the exact consecutive phrase, via position-carrying
    * postings — the classic IR adjacency join (each term's positions
    * shift to the would-be phrase start; a start present in every
    * term's list is a match).
    *
    * Plan shape at 100 TB: the phrase-term `isin` prunes the exploded
    * token stream MAP-SIDE before anything else, so every downstream
    * table scales with the query terms' corpus frequency, not corpus
    * size; the adjacency joins are equi-joins all keyed on the same
    * (doc_id, p0) pair, so the per-term streams co-partition under one
    * exchange each and AQE's skew handling stays available. The
    * shuffle_hash hint pins the at-scale shape (a term stream is
    * corpus-frequency-sized — never broadcast it); the per-doc rollup
    * is a partial agg. */
  val qTextPhrase: Q = (s, d) => {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
      .where(col("tok").isin(PHRASE.map(lit): _*))
    val parts = PHRASE.zipWithIndex.map { case (t, i) =>
      tk.where(col("tok") === t)
        .select(col("doc_id"), (col("pos") - i).cast("long").as("p0"))
    }
    parts.reduce((a, b) => a.join(b.hint("shuffle_hash"), Seq("doc_id", "p0")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("p0").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Zipf rank-frequency profile: top-30 tokens by corpus frequency
    * with their rank·freq product (≈ constant under Zipf's law).
    * Distributed top-k first, ranking only the 30 survivors. */
  val qTextZipf: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc).limit(30)
      .withColumn("rank", row_number().over(
        boundedWindow(col("freq").desc, col("tok").asc)))
      .select(col("rank"), col("tok"), col("freq"),
        (col("rank") * col("freq")).as("rank_freq"))
      .orderBy("rank")
  }

  /** Count-Min sketch heavy hitters — like q_agg_hll, a sketch built
    * from COMPOSED relational ops with cross-engine-deterministic
    * md5-derived hashes, so the ESTIMATES are oracle-hash-checked:
    * 4 rows × 256 counters; CMS[j][b] = Σ counts of tokens hashing to
    * b under row-hash j (built from the partial-aggregated per-token
    * counts — legitimate map-side combine, the sums are associative);
    * a token's estimate is the min over its 4 counters, ≥ exact by
    * construction. Output: the exact top-10 tokens with exact count,
    * estimate, and overcount — honest accuracy reporting. At 100 TB
    * the sketch is 4×256 longs per partition merged once; the exact
    * side here exists only to score it. */
  val qTextHeavyHitters: Q = (s, d) => {
    val D = 4; val W = 256
    val tokCounts = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    // scoped cache: feeds the sketch build, the top-k pick and the
    // scoring join; released once the result is materialized
    Scoped.share(tokCounts) {
    def jb(j: Int): Column = struct(lit(j).as("j"),
      (hash28(concat(lit(j.toString), lit("_"), col("tok"))) % W).as("b"))
    val sketch = tokCounts
      .select(col("c"), explode(array((0 until D).map(jb): _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b")).agg(sum("c").as("s"))
    val top = tokCounts.orderBy(col("c").desc, col("tok").asc).limit(10)
    top.select(col("tok"), col("c"), explode(array((0 until D).map(jb): _*)).as("jb"))
      .join(sketch, col("jb.j") === col("j") && col("jb.b") === col("b"))
      .groupBy("tok", "c").agg(min("s").as("est"))
      .select(col("tok"), col("c").as("exact"), col("est"),
        (col("est") - col("c")).as("overcount"))
      .orderBy(col("exact").desc, col("tok").asc)
    }
  }

  private val WP_V = 20      // multi-char vocabulary budget
  private val WP_MAXP = 4    // max candidate piece length

  /** WordPiece-style subword tokenization (Song et al. 2021, EMNLP —
    * greedy longest-match-first inference; vocabulary induced by
    * frequency, the count-based stand-in for the likelihood criterion):
    * candidate pieces are all substrings of length 2..[[WP_MAXP]] of
    * corpus word types weighted by token frequency; the vocabulary is
    * the top-[[WP_V]] pieces (weight desc, piece asc) plus every
    * single character (totality — no UNK). Each word TYPE segments by
    * the native greedy scanner
    * ([[graft.functions.WordPieceSegment]]); output pins every
    * segmentation: per (lang, word) — occurrences, piece count, and
    * the pipe-joined pieces.
    *
    * Complements [[qTokenizeBpe]] (merge-rule induction, iterative)
    * with the inference-time algorithm every BERT-family tokenizer
    * runs, and the third tokenizer family beside BPE and the fertility
    * audit.
    *
    * Scale: candidate weighting is one map-side-combined aggregate
    * (the Zipf head collapses in partial agg); top-V is a distributed
    * TakeOrdered; the vocabulary is a BOUNDED model (V + alphabet)
    * collected once and shipped as a plan reference — the established
    * tiny-model pattern; segmentation runs on the word-TYPE table
    * (vocab-bounded), never per corpus row, and the corpus-scale form
    * applies the same map-side expression to full text. */
  val qTokenizeWordpiece: Q = (s, d) => {
    val wt = Tables.documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("n_occ"))
    val types = wt.groupBy("w").agg(sum("n_occ").cast("long").as("freq"))
    val cand = types
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> filter(transform(sequence(2, $WP_MAXP),
           |    l -> CASE WHEN i + l <= length(w) + 1
           |              THEN substring(w, i, l) END),
           |    p -> p IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("wgt"))
      .orderBy(col("wgt").desc, col("piece").asc).limit(WP_V)
    val chars = types.select(explode(expr(
      "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("piece"))
      .distinct()
    val vocab = cand.select("piece").union(chars).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val seg = graft.functions.WordPiece.segment(col("w"), vocab)
    wt.withColumn("pieces", seg)
      .select(col("lang"), col("w").as("word"), col("n_occ"),
        size(col("pieces")).as("n_pieces"),
        concat_ws("|", col("pieces")).as("seg"))
      .orderBy("lang", "word")
  }

  /** Flesch reading-ease profile (Flesch 1948; Kincaid et al. 1975 —
    * the readability gate document-quality pipelines run beside
    * Gopher rules): 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/word), with the syllable proxy = vowel-run count
    * ([aeiouy]+ matches — runs never span words, so one regex pass
    * over the whole text counts them) and sentences = 1 on this
    * punctuation-free fixture (real text splits on terminators
    * first). Per-language audit: doc count, mean words, exact
    * syllables-per-word ratio, mean score.
    *
    * Determinism: words and syllables are exact integer counts; the
    * per-doc score floors to a 10⁻⁴-grain long (identical double dag
    * both engines), so language means are ratios of exact long sums
    * rounded once. Scale: two codegen'd regex passes map-side, one
    * partial-agg rollup to |langs| rows — nothing else. */
  val qTextReadability: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("lang"), size(tokens(col("text"))).as("words"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).as("syl"))
      .where(col("words") > 0)
      .withColumn("fg",
        floor((lit(206.835) - lit(1.015) * col("words") -
          lit(84.6) * (col("syl").cast("double") / col("words"))) * 1e4).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum("words").cast("double") / count(lit(1)), 4).as("avg_words"),
        round(sum("syl").cast("double") / sum("words"), 4).as("syl_per_word"),
        round(sum("fg").cast("double") / (count(lit(1)) * lit(10000.0)), 4).as("mean_flesch"))
      .orderBy("lang")
  }

  private val RAKE_STOPS = Seq("the", "a", "of", "and") // Curation's lexicon
  private val RAKE_MAXLEN = 4 // RAKE's phrase-length cap
  private val RAKE_TOPK = 15

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are the
    * maximal stopword-free token runs (length ≤ [[RAKE_MAXLEN]]);
    * each word scores deg/freq-style — here the exact integer grain
    * floor(10⁶·(freq+deg)/freq), freq = phrase-occurrence count,
    * deg = Σ(len−1) over occurrences — and a phrase TYPE scores the
    * sum of its member words' grains (with multiplicity). Output: the
    * corpus top-[[RAKE_TOPK]] phrases by (score desc, phrase asc).
    *
    * Everything on the boundary is exact: freq/deg are longs, the
    * word grain is one integer division, the phrase score a long sum.
    * Scale: phrase splitting is one map-side regex pass; word stats
    * are a vocabulary-sized map-side-combined aggregate; the
    * phrase-word ⋈ word-grain join keys on the word (the BM25
    * posting-join posture — vocabulary-sized build side, never the
    * corpus); top-K is a TakeOrdered. Stopword-adjacency means the
    * phrase inventory is df-capped by construction (no phrase spans a
    * stopword, so no mega-phrase key exists). */
  val qTextRake: Q = (s, d) => {
    val stopAlt = RAKE_STOPS.mkString("\\b(?:", "|", ")\\b")
    val phrases = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), stopAlt)).as("raw"))
      .select(trim(col("raw")).as("phrase"))
      .where(col("phrase") =!= "")
      .withColumn("w", split(col("phrase"), " +"))
      .where(size(col("w")) <= RAKE_MAXLEN)
    Scoped.share(phrases) {
      val wstat = phrases
        .select(explode(col("w")).as("word"), (size(col("w")) - 1).cast("long").as("dl"))
        .groupBy("word")
        .agg(count(lit(1)).as("freq"), sum("dl").as("deg"))
        .withColumn("grain", expr("(1000000 * (freq + deg)) div freq"))
        .select("word", "grain")
      phrases.select(col("phrase"), col("w")).distinct()
        .select(col("phrase"), size(col("w")).as("n_words"), explode(col("w")).as("word"))
        .join(wstat, "word")
        .groupBy("phrase", "n_words")
        .agg(sum("grain").as("score"))
        .orderBy(col("score").desc, col("phrase").asc).limit(RAKE_TOPK)
        .withColumn("rn", row_number().over(graft.functions.GraftFunctions
          .boundedWindow(col("score").desc, col("phrase").asc)))
        .select("rn", "phrase", "n_words", "score")
        .orderBy("rn")
    }
  }

  private val UG_MAXP = 6   // max piece length considered
  private val UG_V = 120    // multi-char vocab size kept
  private val UG_MAXW = 12  // word-length bound (both engines)

  /** Unigram-LM tokenization (Kudo 2018 — the SentencePiece model;
    * fourth tokenizer family beside BPE, WordPiece and fertility):
    * pieces are scored by a one-shot frequency-normalized unigram
    * cost −ln(wgt/Σwgt) on the exact 10⁻⁶ grain (the deterministic
    * M-step of Kudo's EM with uniform responsibilities — iterating EM
    * would re-run the same two bounded passes), and each word TYPE is
    * segmented by Viterbi to the MINIMUM total cost, ties to fewer
    * pieces — so the reported (cost, n_pieces) value pair is unique
    * even where the piece sequence ties. The oracle replays the DP by
    * recursively enumerating ALL segmentation paths (pos strictly
    * advances — terminating; path count is compositions of ≤12
    * bounded by piece membership) and taking the same lexicographic
    * min OUTSIDE the loop.
    *
    * Scale posture: candidate weighting is one map-side-combined
    * vocabulary aggregate; top-V is TakeOrdered; the model (V +
    * alphabet with costs) is a bounded collect shipped as a plan
    * reference into [[graft.functions.UnigramLm]]'s codegen'd DP;
    * segmentation touches only the word-TYPE table. The ln grains
    * reuse the inventory's established cross-engine log-parity
    * posture (identical double dag from exact longs, floored once). */
  val qTokenizeUnigram: Q = (s, d) => {
    val wt = Tables.documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .where(length(col("w")) <= UG_MAXW)
      .groupBy("lang", "w").agg(count(lit(1)).as("n_occ"))
    val types = wt.groupBy("w").agg(sum("n_occ").cast("long").as("freq"))
    val pieceWgt = types
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> filter(transform(sequence(1, $UG_MAXP),
           |    l -> CASE WHEN i + l <= length(w) + 1
           |              THEN substring(w, i, l) END),
           |    p -> p IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("wgt"))
    val kept = pieceWgt.where(length(col("piece")) >= 2)
      .orderBy(col("wgt").desc, col("piece").asc).limit(UG_V)
      .unionByName(pieceWgt.where(length(col("piece")) === 1))
    val model = kept.select("piece", "wgt").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val tot = model.map(_._2).sum
    val costs = model.toSeq.map { case (p, w) =>
      p -> math.floor(-math.log(w.toDouble / tot) * 1e6).toLong
    }
    wt.withColumn("v", graft.functions.UnigramLm.viterbi(col("w"), costs))
      .select(col("lang"), col("w").as("word"), col("n_occ"),
        element_at(col("v"), 2).cast("int").as("n_pieces"),
        element_at(col("v"), 1).as("cost_grain"))
      .orderBy("lang", "word")
  }

  private val LLR_TOPK = 20

  /** The G² log-likelihood sum over the 2×2 bigram contingency table,
    * shared VERBATIM between the Spark plan and the DuckDB oracle —
    * exact long inputs (k11, row/col totals ca/cb, grand total n),
    * identical double dag, one final round. Each O·n product stays
    * < 2⁵³ up to n ≈ 3·10⁹ bigrams per the scaladoc envelope; beyond
    * that the term rewrites to O·(ln O + ln n − ln R − ln C). */
  private val llrExpr: String = {
    def t(o: String, r: String, c: String) =
      s"(CASE WHEN $o > 0 THEN CAST($o AS DOUBLE) * ln(CAST($o AS DOUBLE) * n / (CAST($r AS DOUBLE) * $c)) ELSE 0.0 END)"
    "round(2 * (" +
      t("k11", "ca", "cb") + " + " +
      t("(ca - k11)", "ca", "(n - cb)") + " + " +
      t("(cb - k11)", "(n - ca)", "cb") + " + " +
      t("(n - ca - cb + k11)", "(n - ca)", "(n - cb)") + "), 4)"
  }

  /** Collocation strength by Dunning's log-likelihood ratio (Dunning
    * 1993, "Accurate Methods for the Statistics of Surprise and
    * Coincidence") — the standard G² test that, unlike [[qTextPmi]]'s
    * PMI, does not over-rank rare pairs: the full 2×2 contingency
    * table of each adjacent bigram against its marginals, G² =
    * 2·Σ O·ln(O·N/(R·C)). Output: top-[[LLR_TOPK]] bigrams by
    * (G² desc, pair asc) with their exact counts.
    *
    * Counts are exact longs from two vocabulary-sized aggregates; the
    * only FP is [[llrExpr]], one identically-structured expression on
    * both engines. Scale: bigram extraction is map-side; the pair
    * count is a map-side-combined aggregate on the pair key; marginal
    * joins key on single words (vocabulary-sized, the heavy-hitter
    * caveat documented in [[HeavyHitters]] applies if a stopword-like
    * token dominates — marginals here are aggregates, not row
    * explosions, so the join fan-out is 1:1); top-K is TakeOrdered. */
  val qTextLlr: Q = (s, d) => {
    val toksDf = Tables.documents(s, d).select(tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
    val pairs = toksDf.select(explode(expr(
      """transform(sequence(1, size(w) - 1),
        |  i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"""
        .stripMargin)).as("p"))
      .select(col("p.a").as("w1"), col("p.b").as("w2"))
    Scoped.share(pairs) {
      val k = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("k11"))
      val ma = pairs.groupBy("w1").agg(count(lit(1)).as("ca"))
      val mb = pairs.groupBy("w2").agg(count(lit(1)).as("cb"))
      val n = pairs.agg(count(lit(1)).as("n"))
      k.join(ma, "w1").join(mb, "w2")
        .crossJoin(broadcast(n)) // 1-row scalar attach
        .withColumn("g2", expr(llrExpr))
        .orderBy(col("g2").desc, col("w1").asc, col("w2").asc).limit(LLR_TOPK)
        .withColumn("rn", row_number().over(graft.functions.GraftFunctions
          .boundedWindow(col("g2").desc, col("w1").asc, col("w2").asc)))
        .select("rn", "w1", "w2", "k11", "ca", "cb", "g2")
        .orderBy("rn")
    }
  }

  private val COV_GRAIN = 1000000L // coverage share grain (10⁶)
  private val COV_TARGET = 999500L // 99.95% — SentencePiece's default

  /** Character-coverage profile — SentencePiece's alphabet-selection
    * step (Kudo & Richardson 2018: `character_coverage=0.9995`
    * decides which code points become base symbols and which fall to
    * UNK/byte-fallback): corpus character histogram ranked by
    * frequency, exact cumulative share at a 10⁶ integer grain, and
    * the in-alphabet flag — a char is in the alphabet iff the
    * cumulative share BEFORE it is still under the target (so the
    * alphabet is the minimal prefix reaching 99.95%).
    *
    * Shape: the char explode is a constant fan-out map over doc rows;
    * the histogram is one partial-aggregated shuffle to ≤|alphabet|
    * rows; the ranking window runs over that bounded table (the
    * boundedWindow marker), never corpus rows. Exact integer
    * cumulative arithmetic — no FP on the alphabet edge. */
  val qTextCharCoverage: Q = (s, d) => {
    // regexp_extract_all('(?s).') emits each CODE POINT in one
    // forward pass — Java regex '.' matches a full code point, so a
    // surrogate pair stays one character (split(text,"") would cut it
    // into two lone surrogates and diverge from the code-point-based
    // DuckDB oracle on any non-BMP text). Same O(n) win as split over
    // the substr(i,1)-per-char form (measured 1.9 s → 0.4 s at sf0.1).
    val ch = Tables.documents(s, d)
      .select(explode(expr("regexp_extract_all(text, '(?s).', 0)")).as("ch"))
      .where(col("ch") =!= "")
      .groupBy("ch").agg(count(lit(1)).as("n"))
    val w = graft.functions.GraftFunctions
      .boundedWindow(col("n").desc, col("ch").asc)
    val tot = ch.agg(sum("n").as("total"))
    ch.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("rank"), col("ch"), col("n"),
        expr(s"(cum * $COV_GRAIN) div total").as("cum_grain"),
        (expr(s"((cum - n) * $COV_GRAIN) div total") < COV_TARGET).as("in_alphabet"))
      .orderBy("rank")
  }

  // A-priori level-1 prune anchored to the DENSEST item (integer
  // tenths: supp·10 ≥ max_supp·6, i.e. ≥60% of the max item support)
  // and a top-K pair output. A corpus-absolute or permille threshold
  // is NOT scale-portable on this fixture — per-item support permille
  // dilutes as the corpus grows (94‰ max at 500 docs, 68‰ at 5,000),
  // so any fixed cut degenerates to all-items or no-items at some SF;
  // anchoring to the observed max keeps the prune meaningful at every
  // scale, and the top-K output bounds the result (Han et al.
  // ICDM 2002's top-k frequent-pattern framing).
  private val ITEMSET_F1_PCT10 = 6
  private val ITEMSET_TOPK = 50

  /** Frequent-itemset mining (Agrawal & Srikant VLDB 1994's A-priori,
    * level 2) over document bigram "items" — the co-occurrence miner a
    * curation pipeline runs to find boilerplate template pairs (two
    * phrases that keep appearing in the SAME documents signal a shared
    * generator even when neither is a duplicate span). Items are
    * distinct word bigrams per document (the unigram vocabulary is too
    * small to carry support structure — same fixture reasoning as
    * [[graft.queries.Relational]]'s CMS); an item is frequent at
    * support ≥ [[ITEMSET_F1_PCT10]]/10 of the MAX item support, and
    * ONLY frequent items form candidate pairs (the A-priori
    * downward-closure prune — the whole point of the algorithm: the
    * pair join's per-doc fan-out is bounded by the doc's
    * FREQUENT-item count squared, never its full item count). The
    * top-[[ITEMSET_TOPK]] pairs by (co-support desc, i1, i2) emit
    * with confidence c(a→b) and lift, both in round-4 doubles.
    *
    * Shape: bigram explode is map-side (native [[shingles]]); item
    * supports are one map-side-combined groupBy bounded by the bigram
    * type count; the frequent-item filter broadcasts back (a K-row
    * model, the qSelectDsir posture); the candidate self-join is an
    * equi-join ON doc_id over the PRUNED per-doc item lists with
    * map-side-combined pair counting — at 100 TB the pair space stays
    * |F1|²-bounded regardless of corpus size. */
  val qTextItemsets: Q = (s, d) => {
    // A Tables.spread scan-parallelism floor was applied here in
    // optimization round 16 and REVERTED after full-inventory-context
    // measurement: focused A/Bs showed 1.76 → 1.26 s, but in every
    // full-235 bench pass (9 passes across 3 runs) the spread plan
    // read 3.2–6.5 s vs 1.9–2.6 s without — the co-partitioned
    // SortMergeJoin the spread induces degrades under the full run's
    // block-manager/memory pressure, while the broadcast self-join
    // form is immune. The isolated win does not survive the context
    // the artifact is scored in. (sim_sparse's spread wins in BOTH
    // contexts and stays.) At real scale the scan is wide on its own
    // and the broadcast threshold picks the join strategy either way.
    val items = Tables.documents(s, d)
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 2)).as("item"))
    Scoped.share(items) {
      val n = items.agg(countDistinct("doc_id").as("n_docs"))
      val supp = items.groupBy("item").agg(count(lit(1)).as("supp"))
      Scoped.share(supp) {
        val mx = supp.agg(max("supp").as("max_supp"))
        val f1 = supp.crossJoin(broadcast(mx))
          .where(col("supp") * 10 >= col("max_supp") * ITEMSET_F1_PCT10)
        val fdocs = items.join(broadcast(f1.select("item", "supp")), "item")
        val pairs = fdocs
          .select(col("doc_id"), col("item").as("i1"), col("supp").as("supp_a"))
          .join(fdocs.select(col("doc_id"), col("item").as("i2"),
            col("supp").as("supp_b")), "doc_id")
          .where(col("i1") < col("i2"))
          .groupBy("i1", "i2", "supp_a", "supp_b")
          .agg(count(lit(1)).as("supp_ab"))
        pairs.crossJoin(broadcast(n))
          .withColumn("conf", round(col("supp_ab").cast("double") / col("supp_a"), 4))
          .withColumn("lift", round(col("supp_ab").cast("double") * col("n_docs")
            / (col("supp_a") * col("supp_b")), 4))
          .select("i1", "i2", "supp_a", "supp_b", "supp_ab", "conf", "lift")
          .orderBy(col("supp_ab").desc, col("i1"), col("i2"))
          .limit(ITEMSET_TOPK)
      }
    }
  }

  def queries: Map[String, Q] = Map(
    "q_text_itemsets" -> qTextItemsets,
    "q_text_charcov" -> qTextCharCoverage,
    "q_text_llr" -> qTextLlr,
    "q_tokenize_unigram" -> qTokenizeUnigram,
    "q_text_rake" -> qTextRake,
    "q_tokenize_wordpiece" -> qTokenizeWordpiece,
    "q_text_readability" -> qTextReadability,
    "q_text_heavyhitters" -> qTextHeavyHitters,
    "q_text_zipf" -> qTextZipf,
    "q_text_stats" -> qTextStats,
    "q_text_quality" -> qTextQuality,
    "q_text_langid" -> qTextLangid,
    "q_text_fingerprint" -> qTextFingerprint,
    "q_text_ngrams" -> qTextNgrams,
    "q_text_pmi" -> qTextPmi,
    "q_text_phrase" -> qTextPhrase,
    "q_skew_profile" -> qSkewProfile,
    "q_rank_bm25" -> qRankBm25,
    "q_tokenize_bpe" -> qTokenizeBpe,
    "q_tokenize_fertility" -> qTokenizeFertility,
    "q_text_postings" -> qTextPostings,
    "q_text_tfidf" -> qTextTfidf
  )

  private val toksAll =
    """list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '')"""

  /** The complete BM25 top-20 oracle statement (doc_id, n_terms,
    * score_w) — the `q_rank_bm25` gate, and the lexical arm of the
    * hybrid-retrieval fusion oracle in [[Similarity]] (embedded there
    * as a nested-WITH CTE). */
  private[queries] lazy val bm25TopSql: String = {
    val terms = BM25_QUERY.map(t => s"'$t'").mkString(", ")
    s"""WITH w AS (SELECT doc_id, $toksAll AS w FROM documents),
       |tk AS (SELECT doc_id, len(w) AS dl, unnest(w) AS tok FROM w),
       |qt AS (SELECT * FROM tk WHERE tok IN ($terms)),
       |tf AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl FROM qt GROUP BY 1, 2),
       |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS tot FROM w),
       |sc AS (SELECT doc_id,
       |         CAST(floor(((ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2)
       |           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(tot AS DOUBLE) / n_docs))))
       |           * 1000000) AS BIGINT) AS w
       |       FROM tf JOIN df USING (tok) CROSS JOIN st)
       |SELECT doc_id, count(*) AS n_terms, CAST(sum(w) AS BIGINT) AS score_w
       |FROM sc GROUP BY doc_id ORDER BY score_w DESC, doc_id LIMIT 20""".stripMargin
  }

  /** The R BPE merge rounds unrolled into CTE stages (pairs → argmax →
    * rewrite), generated so the oracle always matches [[BPE_ROUNDS]];
    * merge patterns reach regexp_replace as scalar subqueries over the
    * previous round's 1-row argmax. Expects a `v0(word, freq, sym)`
    * CTE upstream; exposes `b1..bR` (argmaxes) and `v1..vR`
    * (rewritten vocabs). Shared by the induction and fertility
    * oracles so both gate the SAME merge semantics. */
  private lazy val bpeStagesSql: String = (1 to BPE_ROUNDS).map { i =>
    val prev = s"v${i - 1}"
    s"""p$i AS (SELECT l[i] || ' ' || l[i+1] AS p, freq
       |  FROM (SELECT freq, string_split(sym, ' ') AS l FROM $prev) s,
       |       unnest(generate_series(1, len(s.l) - 1)) AS t(i)),
       |b$i AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM p$i
       |        GROUP BY p ORDER BY cnt DESC, p LIMIT 1),
       |v$i AS (SELECT word, freq, trim(regexp_replace(' ' || sym || ' ',
       |    ' ' || (SELECT p FROM b$i) || ' ',
       |    ' ' || (SELECT replace(p, ' ', '') FROM b$i) || ' ', 'g')) AS sym
       |  FROM $prev)""".stripMargin
  }.mkString(",\n")

  def oracleSql: Map[String, String] = Map(
    // A-priori level 2: same bigram items, same max-anchored F1 prune,
    // same top-K cut; ratios in explicit DOUBLE casts (DuckDB's bare
    // 1.0 literal is DECIMAL and divides differently)
    "q_text_itemsets" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             x -> x != '') AS w
         |  FROM documents),
         |bg AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS item
         |  FROM t, unnest(range(1, len(w))) u(i)),
         |n AS MATERIALIZED (SELECT count(DISTINCT doc_id) AS n_docs FROM bg),
         |s AS MATERIALIZED (SELECT item, count(*) AS supp FROM bg GROUP BY 1),
         |m AS (SELECT max(supp) AS max_supp FROM s),
         |f1 AS MATERIALIZED (
         |  SELECT item, supp FROM s, m WHERE supp * 10 >= max_supp * $ITEMSET_F1_PCT10),
         |fd AS MATERIALIZED (
         |  SELECT b.doc_id, b.item, f1.supp FROM bg b JOIN f1 USING (item)),
         |p AS (
         |  SELECT a.item AS i1, b.item AS i2, a.supp AS supp_a, b.supp AS supp_b,
         |    count(*) AS supp_ab
         |  FROM fd a JOIN fd b ON a.doc_id = b.doc_id AND a.item < b.item
         |  GROUP BY 1, 2, 3, 4)
         |SELECT i1, i2, CAST(supp_a AS BIGINT) AS supp_a,
         |  CAST(supp_b AS BIGINT) AS supp_b, CAST(supp_ab AS BIGINT) AS supp_ab,
         |  round(CAST(supp_ab AS DOUBLE) / supp_a, 4) AS conf,
         |  round(CAST(supp_ab AS DOUBLE) * n_docs / (supp_a * supp_b), 4) AS lift
         |FROM p, n
         |ORDER BY supp_ab DESC, i1, i2 LIMIT $ITEMSET_TOPK""".stripMargin,
    "q_text_charcov" ->
      s"""WITH chs AS (SELECT substr(text, CAST(i AS INT), 1) AS ch
         |             FROM documents, unnest(range(1, len(text) + 1)) t(i)),
         |h AS (SELECT ch, count(*) AS n FROM chs GROUP BY 1),
         |tot AS (SELECT sum(n) AS total FROM h),
         |r AS (SELECT ch, n,
         |        row_number() OVER (ORDER BY n DESC, ch ASC) AS rank,
         |        sum(n) OVER (ORDER BY n DESC, ch ASC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM h)
         |SELECT CAST(rank AS INT) AS rank, ch, n,
         |  CAST((cum * $COV_GRAIN) // total AS BIGINT) AS cum_grain,
         |  ((cum - n) * $COV_GRAIN) // total < $COV_TARGET AS in_alphabet
         |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin,
    "q_text_llr" ->
      s"""WITH tk AS (SELECT $toksAll AS w FROM documents
         |           WHERE len($toksAll) >= 2),
         |pairs AS (SELECT w[i] AS w1, w[i + 1] AS w2
         |          FROM tk, unnest(range(1, len(w))) t(i)),
         |k AS (SELECT w1, w2, count(*) AS k11 FROM pairs GROUP BY 1, 2),
         |ma AS (SELECT w1, count(*) AS ca FROM pairs GROUP BY 1),
         |mb AS (SELECT w2, count(*) AS cb FROM pairs GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM pairs),
         |g AS (SELECT k.w1, k.w2, k11, ca, cb, $llrExpr AS g2
         |      FROM k JOIN ma USING (w1) JOIN mb USING (w2), nn)
         |SELECT rn, w1, w2, k11, ca, cb, g2 FROM (
         |  SELECT *, row_number() OVER (ORDER BY g2 DESC, w1 ASC, w2 ASC) AS rn
         |  FROM g) q
         |WHERE rn <= $LLR_TOPK ORDER BY rn""".stripMargin,
    "q_tokenize_unigram" ->
      s"""WITH RECURSIVE
         |tk AS (SELECT lang, unnest($toksAll) AS w FROM documents),
         |wt AS (SELECT lang, w, count(*) AS n_occ FROM tk
         |       WHERE length(w) <= $UG_MAXW GROUP BY 1, 2),
         |types AS (SELECT w, CAST(sum(n_occ) AS BIGINT) AS freq FROM wt GROUP BY w),
         |pw AS (SELECT substr(w, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS wgt
         |       FROM types, unnest(range(1, length(w) + 1)) t(i),
         |            unnest(range(1, $UG_MAXP + 1)) u(l)
         |       WHERE i + l <= length(w) + 1 GROUP BY piece),
         |vocab AS (SELECT piece, wgt FROM
         |            (SELECT piece, wgt FROM pw WHERE length(piece) >= 2
         |             ORDER BY wgt DESC, piece LIMIT $UG_V) vm
         |          UNION ALL
         |          SELECT piece, wgt FROM pw WHERE length(piece) = 1),
         |tot AS (SELECT CAST(sum(wgt) AS BIGINT) AS t FROM vocab),
         |vc AS (SELECT piece,
         |         CAST(floor(-ln(CAST(wgt AS DOUBLE) / (SELECT t FROM tot))
         |              * 1000000) AS BIGINT) AS cost
         |       FROM vocab),
         |paths AS (
         |  SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS np FROM types
         |  UNION ALL
         |  SELECT p.w, p.pos + length(v.piece), p.cost + v.cost, p.np + 1
         |  FROM paths p JOIN vc v ON substr(p.w, p.pos, length(v.piece)) = v.piece
         |  WHERE p.pos <= length(p.w)),
         |done AS (SELECT w, cost, np FROM paths WHERE pos = length(w) + 1),
         |b1 AS (SELECT w, min(cost) AS bc FROM done GROUP BY w),
         |b2 AS (SELECT d.w, d.cost AS cost_grain, CAST(min(d.np) AS INT) AS n_pieces
         |       FROM done d JOIN b1 ON d.w = b1.w AND d.cost = b1.bc
         |       GROUP BY d.w, d.cost)
         |SELECT lang, w AS word, n_occ, n_pieces, cost_grain
         |FROM wt JOIN b2 USING (w) ORDER BY lang, word""".stripMargin,
    "q_text_rake" -> {
      val alt = RAKE_STOPS.mkString("\\b(?:", "|", ")\\b")
      s"""WITH ph AS (SELECT trim(p) AS phrase FROM (
         |        SELECT unnest(string_split_regex(lower(text), '$alt')) AS p
         |        FROM documents) r
         |      WHERE trim(p) <> ''),
         |pw AS (SELECT phrase, string_split_regex(phrase, ' +') AS w FROM ph
         |       WHERE len(string_split_regex(phrase, ' +')) <= $RAKE_MAXLEN),
         |ws AS (SELECT word, count(*) AS freq, sum(dl) AS deg
         |       FROM (SELECT unnest(w) AS word, len(w) - 1 AS dl FROM pw) x
         |       GROUP BY word),
         |wg AS (SELECT word, (1000000 * (freq + deg)) // freq AS grain FROM ws),
         |px AS (SELECT phrase,
         |         len(string_split_regex(phrase, ' +')) AS n_words,
         |         unnest(string_split_regex(phrase, ' +')) AS word
         |       FROM (SELECT DISTINCT phrase FROM pw) q),
         |sc AS (SELECT phrase, n_words, CAST(sum(g.grain) AS BIGINT) AS score
         |       FROM px JOIN wg g USING (word) GROUP BY phrase, n_words)
         |SELECT rn, phrase, CAST(n_words AS INT) AS n_words, score FROM (
         |  SELECT *, row_number() OVER (ORDER BY score DESC, phrase ASC) AS rn
         |  FROM sc) q
         |WHERE rn <= $RAKE_TOPK ORDER BY rn""".stripMargin
    },
    "q_text_readability" ->
      s"""WITH t AS (SELECT lang, len($toksAll) AS words,
         |             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
         |           FROM documents),
         |s AS (SELECT lang, words, syl,
         |        CAST(floor((206.835 - 1.015 * words
         |          - 84.6 * (CAST(syl AS DOUBLE) / words)) * 10000) AS BIGINT) AS fg
         |      FROM t WHERE words > 0)
         |SELECT lang, count(*) AS n_docs,
         |  round(CAST(sum(words) AS DOUBLE) / count(*), 4) AS avg_words,
         |  round(CAST(sum(syl) AS DOUBLE) / sum(words), 4) AS syl_per_word,
         |  round(CAST(sum(fg) AS DOUBLE) / (count(*) * 10000.0), 4) AS mean_flesch
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "q_tokenize_wordpiece" ->
      s"""WITH RECURSIVE
         |tk AS (SELECT lang, unnest($toksAll) AS w FROM documents),
         |wt AS (SELECT lang, w, count(*) AS n_occ FROM tk GROUP BY 1, 2),
         |types AS (SELECT w, CAST(sum(n_occ) AS BIGINT) AS freq FROM wt GROUP BY w),
         |cand AS (SELECT substr(w, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS wgt
         |         FROM types, unnest(range(1, length(w) + 1)) t(i),
         |              unnest(range(2, $WP_MAXP + 1)) u(l)
         |         WHERE i + l <= length(w) + 1 GROUP BY piece),
         |vm AS (SELECT piece FROM cand ORDER BY wgt DESC, piece LIMIT $WP_V),
         |ch AS (SELECT DISTINCT substr(w, i, 1) AS piece
         |       FROM types, unnest(range(1, length(w) + 1)) t(i)),
         |vocab AS (SELECT piece FROM vm UNION SELECT piece FROM ch),
         |seg AS (
         |  SELECT w, 1 AS pos, CAST('' AS VARCHAR) AS acc, 0 AS np FROM types
         |  UNION ALL
         |  SELECT seg.w, seg.pos + length(v.piece),
         |         CASE WHEN acc = '' THEN v.piece ELSE concat(acc, '|', v.piece) END,
         |         np + 1
         |  FROM seg JOIN vocab v ON substr(seg.w, seg.pos, length(v.piece)) = v.piece
         |  WHERE seg.pos <= length(seg.w)
         |    AND NOT EXISTS (SELECT 1 FROM vocab v2
         |                    WHERE length(v2.piece) > length(v.piece)
         |                      AND substr(seg.w, seg.pos, length(v2.piece)) = v2.piece)
         |)
         |SELECT lang, w AS word, n_occ, np AS n_pieces, acc AS seg
         |FROM wt JOIN (SELECT w, acc, np FROM seg WHERE pos = length(w) + 1) d USING (w)
         |ORDER BY lang, word""".stripMargin,
    "q_skew_profile" ->
      s"""WITH tk AS (SELECT unnest($toksAll) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c),
         |s AS (SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         |        CAST(max(c) AS BIGINT) AS top1,
         |        CAST(sum(CAST(floor((CAST(c AS DOUBLE) / t)
         |          * ln(CAST(t AS DOUBLE) / c) * 1000000) AS BIGINT)) AS BIGINT) AS ent_sum
         |      FROM c, t),
         |tp AS (SELECT CAST(sum(c) AS BIGINT) AS topn FROM
         |        (SELECT c FROM c ORDER BY c DESC, tok ASC LIMIT $SKEW_TOPN))
         |SELECT 'tok' AS key_domain, n_rows, n_keys,
         |  round(CAST(top1 AS DOUBLE) / n_rows, 4) AS top1_share,
         |  round(CAST(topn AS DOUBLE) / n_rows, 4) AS topn_share,
         |  round(CAST(ent_sum AS DOUBLE) / 1000000, 4) AS entropy_nats
         |FROM s, tp""".stripMargin,
    "q_text_phrase" -> {
      val conds = PHRASE.zipWithIndex
        .map { case (t, k) => s"w[i + $k] = '$t'" }.mkString(" AND ")
      s"""WITH t AS (SELECT doc_id, $toksAll AS w FROM documents),
         |m AS (SELECT doc_id, i
         |      FROM t, unnest(range(1, len(w) - ${PHRASE.size - 2})) u(i)
         |      WHERE $conds)
         |SELECT doc_id, count(*) AS n_matches,
         |  CAST(min(i) - 1 AS BIGINT) AS first_pos
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_tokenize_bpe" -> {
      val rows = (1 to BPE_ROUNDS).map { i =>
        s"SELECT $i AS round, p AS pair, replace(p, ' ', '') AS merged, cnt FROM b$i"
      }.mkString("\nUNION ALL ")
      s"""WITH v0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
         |  FROM (SELECT unnest($toksAll) AS word FROM documents) GROUP BY word),
         |$bpeStagesSql
         |$rows
         |ORDER BY round""".stripMargin
    },
    "q_tokenize_fertility" ->
      s"""WITH wl AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT lang, unnest($toksAll) AS word FROM documents) GROUP BY 1, 2),
         |v0 AS (SELECT word, CAST(sum(freq) AS BIGINT) AS freq,
         |    trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
         |  FROM wl GROUP BY word),
         |$bpeStagesSql,
         |tk AS (SELECT word, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sym,
         |         CAST(length(word) AS BIGINT) AS n_chr
         |       FROM v$BPE_ROUNDS)
         |SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
         |  CAST(sum(freq * n_sym) AS BIGINT) AS n_tokens,
         |  CAST(sum(freq * n_chr) AS BIGINT) AS n_chars,
         |  round(CAST(sum(freq * n_sym) AS DOUBLE) / sum(freq), 4) AS fertility,
         |  round(CAST(sum(freq * n_chr) AS DOUBLE) / sum(freq * n_sym), 4) AS chars_per_token
         |FROM wl JOIN tk USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_rank_bm25" -> bm25TopSql,
    "q_text_pmi" ->
      s"""WITH toks AS (SELECT doc_id, $toksAll AS w FROM documents),
         |big AS (SELECT w[i] AS x, w[i+1] AS y, count(*) AS cxy
         |        FROM toks, unnest(range(1, len(w))) t(i)
         |        GROUP BY 1, 2),
         |uni AS (SELECT tok, count(*) AS cnt FROM (
         |    SELECT unnest(w) AS tok FROM toks) u GROUP BY tok),
         |tu AS (SELECT CAST(sum(cnt) AS BIGINT) AS tu FROM uni),
         |tb AS (SELECT CAST(sum(cxy) AS BIGINT) AS tb FROM big),
         |cand AS (SELECT big.x, big.y, CAST(big.cxy AS BIGINT) AS n_pair,
         |    CAST(floor(ln((CAST(big.cxy AS DOUBLE) * CAST(tu.tu AS DOUBLE) * CAST(tu.tu AS DOUBLE))
         |      / (CAST(tb.tb AS DOUBLE) * CAST(ux.cnt AS DOUBLE) * CAST(uy.cnt AS DOUBLE))) * 1000000) AS BIGINT) AS pmi_raw
         |  FROM big
         |  JOIN uni ux ON big.x = ux.tok
         |  JOIN uni uy ON big.y = uy.tok, tu, tb
         |  WHERE big.cxy >= $PMI_MIN_COUNT)
         |SELECT rn, x, y, n_pair, round(CAST(pmi_raw AS DOUBLE) / 1000000.0, 4) AS pmi
         |FROM (SELECT *, row_number() OVER (ORDER BY pmi_raw DESC, x ASC, y ASC) AS rn
         |      FROM cand) q
         |WHERE rn <= $PMI_TOPK ORDER BY rn""".stripMargin,
    "q_text_postings" ->
      s"""WITH td AS (SELECT doc_id, unnest($toksAll) AS term FROM documents),
         |pd AS (SELECT term, doc_id, count(*) AS tf FROM td GROUP BY 1, 2),
         |t AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
         |        CAST(sum(tf) AS BIGINT) AS tf_total,
         |        array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, $POST_K), ',') AS postings
         |      FROM pd GROUP BY term)
         |SELECT rn, term, df, tf_total, postings
         |FROM (SELECT *, row_number() OVER (ORDER BY df DESC, term ASC) AS rn FROM t) q
         |WHERE rn <= $POST_TOPK ORDER BY rn""".stripMargin,
    "q_text_heavyhitters" ->
      s"""WITH tc AS (SELECT tok, count(*) AS c FROM (
         |    SELECT unnest($toksAll) AS tok FROM documents) t GROUP BY tok),
         |jb AS (SELECT tok, c, j,
         |         CAST(concat('0x', substr(md5(concat(j, '_', tok)), 1, 7)) AS BIGINT) % 256 AS b
         |       FROM tc, unnest(range(0, 4)) u(j)),
         |sketch AS (SELECT j, b, CAST(sum(c) AS BIGINT) AS s FROM jb GROUP BY j, b),
         |top AS (SELECT tok, c FROM tc ORDER BY c DESC, tok ASC LIMIT 10),
         |est AS (SELECT top.tok, top.c, min(s) AS est
         |        FROM top JOIN jb ON top.tok = jb.tok
         |        JOIN sketch ON jb.j = sketch.j AND jb.b = sketch.b
         |        GROUP BY top.tok, top.c)
         |SELECT tok, c AS exact, est, est - c AS overcount FROM est
         |ORDER BY exact DESC, tok ASC""".stripMargin,
    "q_text_zipf" ->
      s"""WITH f AS (
         |  SELECT tok, count(*) AS freq FROM (
         |    SELECT unnest($toksAll) AS tok FROM documents) t
         |  GROUP BY tok ORDER BY freq DESC, tok ASC LIMIT 30)
         |SELECT rank, tok, freq, rank * freq AS rank_freq FROM (
         |  SELECT *, CAST(row_number() OVER (ORDER BY freq DESC, tok ASC) AS INT) AS rank
         |  FROM f) r
         |ORDER BY rank""".stripMargin,
    "q_text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  round(avg(len($toksAll)), 4) AS avg_tok,
         |  round(avg(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))), 4) AS avg_bpe,
         |  round(avg(n_chars), 4) AS avg_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toksAll AS w FROM documents WHERE doc_id % 20 = 0)
         |SELECT doc_id, CAST(len(w) AS INT) AS n_tok,
         |  round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 6) AS avg_tok_len,
         |  round(CAST(len(list_filter(w, x -> x IN ('the','a','of','and'))) AS DOUBLE) / len(w), 6) AS stop_ratio,
         |  round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |    / length(text), 6) AS alpha_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      s"""WITH t AS (SELECT lang, $toksAll AS w FROM documents),
         |sc AS (SELECT lang,
         |  len(list_filter(w, x -> x IN ('the','a','of'))) AS s_en,
         |  len(list_filter(w, x -> x IN ('der','und','die'))) AS s_de,
         |  len(list_filter(w, x -> x IN ('le','la','et'))) AS s_fr,
         |  len(list_filter(w, x -> x IN ('el','los','y'))) AS s_es
         |  FROM t),
         |p AS (SELECT lang, CASE
         |    WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         |    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         |    ELSE 'es' END AS predicted
         |  FROM sc)
         |SELECT lang, predicted, count(*) AS n FROM p
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "q_text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toksAll)), ' ')) AS fp
         |FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id""".stripMargin,
    "q_text_ngrams" ->
      s"""WITH t AS (SELECT $toksAll AS w FROM documents),
         |bg AS (SELECT w[i] || ' ' || w[i+1] AS bigram
         |       FROM t, unnest(range(1, len(w))) u(i)),
         |c AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram)
         |SELECT rn, bigram, n FROM (
         |  SELECT *, row_number() OVER (ORDER BY n DESC, bigram ASC) AS rn FROM c) x
         |WHERE rn <= 20 ORDER BY rn""".stripMargin,
    "q_text_tfidf" ->
      s"""WITH terms AS (SELECT doc_id, unnest($toksAll) AS term FROM documents),
         |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) x
         |       GROUP BY term),
         |n AS (SELECT count(*) AS n_total FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
         |       WHERE doc_id % 20 = 0 GROUP BY doc_id, term),
         |sc AS (SELECT doc_id, tf.term AS term, tf, df.df AS df,
         |         round(tf * ln(CAST(n_total AS DOUBLE) / df), 6) AS score
         |       FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         |SELECT doc_id, term, tf, df, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term ASC) AS rn FROM sc) x
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
  )
}
