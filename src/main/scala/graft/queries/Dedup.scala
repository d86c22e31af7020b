package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Deduplication operators for the training-data pipeline (BASELINE.json
  * north star). All variants are pure shuffle-parallel DataFrame plans —
  * no driver-side collection — so they scale to 100 TB by adding
  * executors:
  *
  *  - exact:    hash-groupBy on a content digest (one shuffle);
  *  - MinHash:  shingle → 16-perm signature → 8 LSH bands → band-key
  *              equi-join (candidate pairs only, never all-pairs);
  *  - SimHash:  32-bit signature → hamming histogram;
  *  - n-gram Jaccard: shingle equi-join computes |∩| without a cross
  *              join; |∪| from per-doc counts.
  *
  *  - SimHash:  32-bit signature → 4×8-bit banded near-dup pairs;
  *  - embedding-cosine: hyperplane-LSH candidate pairs → exact verify.
  *
  * NO query here is an all-pairs plan: every candidate set comes from an
  * equi-join on a bucket/band key (PlanSpec pins this). Sampled inputs
  * (doc_id % 5) only bound the DuckDB oracle's cost.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private val P = 2147483647L // 2^31-1, Mersenne prime for affine perms
  private def permA(j: Int): Long = 2L * j + 3
  private def permB(j: Int): Long = 7919L * (j + 1)
  private val NPERM = 16

  /** Exact dedup profile: distinct-content counts per source. */
  val qDedupExact: Q = (s, d) => {
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("nd_text"))
      .orderBy("source")
  }

  /** Exact dedup with deterministic keeper (min doc_id per digest) —
    * the scalable form of dropDuplicates: groupBy(digest) → min(id) →
    * semi-join back. */
  val qDedupExactKeep: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val keepers = docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(keepers, Seq("doc_id"), "left_semi")
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  /** Document-frequency cap for Jaccard shingles: shingles present in
    * more than this many documents are dropped before the self-join.
    * Irrelevant at oracle scale (max observed df is 4) but essential at
    * 100 TB, where one stopword shingle shared by 10^6 docs would
    * contribute 10^12 join rows. */
  private val SHINGLE_DF_CAP = 20

  /** Word-3-gram Jaccard near-dup: top-20 most similar pairs. The
    * shingle equi-join computes intersections directly — candidate
    * pairs are only those sharing ≥1 (rare) shingle; hot shingles are
    * removed by the df cap, the standard guard against stopword-shingle
    * skew blowing up the equi-join. */
  /** Shared shingle-pair statistics: rare-shingle equi-join candidate
    * pairs with |∩| and both per-doc shingle counts — the machinery
    * behind BOTH similarity measures (Jaccard resemblance and Broder
    * containment). `body` shapes the final measure inside the cache
    * scope. */
  private def ngramPairStats(s: SparkSession, d: String)(body: DataFrame => DataFrame): DataFrame = {
    // cached (scoped): referenced four times (df cap, both join sides,
    // per-doc counts); without it the tokenize/shingle pass runs per
    // use. Shingle rows are ~|corpus| — at 100 TB persist
    // MEMORY_AND_DISK.
    val shAll = Tables.documents(s, d).where(col("doc_id") % 5 === 0)
      .withColumn("w", tokens(col("text")))
      .select(col("doc_id"), explode(shingles(col("w"), 3)).as("s"))
    val rare = shAll.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") <= SHINGLE_DF_CAP)
      .select("s")
    val sh = shAll.join(rare, Seq("s"), "left_semi")
    Scoped.share(shAll, sh) {
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
      val pairs = sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("inter"))
      body(pairs
        .join(cnt.select(col("doc_id").as("da"), col("c").as("ca")), "da")
        .join(cnt.select(col("doc_id").as("db"), col("c").as("cb")), "db"))
    }
  }

  val qDedupNgramJaccard: Q = (s, d) => ngramPairStats(s, d) { stats =>
    val j = stats
      .withColumn("uni", col("ca") + col("cb") - col("inter"))
      .withColumn("jac", round(col("inter") / col("uni"), 4))
    // top-k via orderBy+limit (distributed TakeOrderedAndProject), then
    // rank only the 20 survivors — no global single-partition window
    j.orderBy(col("jac").desc, col("da").asc, col("db").asc).limit(20)
      .withColumn("rn", row_number().over(
        boundedWindow(col("jac").desc, col("da").asc, col("db").asc)))
      .select("rn", "da", "db", "inter", "uni", "jac")
      .orderBy("rn")
  }

  /** Broder CONTAINMENT dedup (Broder 1997 separates resemblance from
    * containment): C = |∩| / |smaller doc| — a short doc fully quoted
    * inside a long one scores ~1.0 here while its symmetric Jaccard is
    * tiny (the union is dominated by the long doc), so this is the
    * measure that catches quote/expansion/boilerplate-wrapper pairs a
    * resemblance threshold misses. Same bounded candidate machinery as
    * [[qDedupNgramJaccard]]; output ranks by containment and reports
    * the Jaccard alongside to show the gap. */
  val qDedupContainment: Q = (s, d) => ngramPairStats(s, d) { stats =>
    val j = stats
      .withColumn("c_small", least(col("ca"), col("cb")))
      .withColumn("containment", round(col("inter") / col("c_small"), 4))
      .withColumn("jac",
        round(col("inter") / (col("ca") + col("cb") - col("inter")), 4))
    j.orderBy(col("containment").desc, col("da").asc, col("db").asc).limit(20)
      .withColumn("rn", row_number().over(
        boundedWindow(col("containment").desc, col("da").asc, col("db").asc)))
      .select("rn", "da", "db", "inter", "c_small", "containment", "jac")
      .orderBy("rn")
  }

  /** Jaccard threshold numerator/denominator: t = 3/5 = 0.6. */
  private val PJ_NUM = 3
  private val PJ_DEN = 5

  /** EXACT set-similarity join via prefix filtering (SSJoin /
    * AllPairs / PPJoin family — Chaudhuri et al. ICDE 2006, Bayardo
    * et al. WWW 2007, Xiao et al. WWW 2008): every document pair with
    * shingle-Jaccard ≥ t, with NO similarity missed — the exactness
    * the MinHash/SimHash probes trade away, at a cost that is still
    * nowhere near all-pairs. Order each doc's shingles by a global
    * total order (df ascending, shingle — rarest first); if
    * J(A,B) ≥ t, the pigeonhole argument forces A and B to share a
    * shingle within their first |X| − ⌈t·|X|⌉ + 1 shingles, so the
    * candidate equi-join runs on PREFIXES only, plus the standard
    * length filter t·max ≤ min in the join condition. Unlike
    * [[ngramPairStats]]'s df-cap (which can DROP a true pair whose
    * every shared shingle is hot), the prefix bound loses nothing —
    * Round12OpsSpec pins prefix-join ≡ brute-force on the fixture.
    *
    * All-integer decision edges: the threshold test 5·|∩| ≥ 3·|∪| and
    * the reported jac_bp are integer arithmetic in both engines.
    *
    * Shape at scale: shingle pass + df count + per-doc prefix window
    * (bounded by doc length) are shuffle-parallel on doc_id/shingle;
    * the candidate join fans out only on PREFIX shingles, whose df is
    * naturally lowest-in-corpus (rarest-first order concentrates
    * candidates on the discriminative end); verification joins the
    * bounded candidate set back to the shingle table co-partitioned
    * on doc_id. Nothing is ever all-pairs and nothing collects. */
  val qDedupPrefixJoin: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // A per-query AQE coalescing floor (Scoped.coalesceFloorSession)
    // was A/B'd here too: it widened the two 5-task candidate/verify
    // stages to 32 tasks but their summed task time grew ~7x (25.2 s vs
    // 3.4 s) at wall parity — the probe stages are memory-bound, so
    // extra concurrency just burns CPU. Floor NOT applied here.
    // Optimization round 17 (guide §2.2/§2.4, JobProbe-attributed):
    //  - `Tables.spread` parallelizes the tokenize+shingle pass and —
    //    the dominant cost — the candidate/verification joins that
    //    stream the cached shingle table (two single-task 1.2–1.5 s
    //    broadcast-join probe stages over the one-partition cache);
    //    a structural no-op once the scan has >= cores splits.
    //  - `Scoped.shareEager` builds the shared shingle frame
    //    ONCE: the lazy `.cache()` let AQE's concurrent broadcast
    //    builds re-run the scan+explode eight times (~240 ms each)
    //    before the first writer populated the cache.
    val shRaw = Tables.spread(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("s"))
    Scoped.shareEager(shRaw) { sh =>
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
      val dfc = sh.groupBy("s").agg(count(lit(1)).as("df"))
      val prefix = sh.join(dfc, "s").join(cnt, "doc_id")
        .withColumn("r", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
        .where(col("r") <=
          col("c") - expr(s"($PJ_NUM * c + ${PJ_DEN - 1}) div $PJ_DEN") + 1)
        // a df=1 shingle occupies its prefix slot (the rank above runs
        // over ALL shingles — required for the pigeonhole bound) but
        // can never MATCH another doc, so it is dead weight in the
        // self-join: dropping it shrinks the join input to the shared
        // tail of the df distribution with zero effect on the result
        .where(col("df") >= 2)
        .select(col("doc_id"), col("s"), col("c"), col("r"))
      // PPJoin POSITIONAL filter (Xiao et al. WWW 2008 §3.2), kept
      // exact, in two stages against α = ⌈t/(1+t)·(ca+cb)⌉, the
      // minimum overlap a true pair needs (integer form with t=NUM/DEN:
      // (NUM+DEN)·bound ≥ NUM·(ca+cb)).
      //
      // Row stage (inside the join, prunes shuffle rows): in a GLOBAL
      // total order, a shingle shared at ranks (i, j) splits both docs
      // consistently — every common shingle below it sits below it in
      // BOTH docs, every one above sits above in BOTH — so
      // overlap ≤ min(i,j) + min(ca−i, cb−j). The bound dominates the
      // true overlap at EVERY matching row, so a true pair survives at
      // every row; filtering rows is lossless.
      val ub = least(col("a.r"), col("b.r")) +
        least(col("a.c") - col("a.r"), col("b.c") - col("b.r"))
      // Pair stage (the former distinct(), same shuffle key, now an
      // aggregate): with m = #matching prefix shingles and (il, jl)
      // the LAST match's ranks, overlap ≤ m + min(ca−il, cb−jl) —
      // every common shingle ordered below the last match MUST be a
      // prefix match itself (were it outside either prefix its rank
      // there would exceed that prefix's end ≥ il/jl, contradicting
      // its global order below the last match), and everything above
      // the last match is capped by both suffix remainders. Measured
      // at sf0.1: 193,340 → 66,406 candidate pairs (−66% verification
      // fan-in); the row stage alone prunes only ~1.4% on this corpus.
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id")
            && lit(PJ_NUM) * greatest(col("a.c"), col("b.c"))
               <= lit(PJ_DEN) * least(col("a.c"), col("b.c"))
            && lit(PJ_NUM + PJ_DEN) * ub
               >= lit(PJ_NUM) * (col("a.c") + col("b.c")))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.c").as("ca"), col("b.c").as("cb"))
        .agg(count(lit(1)).as("m"),
          max(col("a.r")).as("il"), max(col("b.r")).as("jl"))
        .where(lit(PJ_NUM + PJ_DEN) *
            (col("m") + least(col("ca") - col("il"), col("cb") - col("jl")))
          >= lit(PJ_NUM) * (col("ca") + col("cb")))
        .select("da", "db", "ca", "cb")
      cand
        .join(sh.as("ta"), col("da") === col("ta.doc_id"))
        .join(sh.as("tb"),
          col("db") === col("tb.doc_id") && col("ta.s") === col("tb.s"))
        .groupBy("da", "db", "ca", "cb")
        .agg(count(lit(1)).as("inter"))
        .where(lit(PJ_DEN) * col("inter")
          >= lit(PJ_NUM) * (col("ca") + col("cb") - col("inter")))
        .withColumn("jac_bp", expr("(inter * 10000) div (ca + cb - inter)"))
        .select("da", "db", "inter", "ca", "cb", "jac_bp")
        .orderBy("da", "db")
    }
  }

  /** Distinct-unigram 28-bit hashes of any (doc_id, text) DataFrame —
    * the generic base of the MinHash machinery, so callers (e.g. the
    * end-to-end pipeline) can cluster a filtered doc set. */
  private[graft] def unigramHashesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", hash28(col("tok")))

  private def unigramHashes(s: SparkSession, d: String): DataFrame =
    unigramHashesOf(Tables.documents(s, d).where(col("doc_id") % 5 === 0))

  /** 16-permutation MinHash signatures of any (doc_id, text) doc set.
    * Uncached here — each query caches it for its own scope
    * (Scoped.share) so the entry doesn't outlive the invocation. */
  private[graft] def minhashSignatures16Of(docs: DataFrame): DataFrame = {
    val mhCols = (0 until NPERM).map { j =>
      min((col("h") * permA(j) + permB(j)) % P).as(s"mh$j")
    }
    unigramHashesOf(docs).groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
  }

  private[graft] def minhashSignatures16(s: SparkSession, d: String): DataFrame =
    minhashSignatures16Of(Tables.documents(s, d).where(col("doc_id") % 5 === 0))

  /** Distinct LSH band-collision candidate pairs (da < db) from a
    * signature DataFrame — the equi-join that stays O(candidates) at
    * 100 TB instead of O(n²). */
  private[graft] def minhashBandCandidates(sig: DataFrame): DataFrame = {
    // one generator pass, not an 8-way union (which would recompute
    // the signature aggregation once per band per join side)
    val bandStructs = array((0 until NPERM / 2).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws(",", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("sig"))
    }: _*)
    val bands = sig.select(col("doc_id"), explode(bandStructs).as("bs"))
      .select(col("doc_id"), col("bs.band_id").as("band_id"), col("bs.sig").as("sig"))
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** MinHash + LSH banding over unigram sets: 16 affine permutations of
    * a 28-bit md5-derived hash, 8 bands × 2 rows; candidate pairs =
    * distinct band-key matches. */
  val qDedupMinhash: Q = (s, d) => {
    // Scoped.shareEager was A/B'd here in round 17 and LOST
    // (1.60/1.63 s vs 1.17/1.23 s interleaved): with only the one band
    // self-join downstream, the eager checkpoint write costs more than
    // the duplicate signature build it prevents — unlike cluster/apply,
    // whose fixpoint loop re-reads the signature table many times.
    val sig = minhashSignatures16(s, d)
    Scoped.share(sig)(minhashBandCandidates(sig).orderBy("da", "db"))
  }

  /** Band-candidate pairs VERIFIED at signature agreement ≥ minAgree —
    * the near-dup edge set (estimated Jaccard ≥ minAgree/16). One join
    * of the bounded candidate pairs against the signatures per side;
    * shared by the triangle diagnostic (graft.queries.Graph). */
  private[graft] def verifiedPairsOf(sig: DataFrame, minAgree: Int): DataFrame = {
    val agree = (0 until NPERM)
      .map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    minhashBandCandidates(sig)
      .join(sig.as("a"), col("da") === col("a.doc_id"))
      .join(sig.as("b"), col("db") === col("b.doc_id"))
      .where(agree >= minAgree)
      .select("da", "db")
  }

  /** Minimum signature agreement (of 16) for a verified near-dup edge:
    * estimated Jaccard ≥ 12/16 = 0.75. */
  private[graft] val CLUSTER_MIN_AGREE = 12
  private val CLUSTER_MAX_ITERS = 30

  /** Near-dup CLUSTERING + canonical keeper — the step that turns
    * candidate generation into dedup decisions.
    *
    * Candidate edges are bucket STARS, not bucket pairs: each LSH band
    * bucket contributes (min-member, member) edges — O(|bucket|) —
    * never the O(|bucket|²) pair enumeration, which on a template-heavy
    * corpus degenerates to a near-complete graph (measured at sf0.1:
    * 441k pair candidates vs 2.8k star candidates over the same
    * buckets, a 157× reduction). Star edges are then verified by
    * signature agreement ≥ 12/16 (est. Jaccard ≥ 0.75), and connected
    * components computed by iterative min-label propagation to a
    * fixpoint (O(diameter) rounds; one small shuffle per round). The
    * star graph is a deterministic subgraph of the pair graph — the
    * operator's contract, mirrored exactly by the oracle. The component
    * root (min doc_id) IS the kept canonical doc. Output: one row per
    * cluster (root, size). */
  val qDedupCluster: Q = (s, d) =>
    clusterLabels(s, d).groupBy("lbl").agg(count(lit(1)).as("n_docs"))
      .select(col("lbl").as("cluster_root"), col("n_docs"))
      .orderBy("cluster_root")

  /** Converged connected-component labels (id, lbl) over the verified
    * near-dup star graph — the shared core of q_dedup_cluster (cluster
    * profile) and q_dedup_apply (keeper application). The returned
    * DataFrame is localCheckpoint-materialized: self-contained, all
    * scoped caches already released. */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame =
    clusterLabelsOf(s,
      Tables.documents(s, d).where(col("doc_id") % 5 === 0), CLUSTER_MIN_AGREE)

  /** Same fixpoint over an arbitrary (doc_id, text) doc set and
    * agreement threshold — the pipeline's dedup stage clusters only its
    * quality survivors, at a stricter near-exact threshold. */
  private[graft] def clusterLabelsOf(s: SparkSession, docs: DataFrame,
      minAgree: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized EAGERLY for the scope of this invocation (released
    // in the finally): referenced by the band explode, both verify-join
    // sides and the label init. A lazy .cache() here let concurrent
    // subtree builds duplicate the 16-perm signature aggregate (~4-6 s
    // of task time re-spent per invocation — JobProbe round 17, the
    // same race Scoped.share documents); the eager build
    // runs it once. The returned plan reads only checkpointed labels,
    // so the release cannot affect the result.
    val sig = Scoped.materializeRound(minhashSignatures16Of(docs))
    val bandStructs = array((0 until NPERM / 2).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws(",", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("sig"))
    }: _*)
    val bands = sig.select(col("doc_id"), explode(bandStructs).as("bs"))
      .select(col("doc_id"), col("bs.band_id").as("band_id"), col("bs.sig").as("sig"))
    val cand = bands
      .withColumn("root", min("doc_id").over(Window.partitionBy("band_id", "sig")))
      .where(col("doc_id") > col("root"))
      .select(col("root").as("da"), col("doc_id").as("db"))
      .distinct()
    val agree = (0 until NPERM)
      .map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    val pairs = cand
      .join(sig.as("a"), col("da") === col("a.doc_id"))
      .join(sig.as("b"), col("db") === col("b.doc_id"))
      .where(agree >= minAgree)
      .select("da", "db")
    // The iterative stage shuffles label/edge tables that are tiny
    // relative to the corpus (one row per doc, one per verified edge);
    // at the default partition count every round pays 32-task stage
    // overhead, so the loop's tables are EXPLICITLY repartitioned to a
    // small count keyed on the join/agg column — hash-partitioned
    // inputs satisfy the join's and the aggregate's distribution, so
    // Catalyst adds no further exchange and the session-global
    // shuffle.partitions is never touched (a conf flip here would leak
    // to concurrent queries on the shared session). At 100 TB the
    // right value is sized to |edges|, still far below the corpus'.
    val loopParts = 4
    val edges = pairs
      .union(pairs.select(col("db").as("da"), col("da").as("db")))
      .repartition(loopParts, col("da"))
      .cache()
    // materializeRound (NOT bare cache) each round: iteration i's plan
    // embeds iteration i-1's TWICE (union + join), so without lineage
    // truncation the logical tree — and per-round analysis time — grows
    // as 2^i. Eager materialization pins each round to its computed
    // RDD and keeps every round's plan constant-size; this is the
    // difference between O(rounds) and O(2^rounds) on any iterative
    // dataflow. The helper picks localCheckpoint only on a local
    // master — on a cluster it uses the reliable checkpoint dir (or
    // persist), so a lost executor recomputes instead of killing the
    // loop.
    var labels = Scoped.materializeRound(
      sig.select(col("doc_id").as("id"), col("doc_id").as("lbl"))
        .repartition(loopParts, col("id")))
    try {
      // min-label propagation is monotone (labels only ever decrease),
      // so the exact integer sum of labels strictly decreases until the
      // fixpoint — one tiny aggregate per round detects convergence, no
      // old-vs-new join needed.
      var prevSum = labels.agg(sum("lbl")).head.getLong(0)
      var converged = false
      var it = 0
      while (!converged && it < CLUSTER_MAX_ITERS) {
        val prop = edges.join(labels, col("da") === col("id"))
          .select(col("db").as("id"), col("lbl"))
        val next = Scoped.materializeRound(
          labels.union(prop)
            .repartition(loopParts, col("id"))
            .groupBy("id").agg(min("lbl").as("lbl")))
        val nextSum = next.agg(sum("lbl")).head.getLong(0)
        Scoped.releaseRound(labels) // prior round done; `next` owns state
        labels = next
        converged = nextSum == prevSum
        prevSum = nextSum
        it += 1
      }
      require(converged, s"label propagation did not converge in $CLUSTER_MAX_ITERS rounds")
    } finally {
      Scoped.releaseRound(sig)
      edges.unpersist(blocking = false)
    }
    labels
  }

  /** Keeper APPLICATION — the query a pipeline actually consumes: apply
    * the cluster decisions to the corpus (keep a doc iff it is its
    * component's root, i.e. lbl == id — roots and singletons) and
    * profile kept/dropped per (lang, source). At 100 TB the same plan
    * emits the kept rows via the identical equi-join on doc_id (labels
    * are one slim row per doc — a co-partitioned shuffle join, never
    * broadcast); the profile aggregate here makes it oracle-checkable. */
  val qDedupApply: Q = (s, d) => {
    val labels = clusterLabels(s, d)
    Tables.documents(s, d).where(col("doc_id") % 5 === 0)
      .join(labels, col("doc_id") === col("id"))
      .groupBy("lang", "source")
      .agg(
        sum(when(col("lbl") === col("id"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("lbl") =!= col("id"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("lang", "source")
  }

  /** 32-bit SimHash near-dup pairs (hamming ≤ 3) via 4×8-bit banding.
    * Pigeonhole makes the banding EXACT at this threshold: two
    * signatures within hamming 3 differ in at most 3 of the 4 bands, so
    * they must agree exactly on at least one — candidates are a band
    * equi-join, never all-pairs, with recall 1.0 (RecallSpec asserts
    * equality against a brute pass). At 100 TB the band key bit-width
    * grows with the corpus, the plan shape does not. */
  /** One 32-bit SimHash signature per sampled doc (uncached — callers
    * scope their own cache; also reused by RecallSpec's brute pass). */
  private[graft] def simhashSignatures(s: SparkSession, d: String): DataFrame = {
    val bitCols = (0 until 32).map { i =>
      sum(when(shiftright(col("h"), i) % 2 === 1, 1).otherwise(-1)).as(s"w$i")
    }
    unigramHashes(s, d).groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(i => when(col(s"w$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  val qDedupSimhash: Q = (s, d) => {
    val sim = simhashSignatures(s, d)
    Scoped.share(sim) {
    val bands = sim.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band_id"),
          shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L)).as("bv"))): _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band_id").as("band_id"), col("bs.bv").as("bv"))
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct() // a pair may agree on more than one band
      .orderBy("da", "db")
    }
  }

  /** Embedding-cosine near-dup pairs: candidates from the banded
    * hyperplane LSH (Similarity.bandVals — log-n-adaptive rows per
    * band, band count growing ceil(·9/8) per extra row past r = 16;
    * a pair qualifies iff at least one band matches exactly), then
    * the exact double-precision cosine on candidates only. The
    * per-band bucket alphabet (2^rows) grows WITH the corpus at EVERY
    * scale, so candidates stay ~B(n)·n·16 ≈ n^1.17 (sub-quadratic,
    * recall conserved to second order at cos ≈ 0.94 and strictly
    * non-decreasing for cos ≳ 0.95 — the contract in Similarity's
    * banded section) — the round-14 sf16d sweep
    * falsified the fixed-alphabet radius-3 multiprobe predecessor
    * (256 buckets forever → n² candidates, 60 GB of spill at 1600×
    * the gate SF), and the round-15 clamp lift removed the same
    * failure one decade up (r froze at 16 past n ≈ 2^21). The band
    * explode carries
    * only (vec_id, band_id, bv); embeddings are fetched back by key,
    * so banding never multiplies vector payloads. RecallSpec pins
    * candidates == brute ∩ the band rule, and measures recall vs the
    * unrestricted threshold pairs; the oracle applies the identical
    * candidate rule (Similarity.bandedSqlCtes). */
  val qDedupEmbCos: Q = (s, d) => {
    val sample = Tables.embeddings(s, d).where(col("vec_id") % 5 === 0)
    val bp = Similarity.bandedParams(sample.count())
    val e = sample.select(col("vec_id"), col("embedding"),
      Similarity.bandVals(col("embedding"), bp).as("bands"))
    Scoped.share(e) {
      val bands = e.select(col("vec_id"), explode(col("bands")).as("bs"))
        .select(col("vec_id"), col("bs.band_id").as("band_id"), col("bs.bv").as("bv"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .distinct() // a pair may agree on more than one band
      cand
        .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
        .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
        .select(col("va"), col("vb"),
          round(cosine(col("ea"), col("eb")), 4).as("cos"))
        .where(col("cos") >= 0.35)
        .orderBy("va", "vb")
    }
  }

  private val INC_MOD = 3     // doc_id % 3 == 0 plays the already-ingested corpus
  private val INC_PREFIX = 10 // head fingerprint: first 10 tokens

  /** Incremental-ingest dedup: a NEW batch arrives and must be deduped
    * against the already-ingested corpus — the recurring-crawl shape
    * (every CommonCrawl snapshot dedups against all prior snapshots).
    * The match key is a head fingerprint (md5 of the first
    * INC_PREFIX tokens): the standard cheap near-exact key when full
    * texts differ only in tails/boilerplate.
    *
    * Scale design mirrors decontamination: the EXISTING corpus'
    * fingerprint set is corpus-sized (never broadcast, never
    * collected) — a driver-built bloom over it prefilters the incoming
    * batch MAP-SIDE through the native codegen'd probe, and false
    * positives die in the exact confirm semi-join (which shuffles only
    * the bloom survivors on the fingerprint key). Output: per-lang
    * (incoming, duplicate, new) profile; at 100 TB the same plan emits
    * the new rows via the anti-join. */
  val qDedupIncremental: Q = (s, d) => {
    val fp = md5(concat_ws(" ", slice(tokens(col("text")), 1, INC_PREFIX)))
    val docs = Tables.documents(s, d).withColumn("h", fp)
    val existing = docs.where(col("doc_id") % INC_MOD === 0).select("h").distinct()
    // the count and bloom build are driver actions on `existing`; share
    // caches it before the body, so they read the scope
    Scoped.share(existing) {
      val incoming = docs.where(col("doc_id") % INC_MOD =!= 0)
      val n = existing.count().max(1L)
      val bf = existing.stat.bloomFilter("h", n, 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val dup = incoming
        .where(graft.functions.BloomExpressions.mightContain(col("h"), bfB))
        .join(existing, Seq("h"), "left_semi")
        .select(col("doc_id")).withColumn("isdup", lit(1L))
      incoming.join(dup, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_incoming"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
        .withColumn("n_new", col("n_incoming") - col("n_dup"))
        .orderBy("lang")
    }
  }

  private val SPAN_N = 8

  /** Corpus-wide duplicated-span profile — the C4 / Lee et al. 2022
    * boilerplate signal ("Deduplicating Training Data Makes Language
    * Models Better" dedups repeated substrings; C4 discards repeated
    * three-sentence spans): a doc's word-8-gram span is DUPLICATED iff
    * it also occurs in at least one other document. Output: per-lang
    * span counts and the exact corpus dup fraction — the measurement a
    * span-trimming pass is driven by (`where` on the span's df emits
    * the spans to cut at scale).
    *
    * Shape (round 8): ONE shingle explode compressed map-side to
    * per-(span, lang) multiplicities (shingles() is per-doc distinct,
    * so the multiplicity sum over langs IS document frequency), then a
    * join of two span-keyed aggregate tables bounded at ≤ #langs rows
    * per span — no corpus-row shuffle, no skew possible however hot a
    * boilerplate 8-gram gets (~1% df in web corpora): the Zipf head
    * collapses in partial aggregation. The round-7 (sp)-partitioned
    * window form put a hot span's whole group in one un-splittable
    * WindowExec task. The dup fraction is a ratio of exact longs (one
    * correctly-rounded divide at the end), so no FP-sum ordering can
    * perturb the hash. */
  val qDedupSpans: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(shingles(tokens(col("text")), SPAN_N)).as("sp"))
    // Compress to per-(span, lang) multiplicities first — ONE shingle
    // explode (the expensive scan), map-side combine collapses hot
    // boilerplate spans per input task. The df join-back then runs on
    // tables BOUNDED per key by construction: g carries ≤ #langs rows
    // per span and w exactly one, so no join partition can exceed
    // #langs rows per key no matter how Zipf-hot the span — the skew
    // lives only in the aggregations, where partial agg absorbs it.
    // (No heavy-hitter split needed: that is for per-ROW attaches.)
    // Per-lang counts are sums of the same exact longs the row-level
    // form counted one by one.
    val g = sh.groupBy("sp", "lang").agg(count(lit(1)).as("n"))
    val w = g.groupBy("sp").agg(sum("n").cast("long").as("ndocs"))
    g.join(w.hint("shuffle_hash"), "sp")
      .groupBy("lang")
      .agg(sum("n").as("n_spans"),
        sum(when(col("ndocs") >= 2, col("n")).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
      .orderBy("lang")
  }

  private val MULTI_LENS = Seq(8, 16, 32, 64)

  /** Multi-length exact-substring dedup profile — the practical
    * distributed stand-in for suffix-array dedup (Lee et al. 2022 find
    * duplicate substrings at ALL lengths with a suffix array, which
    * doesn't distribute; the fixed-gram [[qDedupSpans]] sees only one
    * length). Grams at lengths {8,16,32,64} are profiled together and
    * each doc reports the LONGEST gram length it shares verbatim with
    * any other document plus its total duplicated-gram count — the
    * doubling ladder brackets every true longest-duplicate within 2×,
    * which is what a trim/score pass actually consumes.
    *
    * Shape: tokens computed once (cached); per length, the same
    * bounded-aggregate-join as [[qDedupSpans]] — per-doc-DISTINCT
    * grams map-side (native Shingles), document frequency via partial-
    * agg count on the (len, gram) key (Zipf-hot boilerplate collapses
    * per task), duplicated grams re-attach through ONE shuffle_hash
    * equi-join (corpus-sized build side, never broadcast, never a
    * window on the raw gram). Probe-side hot-gram skew is linear work
    * in one task here — AQE's skew split does NOT reach this shape
    * (the dup-side final agg sits between join and shuffle, outside
    * OptimizeSkewedJoin's pattern; measured in SkewSpec, which also
    * pins the mitigation for a pathological single-gram corpus:
    * materialize the dup table, or salt as in q_join_salted).
    * Union-of-lengths
    * multiplies the explode volume by the ladder size only; every
    * per-key bound is unchanged, so the 100 TB posture is exactly
    * q_dedup_spans' × 4. All accounting is exact longs. */
  val qDedupMultilen: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
    Scoped.share(docs) {
      // Grams stay RAW-string-keyed through both exchanges, by
      // measurement: md5-keying them first (the qDedupLines pattern,
      // 32-byte fixed keys, shuffle bytes 3-4x down) read 1.22x
      // SLOWER end-to-end at the 2.6 GB fixture (221 vs 180 s solo,
      // min-of-2 calm at 16 g) — occ is evaluated twice (dup agg +
      // join probe), so the crypto-hash CPU over 2x95 M grams beats
      // the byte saving while the shuffle is machine-local. On a
      // network-shuffle cluster the trade can flip; if it does, key
      // BOTH engine and oracle with md5 (they agree bit-for-bit) so
      // the gate stays exact.
      val occ = MULTI_LENS.map { n =>
        docs.select(col("doc_id"), lit(n.toLong).as("gl"),
          explode(shingles(col("w"), n)).as("sp"))
      }.reduce(_ unionAll _)
      val dup = occ.groupBy("gl", "sp").agg(count(lit(1)).as("ndocs"))
        .where(col("ndocs") >= 2).select("gl", "sp")
      val flags = occ.join(dup.hint("shuffle_hash"), Seq("gl", "sp"))
        .groupBy("doc_id")
        .agg(max("gl").as("longest_dup"), count(lit(1)).as("n_dup_grams"))
      docs.select(col("doc_id"), col("lang"))
        .join(flags, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("longest_dup"), lit(0L)).as("longest_dup"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
        .orderBy("doc_id")
    }
  }

  /** Distributed order index: assumes `df` is GLOBALLY sorted (range
    * partitioned + sorted within partitions) and appends a dense
    * 0-based position column via `RDD.zipWithIndex` — the standard
    * two-pass distributed sequence number (one job counts partition
    * sizes, the map adds offsets). No single-partition window
    * anywhere; determinism needs unique sort keys (all call sites
    * sort on key sets that are distinct by construction). */
  private def zipIdx(df: DataFrame, idx: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sch = df.schema.add(idx, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, sch)
  }

  /** EXACT longest-duplicate-substring per document — the suffix-
    * array-grade measurement of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499,
    * §4: ExactSubstr dedup via suffix arrays), distributed. Where
    * [[qDedupMultilen]] BRACKETS each doc's longest verbatim shared
    * span with a {8,16,32,64} doubling ladder (within 2× by
    * construction), this computes the true token length of the longest
    * substring each doc shares verbatim with at least one OTHER
    * document — the number a surgical trim pass actually wants.
    *
    * Two exact phases, each sized to the docs that need it:
    *
    *  1.+2. SHORT ANSWER BY SORT (round-16 rewrite): ONE global sort
    *     of every position's 8-token prefix key. For a
    *     lexicographically sorted sequence, the LCP of any two
    *     entries is the min of adjacent LCPs between them, so each
    *     doc's maximum TOKEN-prefix LCP against any OTHER doc is
    *     achieved at a rank-adjacent cross-doc boundary — per-doc
    *     lmax = max boundary LCP (capped at 8 by the key width) is
    *     then EXACTLY "the largest ℓ ≤ 8 such that some ℓ-gram of
    *     this doc occurs in ≥ 2 docs": an ℓ-token common prefix of
    *     two position keys IS a shared ℓ-gram, and the interval
    *     property (a shared ℓ-gram's prefixes are shared) makes the
    *     single lmax number carry both the old ladder gate
    *     (g = 8 ⟺ lmax = 8 ⟺ L_d ≥ 8, a SCALE-INDEPENDENT split) and
    *     the old short refinement (ℓ ≤ 7 answer = lmax). Work is
    *     O(n) rows through one range shuffle — the previous fused
    *     gram ladder built O(n · 8) gram rows, evaluated the pass
    *     twice (dup aggregate + probe join) and paid three full
    *     shuffles of it; this form builds ONE key per position and
    *     sorts it once (measured 3.8 s → ~1.3 s at sf0.1). Space-
    *     joined keys sort exactly like token sequences (the separator
    *     0x20 is below every [a-z0-9] token byte), and the boundary
    *     walk counts whole matched tokens, so the LCP is token-exact
    *     including truncated tail keys. Partition-boundary pairs ride
    *     a (pid, first, last) collection accumulator — bounded by the
    *     partition count, deduped by pid against task retries — so no
    *     second pass over the sorted data is needed.
    *  3. SUFFIX TAIL (docs with g_d = 8, i.e. L_d ≥ 8 — the docs a
    *     trim pass actually acts on): prefix-doubling suffix ranks
    *     (Manber & Myers 1993, SIAM J. Comput. 22(5); distributed as
    *     in Flick & Aluru, SC 2015 "Parallel distributed memory
    *     construction of suffix and LCP arrays") over ONLY these
    *     docs. The subset is CLOSED: a doc with a shared span of
    *     length ≥ 8 has a partner sharing that same span, whose own
    *     longest is then also ≥ 8 — so restricting the suffix
    *     structure to the subset loses no witness, and in web-scale
    *     corpora it prunes the expensive structure to the
    *     boilerplate-heavy tail.
    *
    * The doubling loop seeds at span 8 with the ORDER OF 8-GRAM
    * STRINGS — REUSED from the phase-1 global sort: the packed ranks
    * restricted to the subset keep both order and equality, which is
    * all the doubling recurrence reads, so phase 3 pays no second
    * seed sort — then doubles
    * rank_k(p) = order(rank_{k−1}(p), rank_{k−1}(p+2^{k−1})), missing
    * half → −1, per level ONE lead()-window over the doc partition
    * (positions are dense, so lead(span) IS the rank at p+span) plus
    * ONE range shuffle whose partition-local dense index
    * ((pid << 40) | idx) is an order-preserving rank without any
    * extra job or join-back. Levels stop when ranks go unique (all
    * remaining suffix pairs already differ) or span ≥ longest doc.
    *
    * Suffix-order adjacency then bounds LCE queries: for a
    * lexicographic order, LCP(sᵢ, sⱼ) = min of adjacent LCPs over
    * (i, j], so each doc's best partner LCP is achieved at a
    * CROSS-doc ADJACENT pair — the n−1 LCE candidates collapse to the
    * cross-doc boundary set. The LCE descent walks spans
    * {128…8} against the retained rank tables and {4,2,1} against
    * raw-gram tables (short strings, map-only from the cached docs);
    * equal ranks advance ℓ by min(span, both remainders), exact for
    * short tails by the sentinel semantics.
    *
    * Scale: phase 1–2 is one O(n) range shuffle of bounded keys;
    * phase 3 is O(m log L) on the
    * long-dup subset m — log L rounds of two shuffles each, rank
    * tables retained across the descent (the documented log L × m
    * footprint of distributed suffix structures, released at the
    * end), descent joins on the shrinking cross-doc boundary table.
    * The driver sees only bounded scalars (max doc length, uniqueness
    * flag, subset emptiness). The DuckDB oracle computes the same
    * number by the phase-1/2 method alone with a data-sized ladder —
    * an INDEPENDENT exact algorithm for the hash gate — and
    * Round14OpsSpec pins brute-force equality plus the multilen 2×
    * bracket law. */
  val qDedupSuffix: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val TOP = 8L
    // A Tables.spread of the doc scan (round 17) was A/B'd and came
    // out PARITY over six interleaved legs (on 4.57/4.70/4.75 vs off
    // 5.06/4.82/4.21 — spread ±15% per leg): the ~850 ms of
    // single-task key-build work it parallelizes is repaid by the
    // extra exchange plus wider loop stages in the doubling descent.
    // Left on the unspread scan; negative result recorded so round 18
    // does not retry it.
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
    Scoped.share(docs) {
      // ----- phases 1+2 BY SORT (round 16; see scaladoc): one global
      // range sort of every position's 8-token prefix key, then per-doc
      // lmax = max rank-adjacent cross-doc token-LCP. Replaces the
      // fused 8-length gram ladder (O(n·8) gram rows, evaluated twice,
      // three full shuffles — measured 3.8 s of the 6.7 s calm total)
      // with ONE key per position through one range shuffle, and the
      // resulting packed ranks double as the phase-3 seed, deleting
      // the seed's second sort.
      val pos = docs.select(col("doc_id"), col("w"), posexplode(col("w")))
        .select(col("doc_id"), col("pos").cast("long").as("p"),
          array_join(slice(col("w"), col("pos") + 1, lit(TOP.toInt)), " ").as("k"))
      // always the distributed range sort: a single-task variant for
      // small corpora was measured SLOWER at sf0.1 (1.68 vs 1.41 s —
      // the 32-way sort beats skipping the range-sampling job), and a
      // pre-materialized `pos` measured no better while checkpointing
      // every position — the double evaluation of the key build is
      // cheaper than writing it
      val sorted = pos.repartitionByRange(col("k")).sortWithinPartitions(col("k"))
      // One pass: partition-local dense rank by k packed as
      // (pid << 40 | idx) — order- and equality-preserving across
      // partitions because range partitioning keeps equal keys
      // together and partition ids follow key order — plus the
      // token-LCP against the previous row when it belongs to another
      // doc. Per-partition (first, last) (doc, key) summaries ride a
      // collection accumulator (bounded by the partition count, deduped
      // by pid against task retries) so the partition-boundary
      // adjacent pairs cost no second pass over the sorted data.
      val edgeAcc = s.sparkContext
        .collectionAccumulator[(Int, Long, String, Long, String)]("sfx_edges")
      val rankedSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("pd",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("plcp",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val rankedRdd = sorted.rdd.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var idx = -1L
        var lastK: String = null
        var lastDoc = 0L
        var firstK: String = null
        var firstDoc = 0L
        var done = false
        val base = it.map { row =>
          val doc = row.getLong(0); val p = row.getLong(1)
          val k = row.getString(2)
          if (lastK == null || k != lastK) idx += 1
          val (pd, plcp) =
            if (lastK != null && lastDoc != doc) (lastDoc, tokenLcp(lastK, k))
            else (-1L, -1L)
          if (firstK == null) { firstK = k; firstDoc = doc }
          lastK = k; lastDoc = doc
          org.apache.spark.sql.Row(doc, p, (pid.toLong << 40) | idx, pd, plcp)
        }
        new Iterator[org.apache.spark.sql.Row] {
          def hasNext: Boolean = {
            val h = base.hasNext
            if (!h && !done) {
              done = true
              if (firstK != null)
                edgeAcc.add((pid, firstDoc, firstK, lastDoc, lastK))
            }
            h
          }
          def next(): org.apache.spark.sql.Row = base.next()
        }
      }
      val ranked = Scoped.materializeRound(
        s.createDataFrame(rankedRdd, rankedSchema))
      // partition-boundary adjacent pairs, computed on the driver from
      // the accumulator (≤ 2 rows per partition — a bounded model)
      import scala.jdk.CollectionConverters._
      val edges = edgeAcc.value.asScala.toList.distinct.sortBy(_._1)
      val edgeHits: Seq[(Long, Long)] = edges.zip(edges.drop(1)).flatMap {
        case ((_, _, _, lDoc, lK), (_, fDoc, fK, _, _)) =>
          if (lDoc != fDoc) {
            val l = tokenLcp(lK, fK)
            Seq((lDoc, l), (fDoc, l))
          } else Nil
      }
      val bnd = ranked.where(col("pd") >= 0L)
      val boundary = bnd.select(col("doc_id"), col("plcp"))
        .unionAll(bnd.select(col("pd").as("doc_id"), col("plcp")))
      val withEdges =
        if (edgeHits.isEmpty) boundary
        else {
          import s.implicits._
          boundary.unionAll(edgeHits.toDF("doc_id", "plcp"))
        }
      val gm = Scoped.materializeRound(
        withEdges.groupBy("doc_id").agg(max(col("plcp")).as("lmax")))
      // ----- phase 3: prefix-doubling suffix ranks on the closed tail
      val sub = docs.join(gm.where(col("lmax") === TOP).select("doc_id"),
        Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n"))
      // one aggregate answers BOTH "is the closed subset empty?" (null
      // max) and "how long is its longest doc?" — folding the former's
      // separate isEmpty probe job into the latter (round-15, verdict
      // item 4: one fewer driver round-trip on the critical path)
      val maxnRow = sub.agg(max("n"), sum("n")).head()
      val l3 = if (maxnRow.isNullAt(0))
        docs.limit(0).select(col("doc_id"), lit(0L).as("l3"))
      else {
        val nd = sub.select(col("doc_id"), col("n"))
        val maxn = math.max(1L, maxnRow.getLong(0))
        // total suffix positions m — the size of EVERY rank table. The
        // closed L≥8 subset is typically a sliver of the corpus
        // (477/5000 docs at sf0.1), so when m fits one task's sort
        // (≤ 2M rows) the per-level global sort runs as coalesce(1) +
        // in-task sort: ONE narrow stage, no range-sampling job. Each
        // repartitionByRange costs an extra sampling JOB per doubling
        // level — at small m the ~7 levels were paying ~14 driver
        // round-trips of pure latency. Above the bound the distributed
        // range-partitioned path is unchanged (denseRankSorted only
        // needs equal keys co-partitioned + sorted, which both paths
        // provide).
        val m = maxnRow.getLong(1)
        def rankSort(df: DataFrame, keys: Column*): DataFrame =
          if (m <= 2000000L) df.coalesce(1).sortWithinPartitions(keys: _*)
          else df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
        val byDoc = Window.partitionBy("doc_id").orderBy("p")
        // seed: the phase-1 global ranks RESTRICTED to the closed
        // subset — order of 8-gram strings == span-8 suffix ranks, and
        // a filtered order-preserving equality-preserving rank is
        // still one (the doubling recurrence reads nothing else), so
        // the seed costs a semi-join instead of a second global sort
        val seed = ranked.join(
            gm.where(col("lmax") === TOP).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("p"), col("r"))
        var levels = List[(Long, DataFrame)]((8L, Scoped.materializeRound(seed)))
        var span = 8L
        var unique = false
        while (span < maxn && !unique) {
          val lvl = levels.head._2
          val paired = rankSort(lvl
            .withColumn("r2", coalesce(lead("r", span.toInt).over(byDoc), lit(-1L))),
            col("r"), col("r2"))
          // tie accumulator piggybacks the uniqueness check on the
          // rank pass itself (no extra distinct+count job); a retried
          // task can only OVERcount ties, which at worst runs one more
          // round — never a wrong stop
          val acc = s.sparkContext.longAccumulator(s"sfx_ties_$span")
          val nxt = Scoped.materializeRound(
            denseRankSorted(paired, Seq("r", "r2"), "nr", Some(acc))
              .select(col("doc_id"), col("p"), col("nr").as("r")))
          span = span * 2
          levels = (span, nxt) :: levels
          unique = acc.value == 0L
        }
        // cross-doc rank-adjacent boundary pairs. Small path (the same
        // ≤ 2M single-task bound as rankSort): the sorted frame has ONE
        // partition, so adjacent pairs fall out of one sliding
        // mapPartitions pass — no zipIdx job and no self-join shuffle.
        // Distributed path: index + consecutive-index self-join.
        val ordSorted = rankSort(levels.head._2,
          col("r"), col("doc_id"), col("p"))
        val adjBase: DataFrame =
          if (m <= 2000000L) {
            val sch = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("da",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("pa",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("db",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("pb",
                org.apache.spark.sql.types.LongType, nullable = false)))
            s.createDataFrame(ordSorted.rdd.mapPartitions { it =>
              var pDoc = 0L; var pPos = 0L; var seen = false
              it.flatMap { r =>
                val doc = r.getLong(0); val p = r.getLong(1)
                val out =
                  if (seen && pDoc != doc)
                    Some(org.apache.spark.sql.Row(pDoc, pPos, doc, p))
                  else None
                pDoc = doc; pPos = p; seen = true
                out
              }
            }, sch)
          } else {
            val ord = zipIdx(ordSorted, "i")
              .select(col("doc_id"), col("p"), col("i"))
            ord.as("x").join(ord.as("y"), col("x.i") + 1 === col("y.i"))
              .where(col("x.doc_id") =!= col("y.doc_id"))
              .select(col("x.doc_id").as("da"), col("x.p").as("pa"),
                col("y.doc_id").as("db"), col("y.p").as("pb"))
          }
        val adj = adjBase
          .join(broadcast(nd.select(col("doc_id").as("da"), col("n").as("na"))), "da")
          .join(broadcast(nd.select(col("doc_id").as("db"), col("n").as("nb"))), "db")
          .withColumn("ell", lit(0L))
        var pairs = Scoped.materializeRound(adj)
        // the descent CHAINS unmaterialized: each level's frame is
        // consumed exactly once by the next (linear lineage, no
        // exponential re-execution), so the 2·K joins pipeline into
        // one job instead of K checkpointed rounds — the K round trips
        // were pure latency at every scale.
        // When the closed subset is small enough (m ≤ 1M positions),
        // additionally BROADCAST each level's rank table: the 2·K
        // chained joins then run as BroadcastHashJoins in ONE
        // whole-stage pipeline with ZERO shuffles, instead of 2·K
        // sequential shuffle-exchange stages whose scheduling latency
        // dominated the descent at small SF (measured round 16:
        // descent ≈ 3.7 s of the 6.7 s calm total at sf0.1 with
        // m ≈ 240k). Above the bound the shuffle path is unchanged —
        // the broadcast is a size-gated execution choice, not an
        // algorithm change.
        val bcastLevels = m <= 1000000L
        def side(df: DataFrame): DataFrame =
          if (bcastLevels) broadcast(df) else df
        // Rank-table descent only for spans ≥ TAIL_SPAN; both probe
        // sides join the SAME un-renamed frame (alias-qualified), so
        // the physical planner's ReuseExchange collapses the two
        // broadcast builds per level into one. The invariant is the
        // standard greedy one: before the level of span sp the
        // remaining LCE is < 2·sp, after it < sp — so after the
        // smallest rank level (span 32) the remainder is < 32 and is
        // finished by ONE direct token comparison below (round 16;
        // the {16, 8, 4, 2, 1} rank/gram levels were 10 more chained
        // joins of pure latency, and the short-gram tables re-exploded
        // the subset three times).
        val TAIL_SPAN = 32L
        levels.filter(_._1 >= TAIL_SPAN).foreach { case (sp, lvl) =>
          val lv = side(lvl)
          pairs = pairs
            .join(lv.as("lva"), col("da") === col("lva.doc_id")
              && col("pa") + col("ell") === col("lva.p"), "left")
            .join(lv.as("lvb"), col("db") === col("lvb.doc_id")
              && col("pb") + col("ell") === col("lvb.p"), "left")
            .withColumn("ell2",
              when(col("lva.r").isNotNull && col("lva.r") === col("lvb.r"),
                col("ell") + least(lit(sp), col("na") - col("pa") - col("ell"),
                  col("nb") - col("pb") - col("ell"))).otherwise(col("ell")))
            .select(col("da"), col("pa"), col("db"), col("pb"),
              col("na"), col("nb"), col("ell2").as("ell"))
        }
        // Tail: the remaining < TAIL_SPAN tokens compared DIRECTLY
        // against the subset token arrays — a bounded (TAIL_SPAN − 1)-
        // element zip per pair, scale-independent work, replacing five
        // chained join levels. Slices past a doc's end shorten or
        // empty the operands, which reproduces the remainder-clamp
        // (sentinel) semantics of the rank levels exactly.
        val subW = side(sub.select(col("doc_id"), col("w")))
        val tailLen = (TAIL_SPAN - 1).toInt
        def tail(w: Column, pcol: Column): Column =
          slice(w, (pcol + col("ell") + 1).cast("int"), lit(tailLen))
        val zipped = zip_with(col("ta"), col("tb"),
          (x, y) => x.isNotNull && y.isNotNull && x === y)
        pairs = pairs
          .join(subW.as("twa"), col("da") === col("twa.doc_id"), "left")
          .join(subW.as("twb"), col("db") === col("twb.doc_id"), "left")
          .withColumn("ta", tail(col("twa.w"), col("pa")))
          .withColumn("tb", tail(col("twb.w"), col("pb")))
          .withColumn("z", zipped)
          .withColumn("hit", array_position(col("z"), lit(false)))
          .withColumn("ell", col("ell") +
            when(col("hit") === 0L, size(col("z")).cast("long"))
              .otherwise(col("hit") - 1L))
          .select(col("da"), col("pa"), col("db"), col("pb"),
            col("na"), col("nb"), col("ell"))
        val best = pairs.select(col("da").as("doc_id"), col("ell"))
          .unionAll(pairs.select(col("db").as("doc_id"), col("ell"))) 
          .groupBy("doc_id").agg(max("ell").as("l3"))
        val res = Scoped.materializeRound(best)
        levels.foreach { case (_, lvl) => Scoped.releaseRound(lvl) }
        Scoped.releaseRound(pairs)
        res
      }
      // the global position ranks fed gm (materialized) and the seed
      // (materialized) — nothing below reads them
      Scoped.releaseRound(ranked)
      docs.select(col("doc_id"), col("lang"))
        .join(gm, Seq("doc_id"), "left")
        .join(l3, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("lmax") === TOP, coalesce(col("l3"), lit(0L)))
            .otherwise(coalesce(col("lmax"), lit(0L))).as("l_exact"))
        .orderBy("doc_id")
    }
  }

  /** Number of fully-matched space-separated TOKENS in the common
    * prefix of two space-joined keys. Tokens are [a-z0-9]+ (the
    * tokens() alphabet), so every token byte > 0x20 and byte order on
    * joined keys equals lexicographic token-sequence order; a token
    * counts only when it matches whole — either both keys continue
    * with the separator, or the exhausted key ends exactly at the
    * token boundary (the truncated-tail-key case). */
  private[graft] def tokenLcp(a: String, b: String): Long = {
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0L
    val n = math.min(la, lb)
    var i = 0; var cnt = 0L
    while (i < n && a.charAt(i) == b.charAt(i)) {
      if (a.charAt(i) == ' ') cnt += 1
      i += 1
    }
    if (i == la && i == lb) cnt + 1
    else if (i == la && b.charAt(i) == ' ') cnt + 1
    else if (i == lb && a.charAt(i) == ' ') cnt + 1
    else cnt
  }

  /** Order-preserving rank of rows GLOBALLY SORTED by `keys` (range
    * partitioned + sorted within partitions): rank =
    * (partitionId << 40) | partition-local dense index. Equal keys
    * share a partition (range partitioning keeps equal keys together)
    * and a local index; ranks increase with global key order because
    * range partition ids are ordered. One mapPartitions — no extra
    * count job (unlike zipWithIndex), no distinct + join-back. Dense
    * GLOBAL numbering is not needed by callers, only order
    * preservation and equality. 2^40 rows per partition / 2^23
    * partitions bound the packing. */
  private def denseRankSorted(df: DataFrame, keys: Seq[String],
      out: String,
      ties: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sch = df.schema.add(out, LongType, nullable = false)
    val ki = keys.map(df.schema.fieldIndex)
    val rdd = df.rdd.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var last: Seq[Any] = null
      var idx = -1L
      it.map { r =>
        val k = ki.map(r.get)
        if (last == null || k != last) { idx += 1; last = k }
        else ties.foreach(_.add(1L))
        Row.fromSeq(r.toSeq :+ ((pid << 40) | idx))
      }
    }
    df.sparkSession.createDataFrame(rdd, sch)
  }


  private val LINE_W = 5

  /** Line-granularity EXACT dedup — the C4 rule (Raffel et al. 2020,
    * arXiv:1910.10683 §2.2 discard repeated three-sentence spans;
    * applied at line granularity in the public C4 pipeline): every
    * line that occurs anywhere else in the corpus is dropped except
    * its FIRST occurrence (smallest (doc_id, position)), and each doc
    * reports its retained-line accounting. The synthetic corpus has no
    * newlines, so the "line" unit is the non-overlapping [[LINE_W]]-
    * token chunk — the operator applies verbatim to '\n'-split lines.
    *
    * Shape: position-carrying chunk explode → md5 line key →
    * first-occurrence keeper via one partial-aggregated
    * `min(doc_id·10⁶ + pos)` per line hash (the packed key keeps the
    * keeper a plain long min for both engines; positions are < 10⁶ by
    * construction and doc ids fit the packing up to ~9·10¹² docs,
    * past which a struct min replaces it) → join back on the line
    * hash. The keeper table carries exactly ONE row per line hash, so
    * the join multiplies nothing; a boilerplate line hot on the probe
    * side is linear work in its one task (hash-probe + map-side
    * partial agg by doc), and fans back out on the doc key. AQE's
    * skew split does NOT reach this shape (keeper-side final agg
    * between join and shuffle — measured in SkewSpec along with the
    * mitigation: materialize the keeper, or salt as in q_join_salted,
    * when one line is a pathological share of the corpus). No window
    * anywhere near the line key. Counts are exact longs. */
  val qDedupLines: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
    val nChunks = floor((size(col("w")) + lit(LINE_W - 1)) / lit(LINE_W)).cast("long")
    val ln = docs
      .select(col("doc_id"), col("lang"),
        posexplode(when(size(col("w")) === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0L), nChunks - 1),
            i => concat_ws(" ", slice(col("w"), (i * LINE_W + 1).cast("int"), lit(LINE_W)))))))
      .select(col("doc_id"), col("lang"), col("pos").cast("long").as("p"),
        md5(col("col")).as("lh"))
    val keeper = ln.groupBy("lh")
      .agg(min(col("doc_id") * lit(1000000L) + col("p")).as("kid"))
    val acct = ln.join(keeper.hint("shuffle_hash"), "lh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nl"),
        sum(when(col("doc_id") * lit(1000000L) + col("p") === col("kid"), 1L)
          .otherwise(0L)).as("nk"))
    docs.select(col("doc_id"), col("lang"))
      .join(acct, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("nl"), lit(0L)).as("n_lines"),
        coalesce(col("nk"), lit(0L)).as("n_kept"),
        (coalesce(col("nl"), lit(0L)) - coalesce(col("nk"), lit(0L))).as("n_dropped"))
      .orderBy("doc_id")
  }

  private val CDC_MIN = 16 // profile only chunks ≥ 16 chars

  /** Content-defined chunking dedup (the Rabin-fingerprint chunker of
    * LBFS lineage — Muthitacharoen et al., SOSP 2001): split each
    * document at content-defined boundaries — positions whose
    * 8-char window hashes to 0 mod 64
    * ([[graft.functions.TextExpressions.CDC_W]]/`CDC_MOD`) — and profile
    * duplicate chunks across the corpus. Unlike the fixed token grid
    * of [[qDedupLines]], CDC boundaries survive insertions/deletions:
    * an edit shifts every fixed-grid chunk after it but leaves all
    * content-defined cuts outside the edit intact — the property that
    * makes CDC the storage/corpus-dedup standard for near-identical
    * revisions.
    *
    * The boundary hash is a true rolling Rabin-style polynomial,
    * implemented as the native codegen'd
    * [[graft.functions.CdcChunks]] Expression: one decode pass per
    * document, O(1) per-window updates, chunks emitted directly. All
    * arithmetic is exact int64 (code points mod 251 bound the 8-term
    * polynomial at ~1.4e17), so the DuckDB oracle evaluates the SAME
    * polynomial non-rolling per window and lands on identical cuts.
    * The production min-chunk clamp is approximated by PROFILING only
    * chunks ≥ [[CDC_MIN]] chars (a stateless post-filter both engines
    * share) rather than merging short chunks forward at cut time
    * (stateful; documented simplification) — without it the top
    * duplicates are 1-char fragments from adjacent boundaries.
    *
    * Shape: chunking is ENTIRELY map-side (one native Expression per
    * row — no explode before the per-chunk rows); the only shuffle is
    * the chunk-hash partial agg (map-side combine collapses hot
    * boilerplate chunks per task), and the top-10 is a TakeOrdered.
    * Nothing else scales with the corpus. */
  val qDedupCdc: Q = (s, d) => {
    Tables.documents(s, d).where(length(col("text")) >= 1)
      .select(col("doc_id"), explode(graft.functions.TextExpressions
        .cdcChunksFast(col("text"))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("h"), length(col("chunk")).as("clen"))
      .where(col("clen") >= CDC_MIN)
      .groupBy("h").agg(count(lit(1)).as("cnt"),
        countDistinct(col("doc_id")).as("n_docs"), min("clen").as("chunk_len"))
      .where(col("cnt") > 1)
      .orderBy(col("cnt").desc, col("h").asc).limit(10)
  }

  /** Span-trimming APPLICATION (the pass [[qDedupSpans]] only profiles
    * — Lee et al. 2022 CUTS the repeated substrings): every token
    * covered by at least one word-8-gram span occurring in ≥ 2
    * documents is trimmed; output is the per-doc (n_tokens, n_trimmed,
    * n_kept) accounting, the exact bookkeeping a trim pass emits
    * alongside the rewritten text at scale.
    *
    * Shape: position-carrying span explode (unlike `shingles()`, every
    * OCCURRENCE matters here — the same span twice in one doc covers
    * two intervals) → per-doc-distinct span df → duplicated-span set
    * joined back `shuffle_hash` (corpus-sized, same posture as
    * [[qDedupSpans]]) → per-doc interval-union via one (doc_id)-
    * partitioned lead() window: consecutive sorted starts overlap, so
    * each start contributes min(N, next−start) tokens and the last a
    * full N. All-integer arithmetic end to end; docs with no
    * duplicated span survive via the left join with zero trimmed. */
  val qDedupTrim: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
    Scoped.share(docs) {
      val occ = docs.select(col("doc_id"),
          posexplode(graft.functions.TextExpressions
            .shinglesAllFast(col("w"), SPAN_N)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("sp"))
      val dupSp = occ.select("doc_id", "sp").distinct()
        .groupBy("sp").agg(count(lit(1)).as("ndocs"))
        .where(col("ndocs") >= 2).select("sp")
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("p")
      val cov = occ.join(dupSp.hint("shuffle_hash"), "sp")
        .select("doc_id", "p")
        .withColumn("c", least(lit(SPAN_N.toLong),
          coalesce(lead("p", 1).over(wOrd) - col("p"), lit(SPAN_N.toLong))))
        .groupBy("doc_id").agg(sum("c").as("n_trimmed"))
      docs.select(col("doc_id"), col("lang"), size(col("w")).cast("long").as("n_tokens"))
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          coalesce(col("n_trimmed"), lit(0L)).as("n_trimmed"),
          (col("n_tokens") - coalesce(col("n_trimmed"), lit(0L))).as("n_kept"))
        .orderBy("doc_id")
    }
  }

  /** Deterministic split id for a doc: md5-derived decile → 8/1/1
    * train/val/test. Seeded ("split_" prefix) so the split hash is
    * independent of every other hash-percentile decision in the
    * inventory. */
  private def splitOf(c: Column): Column = {
    val p = hash28(concat(lit("split_"), c.cast("string"))) % 10
    when(p < 8, "train").when(p === 8, "val").otherwise("test")
  }

  /** Train/val/test LEAKAGE audit: near-duplicate pairs that CROSS a
    * split boundary — a val/test doc with a near-dup in train inflates
    * eval scores, and a random doc-level split leaks exactly this way
    * (the audit every eval pipeline runs before trusting its numbers).
    * Candidates are the same MinHash LSH band pairs as q_dedup_minhash
    * (bounded, never all-pairs); the output is the full split×split
    * pair matrix — off-diagonal rows ARE the leakage. At 100 TB the
    * same plan emits the offending val/test doc ids for re-assignment
    * or removal. */
  val qSplitLeakage: Q = (s, d) => {
    val sig = minhashSignatures16(s, d)
    Scoped.share(sig) {
      minhashBandCandidates(sig)
        .select(splitOf(col("da")).as("ra"), splitOf(col("db")).as("rb"))
        .select(least(col("ra"), col("rb")).as("split_a"),
          greatest(col("ra"), col("rb")).as("split_b"))
        .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("split_a", "split_b")
    }
  }

  private val MEM_N = 8 // gram order (Carlini et al. use ≥50-token spans;
                        // these synthetic docs run 21-88 tokens)

  /** Memorization / gram-level contamination audit (Carlini et al.
    * 2021-2023 measure memorization as verbatim n-gram overlap between
    * model output and training data; run at corpus-build time the same
    * statistic tells you how much of a held-out split is recoverable
    * verbatim from train — the gram-granular companion to
    * [[qSplitLeakage]]'s near-dup pair audit and [[graft.queries.Pipeline]]'s
    * doc-level decontamination): per non-train language slice — total
    * distinct eval-doc [[MEM_N]]-grams, how many also occur in train,
    * the corpus-level hit rate, and the count of documents ≥ half
    * recoverable (the "memorized" bar, integer compare n_hit·2 ≥
    * n_grams).
    *
    * Scale shape: per-doc-DISTINCT grams via the native Shingles
    * expression (map-side); the train gram set is a partial-agg
    * distinct (hot boilerplate grams collapse per task before the
    * shuffle); membership attaches through ONE equi-join on the gram
    * key — shuffle_hash-pinned (the train gram table is corpus-sized,
    * never broadcast), never a window on the raw gram. Hot-gram probe
    * skew: linear per-task work; AQE's skew split does not reach a
    * join over the distinct-agg's output (SkewSpec pins this and the
    * materialize/salt mitigation). All accounting is exact longs; the
    * one division is the final rounded rate. */
  val qMemorization: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), splitOf(col("doc_id")).as("split"),
        explode(shingles(tokens(col("text")), MEM_N)).as("sp"))
    val train = sh.where(col("split") === "train")
      .select(col("sp").as("tsp")).distinct()
    sh.where(col("split") =!= "train")
      .join(train.hint("shuffle_hash"), col("sp") === col("tsp"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("tsp").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_grams").as("grams_total"),
        sum("n_hit").as("grams_hit"),
        sum(when(col("n_hit") * 2 >= col("n_grams"), 1L).otherwise(0L))
          .as("n_memorized"))
      .withColumn("hit_rate",
        round(col("grams_hit").cast("double") / col("grams_total"), 4))
      .orderBy("lang")
  }

  private val SYM_MIN_LEN = 3   // tokens shorter than this skip typo pairing
  private val SYM_TYPO_DF = 100 // df floor for synthesizing a typo twin

  /** SymSpell typo-pair detection (Garbe 2012's symmetric-delete
    * blocking — the vocabulary-normalization pass OCR/user-generated
    * corpora run before counting): candidate pairs come ONLY from an
    * equi-join on single-deletion keys, then exact
    * levenshtein ≤ 1 confirms. The blocking is provably complete at
    * distance 1: a substitution pair shares the key that deletes the
    * differing position, an insert/delete pair shares the shorter
    * token itself — so the join enumerates a superset of every true
    * pair and NEVER goes all-pairs (|keys| = len+1 per token; hub
    * keys are short strings, cap-able by key length exactly like LSH
    * band caps). The fixture vocabulary has no natural distance-1
    * pair, so frequent tokens (df ≥ [[SYM_TYPO_DF]]) synthesize one
    * deletion twin and one substitution twin in-plan at the
    * md5-derived position (the perturbed-twin pattern of
    * q_mm_audiofp) — both engines derive identical variants, and the
    * oracle hash pins that blocking+confirm finds exactly them.
    * Output: confirmed pairs with their corpus df (0 = synthetic). */
  val qDedupSymspell: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) >= SYM_MIN_LEN)
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val p = (hash28(col("tok")) % length(col("tok"))).cast("int") + 1 // 1-based
    def delAt(t: Column, pos: Column): Column =
      concat(t.substr(lit(1), pos - 1), t.substr(pos + 1, lit(10000)))
    def subAt(t: Column, pos: Column): Column =
      concat(t.substr(lit(1), pos - 1), lit("z"), t.substr(pos + 1, lit(10000)))
    val variants = toks.where(col("df") >= SYM_TYPO_DF)
      .select(explode(array(delAt(col("tok"), p), subAt(col("tok"), p))).as("tok"),
        lit(0L).as("df"))
    val vocab = toks.unionAll(variants)
      .groupBy("tok").agg(max("df").as("df")) // variant colliding with a real token keeps its df
    val keyed = Scoped.share(vocab) {
      vocab.select(col("tok"), col("df"), explode(array_union(
        array(col("tok")),
        transform(sequence(lit(1), length(col("tok"))),
          i => delAt(col("tok"), i)))).as("key"))
    }
    keyed.as("a").join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.tok") < col("b.tok"))
      .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"),
        col("a.df").as("df_a"), col("b.df").as("df_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
      .where(col("dist") <= 1)
      .select("tok_a", "tok_b", "dist", "df_a", "df_b")
      .orderBy("tok_a", "tok_b")
  }

  /** URL canonicalization dedup — the first pass of every web-corpus
    * pipeline (CommonCrawl WARC dedup keys on the canonicalized URL
    * before any content hashing): normalize scheme/host case, strip
    * tracking parameters (utm_*, ref), drop dangling separators and
    * the trailing slash, then count how many raw variants collapse
    * per canonical URL. The fixture has no URL column, so each doc
    * synthesizes one IN-PLAN with deterministic doc_id-derived
    * variations (upper-cased host every 3rd doc, trailing slash every
    * 2nd, tracking query every doc except each 4th, ~7 docs sharing a
    * path) — the perturbed-twin pattern again: both engines derive
    * identical raw URLs, and the oracle hash pins every
    * normalization rule.
    *
    * Shape: synthesis + normalization are map-side string ops
    * (regex kept to RE2-safe character classes so Java and DuckDB
    * scan identically); the only shuffles are the canonical-key
    * aggregate and a source-level rollup. */
  val qDedupUrlnorm: Q = (s, d) => {
    val raw = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        concat(
          lit("HTTPS://"),
          when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
          lit(".Example.COM/docs/"), expr("CAST(doc_id div 7 AS STRING)"),
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 4 =!= 0,
            concat(lit("?utm_source=feed&ref="), (col("doc_id") % 5).cast("string")))
            .otherwise(lit(""))).as("url"))
    val canon = raw
      .withColumn("c", lower(col("url")))
      .withColumn("c", regexp_replace(col("c"), "(utm_[a-z]+|ref)=[^&]*&?", ""))
      .withColumn("c", regexp_replace(col("c"), "[?&]+$", ""))
      .withColumn("c", regexp_replace(col("c"), "/$", ""))
    canon.groupBy("source", "c")
      .agg(count(lit(1)).as("n_raw"), countDistinct("url").as("n_variants"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_canonical"), sum("n_raw").as("n_urls"),
        max("n_variants").as("max_variants"),
        sum(when(col("n_raw") > 1, col("n_raw") - 1).otherwise(0L)).as("n_dup_urls"))
      .orderBy("source")
  }

  /** Soft deduplication — downweight duplicates instead of dropping
    * them (the reweighting alternative argued by SoftDeDup, Xue et al.
    * 2024, and the D4 discussion of duplicate-driven distribution
    * shift): every member of an exact-duplicate group of size n keeps
    * sampling weight 1/n, so the group contributes ONE expected copy
    * while preserving each member's distinct surrounding metadata
    * (source mix, position). Weights are exact 10⁻⁶-grain integers
    * via integer division (1000000 div n — no FP on the weight);
    * per-source audit reports raw size, effective (weight-summed)
    * size, and the largest duplicate group. The fixture corpus has no
    * exact duplicates, so the input models the real trigger for soft
    * dedup — a second crawl snapshot re-ingesting every 5th doc
    * (re-keyed, same text) unioned with the first — the same
    * perturbed-twin pattern as q_dedup_urlnorm: both engines derive
    * the identical duplicated union, and the oracle hash pins the
    * n=2 groups' 500000-grain weights against the singletons' 10⁶.
    *
    * Shape: the twin union and digest are map-side; ONE
    * hash-partitioned 1:n equi-join of docs against the per-digest
    * group-size aggregate on the digest key (co-partitioned, the
    * keeper-apply posture of q_dedup_apply); source rollup. A
    * 10⁶-copy boilerplate group is n rows behind ONE digest key
    * joining ONE aggregate row — no skew amplification. */
  val qDedupSoft: Q = (s, d) => {
    val base = Tables.documents(s, d).select("doc_id", "source", "text")
    // Twin keys live in the negative namespace (-id-1) — disjoint
    // from every genuine nonnegative doc_id at any corpus size, so
    // the re-key can never collide even if doc_id is later consumed
    // downstream of the union (it is dropped today).
    val reingest = base.where(col("doc_id") % 5 === 0)
      .withColumn("doc_id", -col("doc_id") - lit(1L))
    val docs = base.unionByName(reingest).withColumn("h", md5(col("text")))
    val groups = docs.groupBy("h").agg(count(lit(1)).as("n"))
    docs.join(groups, "h")
      .withColumn("w_grain", expr("1000000 div n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("w_grain").as("eff_grain"),
        max("n").as("max_group"),
        sum(when(col("n") > 1, lit(1L)).otherwise(0L)).as("n_in_dup_groups"))
      .orderBy("source")
  }

  /** Probabilistic record linkage (Fellegi–Sunter 1969) — the entity-
    * resolution sibling of document dedup: decide match/possible/
    * nonmatch for CANDIDATE record pairs from agreement patterns over
    * comparison fields, scored by log-likelihood weights
    * log2(m/u) (agree) / log2((1-m)/(1-u)) (disagree). Weights here
    * are fixed milli-log2 integer literals (name 9890/-4320 from
    * m=.95,u=.001; balance 6490/-3310 from m=.9,u=.01; segment
    * 2090/-2420 from m=.85,u=.2) so scores are exact integer sums in
    * both engines — the EM-fitted variant would iterate these two
    * literals, not change the plan shape.
    *
    * The dirty side is a deterministic perturbed twin of `customer`
    * (the q_dedup_soft/urlnorm pattern, keys in the negative
    * namespace): case flips and '#'→'-' that normalization absorbs, a
    * ' jr' suffix (every 5th) that defeats name agreement, ±3-cent
    * balance drift (every key mod 7) against a ±1-cent tolerance, and
    * a masked segment (every 11th) — so true pairs land in all three
    * decision classes (twin_pairs counts them per class, min/max
    * score bound each class's envelope).
    *
    * Shape: BLOCKED — one hash equi-join on (nationkey, last-3 name
    * digits), never all-pairs; block granularity is the standard
    * linkage scale lever (more digits → smaller blocks at bigger
    * corpora). Comparisons are integer/equality only (cents, not
    * floats), agg is a 3-row rollup. */
  val qLinkRecords: Q = (s, d) => {
    val cust = Tables.customer(s, d)
    val a = cust.select(
      col("c_custkey").as("a_key"),
      expr("regexp_replace(lower(c_name),'[^a-z0-9]','')").as("a_norm"),
      col("c_nationkey").as("nk"),
      expr("right(regexp_extract(c_name,'([0-9]+)',1),3)").as("blk"),
      expr("cast(round(c_acctbal*100) as bigint)").as("a_cents"),
      col("c_mktsegment").as("a_seg"))
    val b = cust.select(
      expr("-c_custkey-1").as("b_key"),
      col("c_custkey").as("src_key"),
      expr("""regexp_replace(lower(concat(
          CASE WHEN c_custkey%3=0 THEN upper(c_name)
               WHEN c_custkey%3=1 THEN replace(c_name,'#','-')
               ELSE c_name END,
          CASE WHEN c_custkey%5=0 THEN ' jr' ELSE '' END)),'[^a-z0-9]','')""")
        .as("b_norm"),
      col("c_nationkey").as("nk"),
      expr("right(regexp_extract(c_name,'([0-9]+)',1),3)").as("blk"),
      expr("cast(round(c_acctbal*100) as bigint) + c_custkey%7 - 3").as("b_cents"),
      expr("CASE WHEN c_custkey%11=0 THEN 'UNKNOWN' ELSE c_mktsegment END")
        .as("b_seg"))
    a.join(b, Seq("nk", "blk"))
      .withColumn("score", expr(
        """CASE WHEN a_norm=b_norm THEN 9890 ELSE -4320 END +
           CASE WHEN abs(a_cents-b_cents)<=1 THEN 6490 ELSE -3310 END +
           CASE WHEN a_seg=b_seg THEN 2090 ELSE -2420 END"""))
      .groupBy(expr(
        """CASE WHEN score>=8000 THEN 'match'
                WHEN score>=0 THEN 'possible'
                ELSE 'nonmatch' END""").as("decision"))
      .agg(count(lit(1)).as("pairs"),
        sum(when(col("src_key") === col("a_key"), 1L).otherwise(0L))
          .as("twin_pairs"),
        min("score").as("min_score"), max("score").as("max_score"))
      .orderBy("decision")
  }

  def queries: Map[String, Q] = Map(
    "q_link_records" -> qLinkRecords,
    "q_dedup_soft" -> qDedupSoft,
    "q_dedup_urlnorm" -> qDedupUrlnorm,
    "q_dedup_symspell" -> qDedupSymspell,
    "q_memorization" -> qMemorization,
    "q_split_leakage" -> qSplitLeakage,
    "q_dedup_lines" -> qDedupLines,
    "q_dedup_cdc" -> qDedupCdc,
    "q_dedup_spans" -> qDedupSpans,
    "q_dedup_multilen" -> qDedupMultilen,
    "q_dedup_suffix" -> qDedupSuffix,
    "q_dedup_trim" -> qDedupTrim,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_exact_keep" -> qDedupExactKeep,
    "q_dedup_ngram_jaccard" -> qDedupNgramJaccard,
    "q_dedup_prefixjoin" -> qDedupPrefixJoin,
    "q_dedup_containment" -> qDedupContainment,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_embcos" -> qDedupEmbCos,
    "q_dedup_cluster" -> qDedupCluster,
    "q_dedup_apply" -> qDedupApply
  )

  private val toksSql =
    """SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |  t -> t != '') AS w FROM documents WHERE doc_id % 5 = 0""".stripMargin

  private[graft] val unigramSql =
    s"""WITH toks AS ($toksSql),
       |uh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT) AS h
       |       FROM (SELECT doc_id, unnest(w) AS tok FROM toks) u)""".stripMargin

  private val lshBucketSql = Similarity.lshBucketSql

  // SQL fragments shared with Pipeline's end-to-end oracle (which
  // replays the same MinHash clustering over its quality survivors).
  private[graft] val mhColsSql = (0 until NPERM)
    .map(j => s"min((h * ${permA(j)} + ${permB(j)}) % $P) AS mh$j").mkString(", ")
  private[graft] val bandSelectsSql = (0 until NPERM / 2)
    .map(b => s"SELECT doc_id, $b AS band_id, concat_ws(',', mh${2 * b}, mh${2 * b + 1}) AS sig FROM sig")
    .mkString(" UNION ALL ")
  private[graft] val agreeSumSql = (0 until NPERM)
    .map(j => s"(CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END)").mkString(" + ")
  private val mhCols = mhColsSql
  private val bandSelects = bandSelectsSql

  /** Shared recursive-CTE prefix: verified star-graph connected
    * components `comp(id, root)` — DuckDB's replay of the engine's
    * min-label propagation fixpoint. */
  private val componentsSql: String = {
    val agreeSql = agreeSumSql
    s"""${unigramSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, $mhCols FROM uh GROUP BY doc_id),
       |bands AS ($bandSelects),
       |stars AS (SELECT doc_id,
       |            min(doc_id) OVER (PARTITION BY band_id, sig) AS root
       |          FROM bands),
       |cand AS (SELECT DISTINCT root AS da, doc_id AS db
       |         FROM stars WHERE doc_id > root),
       |pairs AS (SELECT da, db FROM cand
       |          JOIN sig sa ON cand.da = sa.doc_id
       |          JOIN sig sb ON cand.db = sb.doc_id
       |          WHERE ($agreeSql) >= $CLUSTER_MIN_AGREE),
       |edges AS (SELECT da AS src, db AS dst FROM pairs
       |          UNION ALL SELECT db, da FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lbl FROM sig
       |  UNION
       |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(lbl) AS root FROM reach GROUP BY id)""".stripMargin
  }

  /** The q_dedup_suffix DuckDB replay (data-sized ladder + refinement
    * CTEs), parameterized by a doc filter so the sharded runner can
    * execute it once per fixture copy (see [[shardedOracle]]). */
  private def suffixOracleBody(docFilter: String): String = {
    val pows = "[1, 2, 4, 8, 16, 32, 64, 128, 256, 512]"
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS w
       |  FROM documents WHERE $docFilter),
       |lad AS (
       |  SELECT doc_id, l, md5(array_to_string(w[i:i+l-1], ' ')) AS h
       |  FROM toks, (SELECT unnest($pows) AS l) pw,
       |       unnest(range(1, len(w) + 2 - l)) t2(i)),
       |laddup AS (SELECT l, h FROM lad GROUP BY l, h
       |           HAVING count(DISTINCT doc_id) >= 2),
       |g AS MATERIALIZED (SELECT doc_id, max(l) AS g
       |     FROM lad JOIN laddup USING (l, h) GROUP BY doc_id),
       |ref AS (
       |  SELECT toks.doc_id, q.l, md5(array_to_string(w[q.i:q.i+q.l-1], ' ')) AS h
       |  FROM toks JOIN g USING (doc_id),
       |       LATERAL (SELECT ll.l, ii.i
       |         FROM unnest(range(1, least(2 * g.g, len(w) + 1))) ll(l),
       |              unnest(range(1, len(w) + 2 - ll.l)) ii(i)) q),
       |refdup AS (SELECT l, h FROM ref GROUP BY l, h
       |           HAVING count(DISTINCT doc_id) >= 2),
       |ex AS (SELECT doc_id, max(l) AS l_exact
       |       FROM ref JOIN refdup USING (l, h) GROUP BY doc_id)
       |SELECT toks.doc_id, toks.lang,
       |  CAST(coalesce(ex.l_exact, 0) AS BIGINT) AS l_exact
       |FROM toks LEFT JOIN ex USING (doc_id)""".stripMargin
  }

  /** Sharded DuckDB replay recipes (round-15 verdict item 2): the SAME
    * algorithms as the [[oracleSql]] entries, re-staged as temp tables
    * so no single DuckDB statement needs a data-sized window sort or
    * an unbounded candidate join held at once. Step grammar and
    * slice-kind semantics: scripts/sharded_check.py. Values are
    * (kind, defaultSlices, steps). */
  def shardedOracle: Map[String, (String, Int, Seq[String])] = Map(
    // per-copy slices: ScaleUp suffixes every alnum token with x<i> in
    // copy i, so no gram of ANY length matches across copies — both
    // HAVING count(DISTINCT doc_id) >= 2 aggregations decompose
    // exactly along the equal-width doc_id copy ranges ((max+1)/S
    // wide by ScaleUp's offset construction).
    "q_dedup_suffix" -> (("copy", 1, Seq(
      "CREATE TEMP TABLE cw AS SELECT (max(doc_id) + 1) // {S} AS w FROM documents",
      "CREATE TEMP TABLE res (doc_id BIGINT, lang VARCHAR, l_exact BIGINT)",
      // DuckDB's binder rejects INSERT INTO … WITH when the final
      // select qualifies a CTE name (Duplicate alias) — wrap in a
      // subquery
      "EACH: INSERT INTO res SELECT * FROM (\n" +
        suffixOracleBody("doc_id // (SELECT w FROM cw) = {s}") + "\n) final_q",
      "SELECT doc_id, lang, l_exact FROM res ORDER BY doc_id"))),
    // hash slices on the pair's LEFT doc id: every stage groups or
    // pairs by da — the per-doc prefix window partitions by doc_id,
    // and a candidate pair (da, db) is generated/aggregated only in
    // da's slice, so slices are disjoint at ANY slice count. Stage SQL
    // mirrors the q_dedup_prefixjoin oracle above — keep in lock-step.
    "q_dedup_prefixjoin" -> (("hash", 8, Seq(
      """CREATE TEMP TABLE sh AS SELECT DISTINCT doc_id,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |            t -> t != '') AS w FROM documents) toks,
        |  unnest(range(1, len(w) - 1)) t(i)""".stripMargin,
      "CREATE TEMP TABLE c AS SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY 1",
      "CREATE TEMP TABLE f AS SELECT s, count(*) AS df FROM sh GROUP BY 1",
      "CREATE TEMP TABLE p (doc_id BIGINT, s VARCHAR, c BIGINT)",
      s"""EACH: INSERT INTO p SELECT doc_id, s, c FROM (
         |  SELECT sh.doc_id, sh.s, c.c, row_number() OVER (
         |      PARTITION BY sh.doc_id ORDER BY f.df, sh.s) AS r
         |  FROM sh JOIN f USING (s) JOIN c USING (doc_id)
         |  WHERE hash(sh.doc_id) % {S} = {s}) rr
         |WHERE r <= c - ($PJ_NUM * c + ${PJ_DEN - 1}) // $PJ_DEN + 1""".stripMargin,
      "CREATE TEMP TABLE res (da BIGINT, db BIGINT, inter BIGINT, ca BIGINT, cb BIGINT, jac_bp BIGINT)",
      s"""EACH: INSERT INTO res
         |WITH cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |         a.c AS ca, b.c AS cb
         |       FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |       WHERE hash(a.doc_id) % {S} = {s}
         |         AND $PJ_NUM * greatest(a.c, b.c) <= $PJ_DEN * least(a.c, b.c)),
         |i AS (SELECT cand.da, cand.db, cand.ca, cand.cb, count(*) AS inter
         |      FROM cand JOIN sh ta ON cand.da = ta.doc_id
         |                JOIN sh tb ON cand.db = tb.doc_id AND ta.s = tb.s
         |      GROUP BY 1, 2, 3, 4)
         |SELECT da, db, inter, ca, cb,
         |  (inter * 10000) // (ca + cb - inter) AS jac_bp
         |FROM i WHERE $PJ_DEN * inter >= $PJ_NUM * (ca + cb - inter)""".stripMargin,
      "SELECT da, db, inter, ca, cb, jac_bp FROM res ORDER BY da, db")))
  )

  def oracleSql: Map[String, String] = Map(
    "q_link_records" ->
      """WITH a AS (
        |  SELECT c_custkey AS a_key,
        |    regexp_replace(lower(c_name),'[^a-z0-9]','','g') AS a_norm,
        |    c_nationkey AS nk,
        |    right(regexp_extract(c_name,'([0-9]+)',1),3) AS blk,
        |    CAST(round(c_acctbal*100) AS BIGINT) AS a_cents,
        |    c_mktsegment AS a_seg
        |  FROM customer),
        |b AS (
        |  SELECT -c_custkey-1 AS b_key, c_custkey AS src_key,
        |    regexp_replace(lower(concat(
        |      CASE WHEN c_custkey%3=0 THEN upper(c_name)
        |           WHEN c_custkey%3=1 THEN replace(c_name,'#','-')
        |           ELSE c_name END,
        |      CASE WHEN c_custkey%5=0 THEN ' jr' ELSE '' END)),
        |      '[^a-z0-9]','','g') AS b_norm,
        |    c_nationkey AS nk,
        |    right(regexp_extract(c_name,'([0-9]+)',1),3) AS blk,
        |    CAST(round(c_acctbal*100) AS BIGINT) + c_custkey%7 - 3 AS b_cents,
        |    CASE WHEN c_custkey%11=0 THEN 'UNKNOWN' ELSE c_mktsegment END AS b_seg
        |  FROM customer),
        |p AS (
        |  SELECT a_key, src_key,
        |    (CASE WHEN a_norm=b_norm THEN 9890 ELSE -4320 END +
        |     CASE WHEN abs(a_cents-b_cents)<=1 THEN 6490 ELSE -3310 END +
        |     CASE WHEN a_seg=b_seg THEN 2090 ELSE -2420 END) AS score
        |  FROM a JOIN b ON a.nk = b.nk AND a.blk = b.blk)
        |SELECT CASE WHEN score>=8000 THEN 'match'
        |            WHEN score>=0 THEN 'possible'
        |            ELSE 'nonmatch' END AS decision,
        |  count(*) AS pairs,
        |  CAST(sum(CASE WHEN src_key=a_key THEN 1 ELSE 0 END) AS BIGINT) AS twin_pairs,
        |  min(score) AS min_score, max(score) AS max_score
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_urlnorm" ->
      """WITH raw AS (SELECT doc_id, source,
        |    concat('HTTPS://',
        |      CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
        |      '.Example.COM/docs/', CAST(doc_id // 7 AS VARCHAR),
        |      CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
        |      CASE WHEN doc_id % 4 <> 0
        |        THEN concat('?utm_source=feed&ref=', CAST(doc_id % 5 AS VARCHAR))
        |        ELSE '' END) AS url
        |  FROM documents),
        |canon AS (SELECT source, url,
        |    regexp_replace(regexp_replace(regexp_replace(lower(url),
        |      '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
        |      '[?&]+$', ''), '/$', '') AS c
        |  FROM raw),
        |g AS (SELECT source, c, count(*) AS n_raw,
        |        count(DISTINCT url) AS n_variants
        |      FROM canon GROUP BY 1, 2)
        |SELECT source, count(*) AS n_canonical,
        |  CAST(sum(n_raw) AS BIGINT) AS n_urls,
        |  CAST(max(n_variants) AS BIGINT) AS max_variants,
        |  CAST(sum(CASE WHEN n_raw > 1 THEN n_raw - 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_urls
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_symspell" -> {
      val h28 = "CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT)"
      s"""WITH toks AS (SELECT tok, count(*) AS df FROM (
         |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |      t -> t != '')) AS tok FROM documents) u
         |  WHERE len(tok) >= $SYM_MIN_LEN GROUP BY 1),
         |tp AS (SELECT tok, df, CAST($h28 % len(tok) AS INT) + 1 AS p
         |       FROM toks WHERE df >= $SYM_TYPO_DF),
         |vars AS (SELECT concat(substr(tok, 1, p - 1), substr(tok, p + 1, 10000)) AS tok,
         |           CAST(0 AS BIGINT) AS df FROM tp
         |         UNION ALL
         |         SELECT concat(substr(tok, 1, p - 1), 'z', substr(tok, p + 1, 10000)),
         |           CAST(0 AS BIGINT) FROM tp),
         |vocab AS (SELECT tok, max(df) AS df FROM (
         |  SELECT tok, df FROM toks UNION ALL SELECT tok, df FROM vars) v GROUP BY 1),
         |keyed AS (SELECT tok, df, unnest(list_distinct(list_append(
         |    list_transform(range(1, len(tok) + 1),
         |      i -> concat(substr(tok, 1, CAST(i AS INT) - 1),
         |                  substr(tok, CAST(i AS INT) + 1, 10000))),
         |    tok))) AS key FROM vocab),
         |pairs AS (SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
         |            a.df AS df_a, b.df AS df_b
         |          FROM keyed a JOIN keyed b
         |            ON a.key = b.key AND a.tok < b.tok)
         |SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS INT) AS dist,
         |  CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b
         |FROM pairs WHERE levenshtein(tok_a, tok_b) <= 1
         |ORDER BY tok_a, tok_b""".stripMargin
    },
    "q_memorization" -> {
      val gram = (0 until MEM_N)
        .map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")
      val split =
        s"""CASE WHEN CAST(concat('0x', substr(md5(concat('split_', CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) % 10 < 8
           | THEN 'train'
           | WHEN CAST(concat('0x', substr(md5(concat('split_', CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) % 10 = 8
           | THEN 'val' ELSE 'test' END""".stripMargin
      s"""WITH t AS (SELECT doc_id, lang, $split AS split,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
         |  FROM documents),
         |g AS (SELECT DISTINCT doc_id, lang, split, $gram AS sp
         |      FROM t, unnest(range(1, len(w) + 2 - $MEM_N)) u(i)),
         |tr AS (SELECT DISTINCT sp FROM g WHERE split = 'train'),
         |ev AS (SELECT g.doc_id, g.lang, count(*) AS n_grams,
         |         CAST(sum(CASE WHEN tr.sp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |       FROM g LEFT JOIN tr ON g.sp = tr.sp
         |       WHERE g.split != 'train' GROUP BY 1, 2)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS grams_total,
         |  CAST(sum(n_hit) AS BIGINT) AS grams_hit,
         |  CAST(sum(CASE WHEN n_hit * 2 >= n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_memorized,
         |  round(CAST(sum(n_hit) AS DOUBLE) / sum(n_grams), 4) AS hit_rate
         |FROM ev GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q_split_leakage" -> {
      def splitSql(x: String) =
        s"""CASE WHEN CAST(concat('0x', substr(md5(concat('split_', CAST($x AS VARCHAR))), 1, 7)) AS BIGINT) % 10 < 8
           | THEN 'train'
           | WHEN CAST(concat('0x', substr(md5(concat('split_', CAST($x AS VARCHAR))), 1, 7)) AS BIGINT) % 10 = 8
           | THEN 'val' ELSE 'test' END""".stripMargin
      s"""$unigramSql,
         |sig AS (SELECT doc_id, $mhCols FROM uh GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sp AS (SELECT ${splitSql("da")} AS ra, ${splitSql("db")} AS rb FROM cand)
         |SELECT least(ra, rb) AS split_a, greatest(ra, rb) AS split_b,
         |  count(*) AS n_pairs
         |FROM sp GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin
    },
    "q_dedup_cdc" -> {
      import graft.functions.TextExpressions.{CDC_W, CDC_MOD, CDC_CP_MOD, CDC_POWS}
      val poly = (0 until CDC_W).map(j =>
        s"(unicode(substr(text, i + $j, 1)) % $CDC_CP_MOD) * ${CDC_POWS(j)}::BIGINT")
        .mkString("\n         |          + ")
      s"""WITH c AS (SELECT doc_id, text, length(text) AS L FROM documents
         |           WHERE length(text) >= 1),
         |b AS (SELECT doc_id, text,
         |    list_sort(list_distinct(list_concat([1, L + 1],
         |      [i + $CDC_W FOR i IN range(1, greatest(L - ${CDC_W - 1}, 0) + 1)
         |         IF ($poly) % $CDC_MOD = 0]))) AS cuts
         |  FROM c),
         |ch AS (SELECT doc_id, substr(text, cuts[j], cuts[j + 1] - cuts[j]) AS chunk
         |       FROM b, unnest(generate_series(1, len(cuts) - 1)) AS t(j)),
         |g AS (SELECT md5(chunk) AS h, count(*) AS cnt,
         |        count(DISTINCT doc_id) AS n_docs, min(length(chunk)) AS chunk_len
         |      FROM ch WHERE length(chunk) >= $CDC_MIN GROUP BY 1)
         |SELECT h, cnt, n_docs, chunk_len FROM g WHERE cnt > 1
         |ORDER BY cnt DESC, h LIMIT 10""".stripMargin
    },
    "q_dedup_lines" ->
      s"""WITH docs AS (SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS w
         |  FROM documents),
         |ln AS (SELECT doc_id, lang, CAST(i AS BIGINT) AS p,
         |         md5(array_to_string(w[(i*$LINE_W+1):(i*$LINE_W+$LINE_W)], ' ')) AS lh
         |       FROM docs, unnest(range(0, (len(w)+${LINE_W - 1})//$LINE_W)) t(i)),
         |k AS (SELECT lh, min(doc_id*1000000 + p) AS kid FROM ln GROUP BY lh),
         |acct AS (SELECT ln.doc_id, count(*) AS nl,
         |           CAST(sum(CASE WHEN ln.doc_id*1000000 + ln.p = k.kid THEN 1 ELSE 0 END) AS BIGINT) AS nk
         |         FROM ln JOIN k USING (lh) GROUP BY ln.doc_id)
         |SELECT docs.doc_id, docs.lang,
         |  CAST(coalesce(acct.nl, 0) AS BIGINT) AS n_lines,
         |  CAST(coalesce(acct.nk, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(acct.nl, 0) - coalesce(acct.nk, 0) AS BIGINT) AS n_dropped
         |FROM docs LEFT JOIN acct USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_spans" -> {
      val span = (0 until SPAN_N)
        .map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH toks AS (SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS w
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, lang, $span AS sp
         |       FROM toks, unnest(range(1, len(w) + 2 - $SPAN_N)) t(i)),
         |df AS (SELECT sp, count(*) AS ndocs FROM sh GROUP BY sp)
         |SELECT lang, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  round(CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac
         |FROM sh JOIN df USING (sp)
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    // Independent exact algorithm (vs the engine's suffix ranks): a
    // per-doc power-of-two gram ladder finds g_d = the largest power
    // with a cross-doc shared gram — by substring closure the true
    // longest L_d satisfies g_d ≤ L_d < 2·g_d — then a refinement pass
    // hashes every gram of length 1..min(2g_d−1, n_d) per doc. Any
    // truly shared ℓ-gram has ℓ ≤ L of BOTH partners, so both emit it
    // and the distinct-doc count ≥ 2 sees every shared length. The
    // bracket bounds the emission: Σ n_d·2g_d gram hashes, not n².
    // lad/ref are deliberately NOT MATERIALIZED: each is referenced
    // exactly twice (linear 2× recompute), while materializing them at
    // the 2.6 GB fixture would spill tens of GB of gram rows to temp.
    "q_dedup_suffix" -> (suffixOracleBody("TRUE") + "\nORDER BY doc_id"),
    "q_dedup_multilen" -> {
      // array_to_string over a slice, not a || chain: a 64-term concat
      // exceeds DuckDB's 128-deep binder recursion limit.
      def spanExpr(n: Int) = s"array_to_string(w[i:i+${n - 1}], ' ')"
      val branches = MULTI_LENS.map { n =>
        s"""SELECT DISTINCT doc_id, CAST($n AS BIGINT) AS gl, ${spanExpr(n)} AS sp
           |  FROM toks, unnest(range(1, len(w) + 2 - $n)) t(i)""".stripMargin
      }.mkString("\n         | UNION ALL\n         | ")
      s"""WITH toks AS (SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS w
         |  FROM documents),
         |occ AS ($branches),
         |dup AS (SELECT gl, sp FROM occ GROUP BY gl, sp HAVING count(*) >= 2),
         |fl AS (SELECT doc_id, max(gl) AS longest_dup, count(*) AS n_dup_grams
         |       FROM occ JOIN dup USING (gl, sp) GROUP BY doc_id)
         |SELECT toks.doc_id, toks.lang,
         |  CAST(coalesce(fl.longest_dup, 0) AS BIGINT) AS longest_dup,
         |  CAST(coalesce(fl.n_dup_grams, 0) AS BIGINT) AS n_dup_grams
         |FROM toks LEFT JOIN fl USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    "q_dedup_trim" -> {
      val span = (0 until SPAN_N)
        .map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH toks AS (SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS w
         |  FROM documents),
         |occ AS (SELECT doc_id, CAST(i AS BIGINT) AS p, $span AS sp
         |        FROM toks, unnest(range(1, len(w) + 2 - $SPAN_N)) t(i)),
         |dup AS (SELECT sp FROM (SELECT DISTINCT doc_id, sp FROM occ) u
         |        GROUP BY sp HAVING count(*) >= 2),
         |cov AS (SELECT doc_id,
         |          CAST(sum(least($SPAN_N, coalesce(nxt - p, $SPAN_N))) AS BIGINT) AS n_trimmed
         |        FROM (SELECT occ.doc_id, occ.p,
         |                lead(occ.p) OVER (PARTITION BY occ.doc_id ORDER BY occ.p) AS nxt
         |              FROM occ JOIN dup USING (sp)) st
         |        GROUP BY doc_id)
         |SELECT toks.doc_id, toks.lang, CAST(len(toks.w) AS BIGINT) AS n_tokens,
         |  coalesce(cov.n_trimmed, 0) AS n_trimmed,
         |  CAST(len(toks.w) AS BIGINT) - coalesce(cov.n_trimmed, 0) AS n_kept
         |FROM toks LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    "q_dedup_incremental" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    md5(array_to_string(
         |      (list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != ''))[1:$INC_PREFIX],
         |      ' ')) AS h
         |  FROM documents),
         |ex AS (SELECT DISTINCT h FROM d WHERE doc_id % $INC_MOD = 0),
         |inc AS (SELECT doc_id, lang, h FROM d WHERE doc_id % $INC_MOD != 0)
         |SELECT lang, count(*) AS n_incoming,
         |  CAST(sum(CASE WHEN h IN (SELECT h FROM ex) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(count(*) - sum(CASE WHEN h IN (SELECT h FROM ex) THEN 1 ELSE 0 END) AS BIGINT) AS n_new
         |FROM inc GROUP BY lang ORDER BY lang""".stripMargin,
    "q_dedup_exact" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS nd_text
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_soft" ->
      """WITH u AS (SELECT doc_id, source, text FROM documents
        |           UNION ALL
        |           SELECT -doc_id - 1, source, text FROM documents
        |           WHERE doc_id % 5 = 0),
        |g AS (SELECT md5(text) AS h, count(*) AS n FROM u GROUP BY 1),
        |j AS (SELECT u.source, g.n, 1000000 // g.n AS w_grain
        |      FROM u JOIN g ON md5(u.text) = g.h)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(w_grain) AS BIGINT) AS eff_grain,
        |       max(n) AS max_group,
        |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_groups
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_exact_keep" ->
      """SELECT lang, count(*) AS n_kept FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      s"""WITH toks AS ($toksSql),
         |sh_all AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |       FROM toks, unnest(range(1, len(w) - 1)) t(i)),
         |dfc AS (SELECT s, count(*) AS df FROM sh_all GROUP BY s),
         |sh AS (SELECT sh_all.doc_id, sh_all.s FROM sh_all
         |       JOIN dfc ON sh_all.s = dfc.s WHERE dfc.df <= $SHINGLE_DF_CAP),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |j AS (SELECT da, db, inter, ca.c + cb.c - inter AS uni,
         |        round(inter * 1.0 / (ca.c + cb.c - inter), 4) AS jac
         |      FROM pairs JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id)
         |SELECT rn, da, db, inter, uni, jac FROM (
         |  SELECT *, row_number() OVER (ORDER BY jac DESC, da ASC, db ASC) AS rn FROM j) t
         |WHERE rn <= 20 ORDER BY rn""".stripMargin,
    // prefix-filter exact similarity join: full corpus (no %5 sample —
    // the prefix bound is the pruning mechanism), rarest-first global
    // order (df, shingle), pigeonhole prefix length, length filter in
    // the candidate join, all-integer threshold test
    "q_dedup_prefixjoin" ->
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |      t -> t != '') AS w FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
         |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |  FROM toks, unnest(range(1, len(w) - 1)) t(i)),
         |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
         |      FROM sh GROUP BY 1),
         |f AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
         |r AS (SELECT sh.doc_id, sh.s, c.c, row_number() OVER (
         |        PARTITION BY sh.doc_id ORDER BY f.df, sh.s) AS r
         |      FROM sh JOIN f USING (s) JOIN c USING (doc_id)),
         |p AS MATERIALIZED (SELECT doc_id, s, c FROM r
         |     WHERE r <= c - ($PJ_NUM * c + ${PJ_DEN - 1}) // $PJ_DEN + 1),
         |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |         a.c AS ca, b.c AS cb
         |       FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |       WHERE $PJ_NUM * greatest(a.c, b.c) <= $PJ_DEN * least(a.c, b.c)),
         |i AS (SELECT cand.da, cand.db, cand.ca, cand.cb, count(*) AS inter
         |      FROM cand JOIN sh ta ON cand.da = ta.doc_id
         |                JOIN sh tb ON cand.db = tb.doc_id AND ta.s = tb.s
         |      GROUP BY 1, 2, 3, 4)
         |SELECT da, db, inter, ca, cb,
         |  (inter * 10000) // (ca + cb - inter) AS jac_bp
         |FROM i WHERE $PJ_DEN * inter >= $PJ_NUM * (ca + cb - inter)
         |ORDER BY da, db""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH toks AS ($toksSql),
         |sh_all AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |       FROM toks, unnest(range(1, len(w) - 1)) t(i)),
         |dfc AS (SELECT s, count(*) AS df FROM sh_all GROUP BY s),
         |sh AS (SELECT sh_all.doc_id, sh_all.s FROM sh_all
         |       JOIN dfc ON sh_all.s = dfc.s WHERE dfc.df <= $SHINGLE_DF_CAP),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |j AS (SELECT da, db, inter, least(ca.c, cb.c) AS c_small,
         |        round(inter * 1.0 / least(ca.c, cb.c), 4) AS containment,
         |        round(inter * 1.0 / (ca.c + cb.c - inter), 4) AS jac
         |      FROM pairs JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id)
         |SELECT rn, da, db, inter, c_small, containment, jac FROM (
         |  SELECT *, row_number() OVER (
         |    ORDER BY containment DESC, da ASC, db ASC) AS rn FROM j) t
         |WHERE rn <= 20 ORDER BY rn""".stripMargin,
    "q_dedup_minhash" ->
      s"""$unigramSql,
         |sig AS (SELECT doc_id, $mhCols FROM uh GROUP BY doc_id),
         |bands AS ($bandSelects)
         |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
         |ORDER BY da, db""".stripMargin,
    // Connected components via a recursive CTE: min reachable label ==
    // the fixpoint of the engine's min-label propagation, over the same
    // bucket-star candidate edges.
    "q_dedup_cluster" ->
      s"""$componentsSql
         |SELECT root AS cluster_root, count(*) AS n_docs
         |FROM comp GROUP BY root ORDER BY cluster_root""".stripMargin,
    // Keeper application over the same components: kept iff root = id.
    "q_dedup_apply" ->
      s"""$componentsSql
         |SELECT lang, source,
         |  CAST(sum(CASE WHEN root = id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN root != id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM comp JOIN documents ON comp.id = documents.doc_id
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // The oracle may brute-force (reference-scale DuckDB); the banding
    // is provably lossless at hamming <= 3, so the row sets coincide.
    "q_dedup_simhash" ->
      s"""$unigramSql,
         |w AS (SELECT doc_id, ${(0 until 32).map(i =>
             s"CAST(sum(CASE WHEN (h >> $i) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS w$i").mkString(", ")}
         |     FROM uh GROUP BY doc_id),
         |sim AS (SELECT doc_id, ${(0 until 32).map(i =>
             s"(CASE WHEN w$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END)").mkString(" + ")} AS simhash
         |        FROM w)
         |SELECT a.doc_id AS da, b.doc_id AS db,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY da, db""".stripMargin,
    // Candidate rule (banded hyperplane LSH: >=1 exact band match, rows
    // per band adaptive in log n) is part of the operator's definition,
    // mirrored here exactly via Similarity.bandedSqlCtes — same
    // convention as the minhash oracle reproducing the banding.
    "q_dedup_embcos" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings WHERE vec_id % 5 = 0),
         |${Similarity.bandedSqlCtes},
         |p AS (SELECT c.va, c.vb,
         |        round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |          / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
         |             * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS cos
         |      FROM gcand c JOIN e a ON c.va = a.vec_id JOIN e b ON c.vb = b.vec_id)
         |SELECT va, vb, cos FROM p WHERE cos >= 0.35 ORDER BY va, vb""".stripMargin
  )
}
