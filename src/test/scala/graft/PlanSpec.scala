package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guards: the scale-critical physical-plan properties
  * (scan pushdown, column pruning, broadcast join selection, partial
  * aggregation, distributed top-k) asserted as strings over the
  * pre-execution plan, so a future query edit can't silently regress
  * them. sf0.001 — planning only, nothing is executed.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark
  private val SF = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    // planOnly: scoped-cache queries otherwise materialize eagerly and
    // return a checkpoint scan — the guards must see the inner plan.
    // (Thread-local scope: can't flip behavior for concurrent suites.)
    graft.queries.Scoped.planOnly {
      SparkEntry.queries(name)(spark, SF).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
    }

  test("driver entry point returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_scan_project pushes filters and prunes columns at the parquet scan") {
    val p = plan("q_scan_project")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_discount"),
      "filter should reach the scan")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"),
      "scan should read only the 5 referenced columns")
  }

  test("q_join_bcast uses broadcast hash joins, never a shuffle join") {
    val p = plan("q_join_bcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("q1_agg aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expect partial + final HashAggregate pair")
    assert(p.contains("partial_"), "first aggregate should be partial")
  }

  test("global top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q_topk_global").contains("TakeOrderedAndProject"))
    assert(plan("q_text_ngrams").contains("TakeOrderedAndProject"),
      "bigram top-20 must use distributed top-k before ranking")
    assert(plan("q_dedup_ngram_jaccard").contains("TakeOrderedAndProject"),
      "jaccard top-20 must use distributed top-k before ranking")
  }

  test("q_ann_brute broadcasts the query side (no corpus shuffle before top-k)") {
    val p = plan("q_ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"), "corpus must not shuffle into a cartesian")
  }

  test("q_dedup_minhash joins band buckets with an equi-join, not all-pairs") {
    val p = plan("q_dedup_minhash")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "band match must be an equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "LSH candidate generation must never be all-pairs")
  }

  test("q_ann_ivf_pq prunes by cell equi-join; only the K-row centroid table nest-loops") {
    // The fits collect tiny models during plan construction (planOnly
    // still runs them); the guard is on the SEARCH plan they produce.
    val p = plan("q_ann_ivf_pq")
    assert(!p.contains("CartesianProduct"),
      "corpus must never cartesian — candidates come from the cell equi-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), "cell prune and ADC lookups must be equi-joins")
  }

  test("q_quality_lm top-ks distributed; scalar totals broadcast") {
    // The raw-token-window skew guard is the logical allowlist sweep
    // below ("no inventory window partitions on a raw token key") —
    // string matching cannot tell a JOIN exchange hash-partitioned by
    // tok (fine, AQE-skew-eligible) from a WINDOW one (the killer).
    val p = plan("q_quality_lm")
    assert(p.contains("TakeOrderedAndProject"),
      "most-atypical-docs must be a distributed top-k, not a global sort")
  }

  test("q_dedup_spans attaches span df skew-safely (no cartesian)") {
    // BroadcastNestedLoopJoin appears ONLY as the 1-row scalar-total
    // attach inside the heavy-hitter split (crossJoin of a broadcast
    // single-row aggregate — the established scalar pattern).
    val p = plan("q_dedup_spans")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_trim joins the duplicated-span set shuffle-hash (corpus-sized, never broadcast)") {
    val p = plan("q_dedup_trim")
    assert(p.contains("ShuffledHashJoin"),
      "the occurrence->dup-span join must stay a shuffle join — the span set grows with the corpus")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_graph_triangles builds wedges by equi-join on the oriented source (never all-pairs)") {
    val p = plan("q_graph_triangles")
    // BroadcastNestedLoopJoin appears ONLY for the final stat assembly
    // (three 1-row aggregates cross-joined into the profile row) —
    // that is legitimately a cross of literals at any scale. The
    // corpus-growing joins must be hash/merge equi-joins: the wedge
    // self-join and the LeftSemi closure.
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "wedge closure must be a semi-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), "wedges/closure must be equi-joins")
  }

  test("q_semdedup compares pairs only within a cell (equi-join, never all-pairs)") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"),
      "the k-means cell id must be the pair-join key — no corpus cartesian")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "within-cell pairing must be an equi-join")
  }

  test("multi-probe LSH candidates come from an equi-join on the probe bucket") {
    val p = plan("q_ann_lsh_probe")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), "probe match must be an equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "multi-probe candidate generation must never be all-pairs")
  }

  test("near-dup candidate generation is bucketed equi-joins, never all-pairs") {
    // q_dedup_prefixjoin: candidates must come from the prefix-shingle
    // equi-join (digest-pinning it is impossible — its self-join's
    // identical sides make one exchange's AQE reuse run-dependent)
    for (q <- Seq("q_dedup_simhash", "q_dedup_embcos", "q_ann_quantized",
        "q_dedup_prefixjoin")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must not contain an all-pairs join")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
        s"$q candidates must come from an equi-join")
    }
  }

  test("k-means IVF: centroids broadcast, candidates from an equi-join on cell") {
    val p = plan("q_ann_ivf_kmeans")
    // the centroid cross-join is a broadcast of K rows by design; the
    // candidate join must be a hash equi-join on the cell key and the
    // corpus side must never feed a cartesian
    assert(!p.contains("CartesianProduct"), "corpus must not cartesian-join")
    assert(p.contains("BroadcastHashJoin"),
      "probe-cell candidates must come from a broadcast hash equi-join")
  }

  test("q_text_tfidf shuffle-joins the document-frequency table (no broadcast)") {
    val p = plan("q_text_tfidf")
    // the df table grows with the corpus: broadcasting it OOMs at scale
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "tf ⋈ df must be a shuffle join on term")
  }

  test("new operators prune their scans to the referenced columns") {
    assert(plan("q_sample_stratified")
      .contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      "sampling must not read text")
    assert(plan("q_agg_hll")
      .contains("ReadSchema: struct<l_partkey:bigint,l_returnflag:string>"),
      "hll must read only the hashed key and the group")
  }

  test("curation ops: quality/PII map-side and join-free; zorder prunes its scan") {
    val pq = plan("q_quality_gopher")
    assert(!pq.contains("Join"), "quality rules are per-row booleans + one groupBy")
    assert(pq.contains("ReadSchema: struct<text:string,lang:string>"),
      "quality must read only text and lang")
    val pp = plan("q_pii_redact")
    assert(!pp.contains("Join") && !pp.contains("hashpartitioning"),
      "PII scrub is pure map-side — no join, no aggregation shuffle")
    val pz = plan("q_zorder_curve")
    assert(pz.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      "zorder must read only the two interleaved key columns")
    assert("HashAggregate".r.findAllIn(pz).size >= 2 && pz.contains("partial_"),
      "bucket profile must partial-aggregate map-side before the shuffle")
    val pr = plan("q_text_repetition")
    assert(!pr.contains("CartesianProduct") && !pr.contains("BroadcastNestedLoopJoin"),
      "repetition join is co-partitioned on doc_id")
  }

  test("bucketed join reads bucket files with ZERO exchange on either side") {
    // Executes the bucketed writes (tiny at sf0.001), then asserts the
    // join itself — before any aggregation — plans with no shuffle:
    // bucket outputs satisfy the join's distribution requirement.
    val joined = graft.queries.Relational.bucketedJoin(spark, SF)
    try {
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), "merge hint must pin a sort-merge join")
      assert(!p.contains("Exchange"),
        s"bucketBy(8, custkey) on both sides must eliminate every Exchange:\n$p")
      assert(p.contains("SelectedBucketsCount"), "scan must be bucket-aware")
    } finally graft.queries.Relational.dropBucketedLayout(spark, SF)
  }

  test("binned interval join is an equi-join on the bucket, never a nested loop") {
    val p = plan("q_join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "a pure range condition must not plan as a nested loop after binning")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"))
  }

  test("q_pipeline_corpus composes with zero all-pairs joins and a partitioned pack window") {
    // The end-to-end plan (post-cluster stages; the cluster fixpoint
    // itself materializes inside and is guarded via q_dedup_cluster):
    // every join must stay an equi-join and packing must stay
    // hash-partitioned — the stages inherit their standalone shapes.
    val p = plan("q_pipeline_corpus")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no stage of the composed pipeline may plan an all-pairs join")
    assert(p.contains("hashpartitioning"),
      "pack window must stay partitioned by (lang, shard)")
  }

  test("pipeline ops: packing window partitions; decontamination stays equi-join") {
    val p1 = plan("q_pack_sequences")
    assert(p1.contains("hashpartitioning"),
      "packing window must partition by (lang, shard), never sort globally")
    val p2 = plan("q_decontaminate")
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      "contamination check must join on the shingle key")
    val p3 = plan("q_sample_stratified")
    assert(!p3.contains("Join"), "stratified sampling is map-side + one aggregation")
  }

  test("salted join shuffles on (key, salt) — no broadcast collapse") {
    val p = plan("q_join_salted")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "salted join must stay a shuffle join for the skew demo")
  }

  test("KN scorers broadcast their word tables only within the broadcast threshold") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the word-keyed statistics joins: left/right (u1/u2) of the bigram
    // scorers, mid/uni (m2/q3) of the trigram scorer
    val wordKeys = Set("u1", "u2", "m2", "q3")
    def wordBroadcasts(name: String): Set[String] =
      SparkEntry.queries(name)(spark, SF).queryExecution.sparkPlan.collect {
        case j: BroadcastHashJoinExec =>
          (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).filter(wordKeys)
      }.flatten.toSet
    val kn = Map("q_quality_kn" -> Set("u1", "u2"), "q_quality_kn_mod" -> Set("u1", "u2"),
      "q_quality_kn_tri" -> Set("m2", "q3"))
    // tiny vocabulary: within the default threshold, every word table broadcasts
    kn.foreach { case (q, keys) =>
      assert(wordBroadcasts(q) == keys, s"$q should broadcast its word tables")
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try kn.keys.foreach { q =>
      assert(wordBroadcasts(q).isEmpty,
        s"$q broadcast a word table with broadcasts disabled (threshold -1)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("custom TopKPerKey operator engages on the inventory's per-group top-k") {
    graft.plans.TopKPerKeyPlans.install(spark)
    try {
      val p = SparkEntry.queries("q_topk_per_group")(spark, SF)
        .queryExecution.executedPlan.toString
      assert(p.contains("TopKPerKey"),
        "q_topk_per_group should run through the heap-based operator")
    } finally graft.plans.TopKPerKeyPlans.uninstall(spark)
  }

  test("windowed queries partition their window (no empty partitionBy sorts)") {
    // q_win_rank / q_zorder_rank / q_win_lag windows all carry a
    // partitioning key; a global window would show a single Sort with
    // no hash partitioning beneath it.
    for (q <- Seq("q_win_rank", "q_zorder_rank", "q_win_lag")) {
      val p = plan(q)
      assert(p.contains("hashpartitioning"), s"$q window should hash-partition")
    }
  }

  test("curation caps/mixing: per-key windows partition, priority sample is a TakeOrdered") {
    for (q <- Seq("q_cap_per_source", "q_mix_budget")) {
      val p = plan(q)
      assert(p.contains("hashpartitioning"), s"$q window should hash-partition by source")
      assert(!p.contains("Join"), s"$q is a single-table window + aggregate, no join")
    }
    val pri = plan("q_sample_priority")
    assert(pri.contains("TakeOrderedAndProject"),
      "global top-K sample must be a distributed TakeOrdered, not a full sort")
    val qq = plan("q_quality_quantile")
    assert(qq.contains("BroadcastHashJoin"),
      "per-lang thresholds (K rows) must broadcast back onto the docs")
  }

  test("window sweep: every window in every inventory query is partitioned or bounded") {
    // LogHygiene silences WindowExec's single-partition warning at the
    // LOGGER, so this sweep is the structural guard in its place: an
    // unpartitioned window is acceptable ONLY over a provably small
    // input — below a Limit (the boundedWindow marker pattern) or
    // above a grouped Aggregate (K-group profile tables). Anything
    // else is a single-partition global sort waiting to fall over at
    // scale, and must fail here at review time rather than warn at
    // runtime.
    import org.apache.spark.sql.catalyst.plans.logical._
    def boundedBelow(p: LogicalPlan): Boolean = p.collectFirst {
      case _: GlobalLimit => ()
      case _: LocalLimit => ()
      case a: Aggregate if a.groupingExpressions.nonEmpty => ()
    }.nonEmpty
    // The one accepted case, exempted BY NAME so any new offender still
    // fails: q_win_ntile's global ntile is inherently a single-partition
    // sort; its scaladoc documents the 100x input filter and the
    // percentile_approx two-phase form a 100 TB deployment swaps in
    // (kept exact here because the inventory pins exact tile ties).
    val exempt = Set("q_win_ntile")
    val offenders = graft.queries.Scoped.planOnly {
      (SparkEntry.queries.keySet -- exempt).toSeq.sorted.flatMap { name =>
        SparkEntry.queries(name)(spark, SF).queryExecution.optimizedPlan.collect {
          case w: Window if w.partitionSpec.isEmpty && !boundedBelow(w.child) =>
            s"$name: unpartitioned window over unbounded input"
        }
      }
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("; "))
  }

  test("corpus-frequency queries are skew-safe: split for per-row, bounded join for per-group") {
    // The round-7 count().over(partitionBy(tok|sp)) form put the Zipf
    // head's whole group in one WindowExec task AQE cannot split. Pin
    // each query's round-8 replacement shape so it cannot come back:
    // q_quality_lm (per-DOC output → genuine per-row attach) uses the
    // heavy-hitter split — broadcast hot keys + shuffle-hash tail;
    // q_mix_doremi / q_dedup_spans (per-GROUP output) join key-keyed
    // aggregate tables bounded at ≤ #groups rows per key, with no
    // corpus-row shuffle at all.
    val lm = plan("q_quality_lm")
    assert(lm.contains("BroadcastHashJoin"),
      "q_quality_lm: hot keys must attach via a broadcast join")
    assert(lm.contains("ShuffledHashJoin"),
      "q_quality_lm: the tail must join back shuffle-hash (AQE-skew-eligible)")
    for (q <- Seq("q_mix_doremi", "q_dedup_spans")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"),
        s"$q: aggregate tables join shuffle-hash (vocab-sized, never broadcast)")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian")
    }
  }

  test("pmi joins aggregate tables; postings prefix is a bounded-state aggregation") {
    val pmi = plan("q_text_pmi")
    assert(pmi.contains("ShuffledHashJoin"),
      "unigram counts join the candidate pairs shuffle-hash (vocab-sized, never broadcast)")
    assert(pmi.contains("TakeOrderedAndProject"),
      "top-k collocations must be a distributed top-k")
    val post = plan("q_text_postings")
    assert(post.contains("TakeOrderedAndProject"))
    assert(post.contains("ObjectHashAggregate") && post.contains("partial_"),
      "the BoundedMinK posting prefix must partially aggregate map-side — " +
        "a window over the raw term would carry a stopword's full posting list in one task")
  }

  test("q_rank_bm25 prunes to query terms before any shuffle; top-k is distributed") {
    val p = plan("q_rank_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not a global sort")
    assert(!p.contains("CartesianProduct"))
    // Scale guard: the query-term isin must gate the exploded token
    // stream directly (below the tf aggregate), so the shuffle carries
    // only |q|-term matches — never the whole corpus token table.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    val opt = graft.queries.Scoped.planOnly {
      SparkEntry.queries("q_rank_bm25")(spark, SF).queryExecution.optimizedPlan
    }
    val prunedOnExplode = opt.collect {
      case f: Filter if f.condition.references.exists(_.name == "tok") =>
        f.child.collect { case g: Generate => g }.nonEmpty
    }
    assert(prunedOnExplode.exists(identity),
      "query-term filter must sit directly on the exploded token stream")
  }

  test("q_dedup_cdc chunks map-side: one aggregate shuffle, no joins, top-k distributed") {
    val p = plan("q_dedup_cdc")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Join"), "CDC chunking must not join anything")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "only the chunk-hash aggregate (partial+final) may shuffle")
  }

  test("q_embed_outlier broadcasts the centroid; the vector table never shuffle-joins") {
    val p = plan("q_embed_outlier")
    assert(p.contains("BroadcastHashJoin"),
      "per-label centroid must broadcast back onto the vectors")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the vector table must not shuffle for the distance pass")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("BPE merge application: separator-consuming left-to-right scan (the pinned variant)") {
    // The space-padded global replace consumes the shared boundary
    // space, so a run `a a a a` merges to `aa a a` in ONE round (not
    // strict pairwise `aa aa`); RE2 (DuckDB) scans identically, which
    // the q_tokenize_bpe hash gate pins cross-engine. This unit test
    // pins the Java-side semantics the scaladoc documents.
    def apply(sym: String, pair: String): String =
      s" $sym ".replaceAll(s" ${java.util.regex.Pattern.quote(pair)} ",
        s" ${pair.replace(" ", "")} ").trim
    assert(apply("a a a", "a a") == "aa a")
    assert(apply("a a a a", "a a") == "aa a a")
    assert(apply("x a b y a b", "a b") == "x ab y ab")
    assert(apply("a b", "a b") == "ab")
  }

  test("round-9 third wave: candidates stay equi-join, shortlist broadcasts, no cartesians") {
    // q_sim_sparse: pairs come from the rare-term posting equi-join
    val sp = plan("q_sim_sparse")
    assert(!sp.contains("CartesianProduct"),
      "sparse similarity must pair via posting lists, never all-pairs")
    // q_dedup_symspell: pairs come from the deletion-key equi-join
    val sy = plan("q_dedup_symspell")
    assert(!sy.contains("CartesianProduct"),
      "symspell must pair via deletion keys, never all-pairs")
    // q_ann_rerank: stage-2 exact rerank joins the raw vectors via
    // broadcast of the shortlist — the corpus never shuffles for it
    val rr = plan("q_ann_rerank")
    assert(rr.contains("BroadcastHashJoin"),
      "rerank shortlist must broadcast against the embedding table")
    // q_shard_rendezvous: two conditional-max aggregates, no window
    val rv = plan("q_shard_rendezvous")
    assert(!rv.contains("WindowExec") && !rv.contains("Window "),
      "rendezvous argmax must be packed-key max aggregates, not a window sort")
    // graph additions: candidate/frontier generation never cartesians
    Seq("q_graph_ra", "q_graph_assort", "q_graph_bfs", "q_source_overlap")
      .foreach { q =>
        assert(!plan(q).contains("CartesianProduct"), s"$q must not cartesian")
      }
  }

  test("window sweep: no inventory window partitions on a raw token/shingle key") {
    // Partitioned-or-bounded (the sweep above) is necessary but not
    // sufficient: a window hash-partitioned by an exploded token or
    // shingle column is Zipf-skewed — the hot key's group lands in one
    // WindowExec task that AQE cannot split (OptimizeSkewedJoin
    // rewrites SMJ/SHJ only). Allowlist the partition keys that are
    // safe by construction (per-doc, per-entity, per-domain, bounded
    // band/cell ids); any NEW window key must be added here
    // consciously, with its skew story, at review time.
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val safeKeys = Set(
      "doc_id", "lang", "shard", "epoch", "source",      // corpus entities
      "user_id", "qid", "vec_id", "cid",                 // event / vector entities
      "event_type",  // bounded type id — only ever composed with user_id
      "day",  // sweep-line partition; hierarchical shard-merge posture at scale (Events.scala)
      "band_id", "sig", "src", "grp", "bucket",          // bounded band/cell/demo ids
      "src_a", "src_b",  // KMV pair sketches: |sources|² groups of ≤ 2K rows each
      "o_orderpriority", "c_nationkey", "o_custkey",     // TPC-H dimensions
      "l_orderkey", "key",
      "h",   // gap-fill epoch-hour, only composed with user_id: a group
             // is one user's events within one hour — bounded by rate
      "bkt") // skyline length-range bucket: ≤ SKY_BUCKET_W distinct
             // lengths per bucket after the groupBy(len) collapse
    val offenders = graft.queries.Scoped.planOnly {
      SparkEntry.queries.keySet.toSeq.sorted.flatMap { name =>
        SparkEntry.queries(name)(spark, SF).queryExecution.optimizedPlan.collect {
          case w: Window =>
            w.partitionSpec.flatMap(_.references.map(_.name))
              .filterNot(safeKeys)
              .map(k => s"$name: window partitioned on non-allowlisted key '$k'")
        }.flatten
      }
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("; "))
  }
}
