package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Graph analytics over a derived link graph — the PageRank-style
  * centrality a web-corpus pipeline uses as a document quality signal
  * (alongside q_dedup_cluster's connected components).
  *
  * Cross-engine determinism: ranks are SCALED INTEGERS (S = 10¹²) and
  * every step is integer arithmetic — contribution = rank div outdeg,
  * damping = (17·sum) div 20 (d = 0.85), base = (3·S) div (20·N) — so
  * integer sums are order-independent and the oracle hash-checks the
  * exact rank values, no floating-point tolerance anywhere.
  *
  * At 100 TB: each iteration is one co-partitioned equi-join
  * (ranks ⋈ edges on src — both sides keyed by node) + one
  * partial-aggregated shuffle on dst. Iterations are a driver loop
  * over lazy plans (3 fixed rounds — power iteration, not a
  * convergence test), the same shape GraphX/Pregel lowers to.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  private val PR_SCALE = 1000000000000L // 10^12
  private val PR_ITERS = 3
  private val PR_NODES_MOD = 100

  /** PageRank over the part→supplier co-occurrence graph: distinct
    * edges (l_partkey mod 100 → l_suppkey mod 100). Dangling-node mass
    * leaks (the standard simplification); all arithmetic integer-exact
    * (see object doc). Output: every node's final scaled rank. */
  val qPageRank: Q = (s, d) => {
    val rawEdges = Tables.lineitem(s, d)
      .select((col("l_partkey") % PR_NODES_MOD).as("src"),
        (col("l_suppkey") % PR_NODES_MOD).as("dst"))
      .distinct()
    // out-degree is static across iterations: fold it into the cached
    // edge table ONCE (the standard PageRank precompute) so each
    // iteration is a single equi-join — not join-edges + join-outdeg
    val w = Window.partitionBy("src")
    // The iteration tables are tiny (≤ PR_NODES_MOD nodes); explicit
    // small hash-partitioning on the join keys keeps every per-round
    // join/agg from fanning out to the session's full shuffle width
    // (same pattern as Dedup's label-propagation loop — at real graph
    // scale the value is sized to |edges| instead).
    val loopParts = 4
    val edges = rawEdges.withColumn("deg", count(lit(1)).over(w))
      .repartition(loopParts, col("src"))
    Scoped.share(edges) {
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst"))).distinct()
        .repartition(loopParts, col("node"))
      val n = nodes.count()
      val base = (3L * PR_SCALE) / (20L * n) // floor((1-d)·S/N), d=0.85
      var ranks = nodes.withColumn("rank", lit(PR_SCALE / n))
      for (_ <- 1 to PR_ITERS) {
        val contrib = ranks.join(edges, col("node") === col("src"))
          .select(col("dst"), expr("rank div deg").as("c"))
          .repartition(loopParts, col("dst"))
          .groupBy("dst").agg(sum("c").as("in_sum"))
        ranks = nodes.join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(base) + expr("(17 * coalesce(in_sum, 0L)) div 20")).as("rank"))
      }
      ranks.orderBy(col("rank").desc, col("node").asc)
    }
  }

  /** Triangle count + global clustering coefficient over the VERIFIED
    * near-dup graph (band candidates confirmed at signature agreement
    * ≥ 12/16, the q_dedup_cluster edge rule) — the cluster-quality
    * diagnostic run after a dedup pass: genuine duplicate communities
    * are triangle-dense (every pair agrees), while hash-collision
    * chains are triangle-free, so a LOW coefficient flags band
    * parameters producing spurious edges. Verification comes FIRST
    * precisely because the raw candidate graph is the dense one — at
    * sf0.1 it has 441k edges over 1k nodes and its wedge set is ~10⁸,
    * while the verified graph's is bounded by real duplicate structure.
    *
    * Scale shape: the classic degree-ordered orientation — each edge
    * points from its (deg, id)-smaller endpoint, which bounds oriented
    * out-degree by O(√m), so the wedge self-join on the source is
    * O(Σ outdeg²) = O(m^1.5) worst case instead of Σ deg² (the
    * star-node blowup), and every triangle is generated exactly once
    * at its smallest vertex. Wedges close via a semi-join against the
    * oriented edges (equi-join on both endpoints — no cartesian). All
    * counts are exact longs; the coefficient is one rounded divide.
    *
    * Runs on a UNIFORM doc sample (doc_id % 25): the synthetic fixture
    * is adversarially dup-dense (the full verified graph at sf0.1 is
    * 222k edges over 952 nodes — quasi-complete, 42M triangles), and
    * on any quasi-complete graph exact counting is Ω(n³) no matter the
    * algorithm. Node-sampled clustering is the standard estimator for
    * the coefficient on huge graphs; on a REAL corpus (sparse dedup
    * graph) the same plan runs exactly on the full edge set. */
  val qTriangles: Q = (s, d) => {
    val sig = Dedup.minhashSignatures16Of(
      Tables.documents(s, d).where(col("doc_id") % 25 === 0))
    val edges = Dedup.verifiedPairsOf(sig, Dedup.CLUSTER_MIN_AGREE)
    val deg = edges.select(col("da").as("v"))
      .unionAll(edges.select(col("db").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val aFirst = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("da") < col("db"))
    // the oriented edge table is read three times (both wedge sides +
    // the closing semi-join) — cached alongside its inputs so the
    // band/verify joins run once, not three times
    val oRaw = edges
      .join(deg.select(col("v").as("da"), col("deg").as("dega")), "da")
      .join(deg.select(col("v").as("db"), col("deg").as("degb")), "db")
      .select(when(aFirst, col("da")).otherwise(col("db")).as("src"),
        when(aFirst, col("db")).otherwise(col("da")).as("dst"),
        when(aFirst, col("degb")).otherwise(col("dega")).as("ddeg"))
    // Optimization round 17 (guide §2.4/§5, the round-16 verdict's
    // "build sig/edges/o in one materialization"): sig/edges are
    // cached ONLY while the oriented edge table materializes (one
    // eager build — the lazy three-frame cache let AQE's concurrent
    // subtree builds replay the band/verify joins), and every
    // downstream statistic derives from that one table: the edge
    // count is |o| (orientation is a bijection on edges), and the
    // degree table is recomputed from o's endpoints — same multiset
    // as the edges' endpoints — which costs one tiny aggregate on a
    // materialized input instead of keeping two more corpus-lineage
    // caches alive through the whole query.
    val oM = Scoped.share(sig, edges)(oRaw)
    val degO = oM.select(col("src").as("v"))
      .unionAll(oM.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wedges = oM.select(col("src"), col("dst").as("v1"), col("ddeg").as("d1"))
      .join(oM.select(col("src"), col("dst").as("v2"), col("ddeg").as("d2")), Seq("src"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
      .select("src", "v1", "v2")
    // the wedges are hash-partitioned on the closing key up front, as
    // the semi-join needs wherever `o` is too big to broadcast. Left
    // to AQE, this exchange existed or not depending on whether the
    // closure turned into a broadcast join before or after the wedge
    // stage was created, a race between concurrent stage builds.
    val nTri = wedges.repartition(col("v1"), col("v2"))
      .join(oM.select(col("src").as("v1"), col("dst").as("v2")),
        Seq("v1", "v2"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    oM.agg(count(lit(1)).as("n_edges"))
      .crossJoin(degO.agg(count(lit(1)).as("n_nodes"),
        sum(col("deg") * (col("deg") - 1)).as("w2")))
      .crossJoin(nTri)
      .select(col("n_nodes"), col("n_edges"),
        expr("w2 div 2").as("n_wedges"), col("n_triangles"),
        when(col("w2") > 0,
          round(lit(6.0) * col("n_triangles") / col("w2"), 4))
          .otherwise(lit(null).cast("double")).as("clustering"))
  }

  private val LP_ITERS = 3

  /** Community detection by synchronous label propagation (Raghavan
    * et al. 2007, "Near linear time algorithm to detect community
    * structures"): every node starts with its own id as label; each
    * round it adopts the most frequent label among its neighbors,
    * ties broken toward the smallest label so the algorithm is fully
    * deterministic (the async/random-order variant of the paper is
    * not reproducible, which disqualifies it for a data pipeline).
    * [[LP_ITERS]] synchronous rounds over the undirected
    * part→supplier graph; output is every node's final label.
    *
    * The deterministic mode is computed without a per-node sort:
    * count (node, label) pairs, then one `min(struct(-cnt, label))`
    * aggregate — both partial-aggregable map-side. Each round is one
    * equi-join keyed on node + two hash aggregates; like the
    * PageRank loop the per-round tables are repartitioned small for
    * this ≤100-node demo graph (sized to |edges| on a real graph),
    * and with a fixed round count the lineage stays shallow enough
    * that no checkpoint truncation is needed (the open-ended
    * propagate-to-fixpoint variant is [[Dedup]]'s connected-components
    * loop, which does truncate per round). */
  val qLabelProp: Q = (s, d) => {
    val e = Tables.lineitem(s, d)
      .select((col("l_partkey") % PR_NODES_MOD).as("a"),
        (col("l_suppkey") % PR_NODES_MOD).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val loopParts = 4
    val und = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .repartition(loopParts, col("src"))
    Scoped.share(und) {
      var labels = und.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
        .repartition(loopParts, col("node"))
      for (_ <- 1 to LP_ITERS) {
        labels = labels.join(und, col("node") === col("src"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst"))
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("lb"))).as("m"))
          .select(col("dst").as("node"), col("m.lb").as("label"))
          .repartition(loopParts, col("node"))
      }
      labels.select(col("node").cast("long").as("node"),
          col("label").cast("long").as("label"))
        .orderBy("node")
    }
  }

  private val KC_MOD = 500   // sparser derived graph than PageRank's
  private val KC_ROUNDS = 3

  /** Total [[Scoped.materializeRound]] calls one qGraphKcore run makes
    * (surviving edges per peel round; the keep set is a collected
    * bounded model since round 16) — the recovery probe derives its
    * "kill fired mid-loop" upper bound from this instead of hardcoding
    * it, so changing KC_ROUNDS can't silently break the gate. */
  val kcoreMaterializations: Int = KC_ROUNDS

  /** k-core peeling (Seidman 1983, "Network structure and minimum
    * degree"): iteratively remove nodes of degree < k; the surviving
    * subgraph after convergence is the k-core, the standard
    * dense-community / spam-farm filter. k is CORPUS-ADAPTIVE — the
    * exact lower-median initial degree (an integer picked by rank, so
    * both engines choose identically at every scale; a fixed k is
    * vacuous on a graph whose density moves with SF). Output: node
    * and directed-edge counts after each of [[KC_ROUNDS]] peel rounds
    * (round 0 = the input graph).
    *
    * Scale: each round is one degree aggregate whose surviving-node
    * set — bounded by the derived node-id domain, like the median-k
    * pick that sorts only the NODE-degree table — comes back as a
    * driver-side bounded model and re-filters the edge table map-only
    * (no loop shuffle); per-round edge counts are scalar actions on
    * monotonically shrinking materialized tables. On an unbounded
    * node domain the rounds would keep the semi-join form. Fixed
    * round count keeps lineage shallow (the to-fixpoint variant would
    * checkpoint per round like Dedup's components loop). */
  val qGraphKcore: Q = (s, d) => {
    import s.implicits._
    val e = Tables.lineitem(s, d)
      .select((col("l_partkey") % KC_MOD).as("a"), (col("l_suppkey") % KC_MOD).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val loopParts = 4
    val und0 = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .repartition(loopParts, col("src"))
    Scoped.share(und0) {
      // ONE job collects the node-domain-bounded degree table
      // (≤ KC_MOD rows) and the driver derives everything the old
      // setup paid three jobs for: the node count, the exact
      // lower-median k (max over the by-(deg, src) first half — the
      // src tiebreak cannot change the max of a sorted-prefix
      // multiset), the round-0 directed edge count (= Σ deg), and
      // round 1's keep set.
      val degs = und0.groupBy("src").agg(count(lit(1)).as("deg"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val nNodes0 = degs.length.toLong
      val k = degs.map(_._2).sorted.take(((nNodes0 + 1) / 2).toInt).max
      val rows = scala.collection.mutable.ArrayBuffer(
        (0, nNodes0, degs.map(_._2).sum))
      // each round's surviving-edge table is materialized EAGERLY
      // before its count: without lineage truncation, round r's plan
      // chains r rounds back to und0 and every count() action
      // re-executes the whole prefix — measured 6.9 s at sf0.1;
      // materialized, each round runs exactly once and the counts are
      // scans. materializeRound picks the deployment-correct mechanism
      // (local / reliable / cache-only). The keep SET, by contrast, is
      // bounded by the derived node-id domain (≤ KC_MOD rows — the
      // same bound the median-k pick already relies on), so it is a
      // legitimate driver-side bounded model: collecting it turns the
      // round's two node-keyed shuffle joins into one map-only
      // isInCollection filter and its count into a free .size
      // (round 16; was 4 driver round-trips and 3 shuffles per round,
      // now 2 round-trips and 0 loop shuffles). On a real graph whose
      // node domain is NOT bounded, the peel rounds would keep the
      // semi-join form — the bound here is structural (mod KC_MOD),
      // not a fixture accident.
      var edges = und0
      for (r <- 1 to KC_ROUNDS) {
        val keep =
          if (r == 1) degs.filter(_._2 >= k).map(_._1).toSeq
          else edges.groupBy("src").agg(count(lit(1)).as("deg"))
            .where(col("deg") >= k).select("src")
            .collect().map(_.getLong(0)).toSeq
        val prev = edges
        edges = Scoped.materializeRound(
          if (keep.isEmpty) prev.where(lit(false))
          else prev.where(col("src").isInCollection(keep)
            && col("dst").isInCollection(keep)))
        rows += ((r, keep.size.toLong, edges.count()))
        if (r > 1) Scoped.releaseRound(prev)
      }
      Scoped.releaseRound(edges) // counts collected; round state done
      rows.toSeq.toDF("round", "n_nodes", "n_edges").orderBy("round")
    }
  }

  private val KT_ROUNDS = 2
  private val KT_SUPPORT = 3 // k-truss with k = KT_SUPPORT + 2

  /** k-truss peeling (Cohen 2008, "Trusses: cohesive subgraphs for
    * social network analysis") on the NEAR-DUP graph — the edge-level
    * sibling of [[qGraphKcore]]'s node-degree peel: iteratively remove
    * every edge whose SUPPORT (number of triangles through it) is
    * below k−2. Where connected components give dedup CLUSTERS
    * (q_dedup_cluster) and k-core gives dense nodes, the k-truss is
    * the standard tighter-than-component cluster CORE — the edges
    * that survive are mutually triangle-reinforced near-duplicates,
    * dropping the chance band-collision bridges that chain distinct
    * templates into one component. Output: edge and triangle counts
    * after each of [[KT_ROUNDS]] peel rounds (round 0 = input graph).
    *
    * Scale: the substrate is the banded-minhash near-dup graph
    * (bounded degree by construction at any corpus size — never a
    * corpus-saturating pair domain), so triangle enumeration is the
    * same bounded wedge join q_graph_triangles runs; each round is
    * that join + one edge-keyed aggregate + a semi-join, on
    * monotonically shrinking tables, localCheckpointed eagerly like
    * the kcore loop so counts never replay the peel prefix. */
  val qGraphKtruss: Q = (s, d) => {
    import s.implicits._
    // signature table materialized EAGERLY (round 17): the verified-
    // pair build reads it via three concurrent join-side subtrees
    // which otherwise race to evaluate the lazily-cached aggregate
    // (Scoped.share scaladoc); the result below is a local
    // driver frame, so only the input needs materializing.
    val sig = Scoped.materializeRound(Dedup.minhashSignatures16Of(
      Tables.documents(s, d).where(col("doc_id") % 25 === 0)))
    try {
      // canonical a<b by construction (band candidates use doc_id <)
      var edges = Scoped.materializeRound(
        Dedup.verifiedPairsOf(sig, Dedup.CLUSTER_MIN_AGREE)
          .select(col("da").as("a"), col("db").as("b"))
          .repartition(4, col("a")))
      // triangles (u<v<w), each found exactly once on canonical edges
      def triOf(e: DataFrame): DataFrame =
        e.select(col("a").as("ta"), col("b").as("tb"))
          .join(e.select(col("a").as("tb"), col("b").as("tc")), "tb")
          .join(e.select(col("a").as("ta"), col("b").as("tc")), Seq("ta", "tc"),
            "left_semi")
          .select("ta", "tb", "tc")
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      for (r <- 0 to KT_ROUNDS) {
        val tri = Scoped.materializeRound(triOf(edges))
        rows += ((r, edges.count(), tri.count()))
        if (r < KT_ROUNDS) {
          val sup = tri.select(col("ta").as("a"), col("tb").as("b"))
            .unionAll(tri.select(col("tb").as("a"), col("tc").as("b")))
            .unionAll(tri.select(col("ta").as("a"), col("tc").as("b")))
            .groupBy("a", "b").agg(count(lit(1)).as("sup"))
          val prev = edges
          edges = Scoped.materializeRound(
            prev.join(sup.where(col("sup") >= KT_SUPPORT), Seq("a", "b"),
                "left_semi")
              .repartition(4, col("a")))
          Scoped.releaseRound(prev, tri)
        } else Scoped.releaseRound(tri)
      }
      Scoped.releaseRound(edges) // counts collected; round state done
      rows.toSeq.toDF("round", "n_edges", "n_tri").orderBy("round")
    } finally Scoped.releaseRound(sig)
  }

  private val GJ_TOPK = 16

  /** Neighbor-set Jaccard similarity — the classic link-prediction /
    * node-similarity score (Liben-Nowell & Kleinberg 2003, "The Link
    * Prediction Problem"): for source nodes of the part→supplier
    * graph, J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| over out-neighbor
    * sets; output the [[GJ_TOPK]] most-similar pairs. Candidate pairs
    * come ONLY from co-neighbor generation (a shared dst) — a pair
    * with J > 0 shares a neighbor by definition, so the equi-join on
    * dst enumerates exactly the nonzero-J pairs, never all pairs.
    *
    * Scale: the co-pair stream is keyed on dst with per-key fan-out
    * deg(dst)² — the hub-node blowup every production system caps
    * (drop or sketch dsts above a degree bound; this engine's minhash
    * machinery IS the sketch path — [[Dedup]] builds exactly these
    * neighbor-set signatures for documents). Here dst degrees are
    * bounded by the 100-node value domain, so the exact form is the
    * right plan; counts/degrees are exact longs and J is one rounded
    * divide, ties broken on the pair. */
  val qGraphJaccard: Q = (s, d) => {
    val e = Tables.lineitem(s, d)
      .select((col("l_partkey") % PR_NODES_MOD).as("src"),
        (col("l_suppkey") % PR_NODES_MOD).as("dst"))
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val common = e.select(col("src").as("a"), col("dst"))
      .join(e.select(col("src").as("b"), col("dst")), Seq("dst"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("src").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        round(col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc).limit(GJ_TOPK)
      .withColumn("rn", row_number().over(graft.functions.GraftFunctions
        .boundedWindow(col("jaccard").desc, col("a").asc, col("b").asc)))
      .select("rn", "a", "b", "common", "deg_a", "deg_b", "jaccard")
      .orderBy("rn")
  }

  private val RA_TOPK = 16
  private val RA_GRAIN = 1000000L // 10^6 — 1/deg at micro grain

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang 2009,
    * "Predicting missing links via local information" — the
    * exact-arithmetic sibling of Adamic-Adar): for source pairs of
    * the part→supplier graph, RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/indeg(z)
    * — shared neighbors count LESS when they are hubs. Scored at an
    * exact integer grain (Σ 10⁶ div indeg(z)) so ranking ties break
    * bit-identically in both engines — no FP log/divide on the
    * decision edge, unlike a literal Adamic-Adar 1/ln(deg).
    *
    * Shape: identical candidate generation to [[qGraphJaccard]] —
    * co-neighbor equi-join on dst (only nonzero-RA pairs exist
    * there), indeg attached ON THE DST STREAM before pairing so the
    * weight rides the join instead of re-joining per pair. Same
    * hub-cap posture at scale (deg-bounded dsts or minhash sketches);
    * grain envelope: Σ ≤ |N∩| · 10⁶ ≤ 10⁶·10⁶ at a million shared
    * neighbors — 9×10³ headroom under int64. */
  val qGraphRa: Q = (s, d) => {
    val e = Tables.lineitem(s, d)
      .select((col("l_partkey") % PR_NODES_MOD).as("src"),
        (col("l_suppkey") % PR_NODES_MOD).as("dst"))
      .distinct()
    val indeg = e.groupBy("dst").agg(count(lit(1)).as("indeg"))
    val ew = e.join(indeg, "dst") // co-partitioned: indeg came from e keyed on dst
      .select(col("src"), col("dst"), expr(s"${RA_GRAIN}L div indeg").as("w"))
    val pairs = ew.select(col("src").as("a"), col("dst"), col("w"))
      .join(ew.select(col("src").as("b"), col("dst")), Seq("dst"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"), sum("w").as("ra_grain"))
    pairs
      .orderBy(col("ra_grain").desc, col("a").asc, col("b").asc).limit(RA_TOPK)
      .withColumn("rn", row_number().over(graft.functions.GraftFunctions
        .boundedWindow(col("ra_grain").desc, col("a").asc, col("b").asc)))
      .select("rn", "a", "b", "common", "ra_grain")
      .orderBy("rn")
  }

  /** Degree assortativity (Newman 2002, "Assortative mixing in
    * networks"): the Pearson correlation of (outdeg(src), indeg(dst))
    * across directed edges — do well-connected sources link to
    * well-connected targets? One scalar per corpus; a standard
    * health metric for link graphs feeding PageRank-style quality
    * signals.
    *
    * All five moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    * integer map-side-combined aggregates over the edge stream with
    * degrees attached by two co-partitioned equi-joins (each degree
    * table derives from the same edge set, keyed on its join key) —
    * no window, no driver loop; the only FP op is the final
    * correlation divide, rounded to 6 and never compared or ordered
    * on. Uses the sparser mod-[[KC_MOD]] graph (the PageRank mod-100
    * graph is quasi-complete at sf0.1 — constant degrees, zero
    * variance) and still guards the degenerate regular-graph case
    * with NULL, since ANSI mode faults even double÷0. Envelope:
    * the variance terms n·Σx²−(Σx)² reach |E|²·deg² (~10¹⁴ here) —
    * their PRODUCT would wrap int64, so the denominator stays as two
    * long factors multiplied only after each sqrt is a double
    * (sqrt(dx)·sqrt(dy): each step correctly-rounded IEEE, identical
    * in both engines); at 10⁹ edges the moment sums themselves move
    * to decimal(38,0) (documented posture). */
  val qGraphAssort: Q = (s, d) => {
    val e = Tables.lineitem(s, d)
      .select((col("l_partkey") % KC_MOD).as("src"),
        (col("l_suppkey") % KC_MOD).as("dst"))
      .distinct()
    val outd = e.groupBy("src").agg(count(lit(1)).as("x"))
    val ind = e.groupBy("dst").agg(count(lit(1)).as("y"))
    e.join(outd, "src").join(ind, "dst")
      .agg(count(lit(1)).as("n_edges"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("dx", col("n_edges") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("n_edges") * col("syy") - col("sy") * col("sy"))
      .select(col("n_edges"), col("sx"), col("sy"), col("sxy"),
        when(col("dx") > 0 && col("dy") > 0,
          round((col("n_edges") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt(col("dx").cast("double")) * sqrt(col("dy").cast("double"))), 6))
          .as("assortativity"))
  }

  private val BFS_MOD = 2000 // sparser derived graph: distances actually spread
  private val BFS_SEEDS = 5  // seed set: nodes < this
  private val BFS_DEPTH = 3  // fixed frontier rounds

  /** Multi-source BFS distance profile — the frontier-expansion
    * primitive under every reachability / influence-radius question
    * (and the DataFrame twin of q_sql_recursive's walk): nodes at
    * minimum hop distance ≤ [[BFS_DEPTH]] from the seed set over the
    * undirected mod-[[BFS_MOD]] part→supplier graph, unreached nodes
    * reported at dist −1. Each round is ONE frontier ⋈ edges
    * equi-join (both sides keyed on node) plus a left-anti join
    * against the assigned set — the Pregel superstep shape, with the
    * frontier materialized per round ([[Scoped.materializeRound]]) so
    * lineage stays flat (the q_dedup_cluster treatment). Set-BFS (min over seeds) keeps
    * state one row per node; the per-root variant multiplies state by
    * |roots| and is the same plan with root in the key.
    *
    * Size-gated frontier (round 10): broadcast hints are correct only
    * while the frontier/assigned sets fit executor memory; on a
    * billion-node graph the frontier itself is too large to ship to
    * every task. Each round therefore checks the (post-checkpoint,
    * cheaply countable) state sizes against `bcastMaxRows` and drops
    * the hints once exceeded — the SAME joins then run as node-keyed
    * shuffles (SMJ/shuffled-hash), bit-identical output, and AQE can
    * still re-promote a shrunken frontier. Both branches are
    * hash-gated against the oracle (BfsGateSpec forces the shuffle
    * branch at threshold 0). */
  def bfsProfile(s: SparkSession, d: String, bcastMaxRows: Long): DataFrame = {
    // Narrowing the node ids to INT (guide §2.3 "narrower types") was
    // measured in optimization round 17 and REJECTED: Spark's shuffle
    // rows are UnsafeRows whose fixed-width fields occupy 8-byte slots
    // regardless of declared width, so the edge shuffle measured
    // byte-identical (9613K vs 9615K in JobProbe) and the interleaved
    // A/B read parity-to-noise. The "halve the column" lever applies
    // to strings->ints or columnar/compressed layouts, not to int64 ->
    // int32 inside row-format exchanges.
    val e = Tables.lineitem(s, d)
      .select((col("l_partkey") % BFS_MOD).as("a"),
        (col("l_suppkey") % BFS_MOD).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val und = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    Scoped.share(und) {
      val nodes = und.select(col("src").as("node")).distinct()
      var assigned = Scoped.materializeRound(nodes.where(col("node") < BFS_SEEDS)
        .withColumn("dist", lit(0)))
      var frontier = assigned.select("node")
      // state row counts feed ONLY the broadcast-gate decision, and
      // state is structurally bounded by the derived node domain
      // (≤ BFS_MOD rows) — so when the gate sits at or above that
      // bound it can never flip and the per-round count jobs are pure
      // latency (round 16: 4 fewer driver round-trips on the default
      // path; BfsGateSpec's forced threshold 0 still exercises the
      // counted shuffle branch). Also free under planOnly.
      val countsNeeded = !Scoped.isPlanOnly && bcastMaxRows < BFS_MOD.toLong
      var stateRows = if (countsNeeded) assigned.count() else 0L
      for (k <- 1 to BFS_DEPTH) {
        // frontier and assigned are node-domain-sized (≤ |V| rows) but
        // post-checkpoint their stats are unknown — below the gate,
        // hint the broadcast explicitly (or the edge table shuffles
        // into an SMJ every round); above it, let both joins shuffle
        // on the node key
        val useBcast = stateRows <= bcastMaxRows
        val fHinted = if (useBcast) broadcast(frontier) else frontier
        val aHinted = if (useBcast) broadcast(assigned) else assigned
        // round frames are NOT released here: `assigned` is a lazy
        // union of every round's frontier, consumed by the final
        // aggregate after the loop — they are node-domain-bounded and
        // the checkpoint branches reference-track them anyway
        frontier = Scoped.materializeRound(
          fHinted.join(und, col("node") === col("src"))
            .select(col("dst").as("node")).distinct()
            .join(aHinted, Seq("node"), "left_anti"))
        // assigned stays a lazy union of CHECKPOINTED frontier frames —
        // re-scanning k tiny frames per anti-join is cheaper than
        // materializing the accumulated union every round
        assigned = assigned.unionAll(frontier.withColumn("dist", lit(k)))
        if (countsNeeded) stateRows += frontier.count()
      }
      nodes.join(assigned, Seq("node"), "left_outer")
        .groupBy(coalesce(col("dist"), lit(-1)).as("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    }
  }

  /** Default gate: 10M state rows ≈ 80 MB of (node, dist) longs —
    * comfortably broadcastable; far above any mod-[[BFS_MOD]] domain. */
  val qGraphBfs: Q = (s, d) => bfsProfile(s, d, 10000000L)

  def queries: Map[String, Q] = Map(
    "q_graph_bfs" -> qGraphBfs,
    "q_graph_pagerank" -> qPageRank,
    "q_graph_jaccard" -> qGraphJaccard,
    "q_graph_ra" -> qGraphRa,
    "q_graph_assort" -> qGraphAssort,
    "q_graph_labelprop" -> qLabelProp,
    "q_graph_kcore" -> qGraphKcore,
    "q_graph_ktruss" -> qGraphKtruss,
    "q_graph_triangles" -> qTriangles)

  /** Sharded DuckDB replay recipe (round-15 verdict item 2) for
    * q_graph_bfs: the single-statement recursive level pyramid makes
    * DuckDB hold every level's anti-join input at once (14 GiB temp
    * exhaustion at sf16d, where the lineitem edge-distinct alone is a
    * 96M-row pass); staging each level as a temp table bounds peak
    * memory to one level. No slicing needed — the staged form is the
    * whole fix (kind=hash, 1 slice). Level SQL mirrors the plain
    * oracle below — keep in lock-step. */
  def shardedOracle: Map[String, (String, Int, Seq[String])] = {
    val levels = (1 to BFS_DEPTH).flatMap { k =>
      Seq(
        s"""CREATE TEMP TABLE f$k AS SELECT DISTINCT u.dst AS node
           |FROM f${k - 1} f JOIN und u ON f.node = u.src
           |WHERE u.dst NOT IN (SELECT node FROM a${k - 1})""".stripMargin,
        s"""CREATE TEMP TABLE a$k AS SELECT node, dist FROM a${k - 1}
           |UNION ALL SELECT node, $k FROM f$k""".stripMargin)
    }
    Map("q_graph_bfs" -> (("hash", 1,
      Seq(
        s"""CREATE TEMP TABLE e AS SELECT DISTINCT l_partkey % $BFS_MOD AS a,
           |  l_suppkey % $BFS_MOD AS b FROM lineitem
           |WHERE l_partkey % $BFS_MOD <> l_suppkey % $BFS_MOD""".stripMargin,
        """CREATE TEMP TABLE und AS SELECT DISTINCT src, dst FROM (
          |  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e) u""".stripMargin,
        "CREATE TEMP TABLE nodes AS SELECT DISTINCT src AS node FROM und",
        s"CREATE TEMP TABLE a0 AS SELECT node, 0 AS dist FROM nodes WHERE node < $BFS_SEEDS",
        "CREATE TEMP TABLE f0 AS SELECT node FROM a0") ++ levels ++
      Seq(
        s"""SELECT CAST(coalesce(a.dist, -1) AS INT) AS dist, count(*) AS n_nodes
           |FROM nodes n LEFT JOIN a$BFS_DEPTH a ON n.node = a.node
           |GROUP BY 1 ORDER BY dist""".stripMargin))))
  }

  def oracleSql: Map[String, String] = {
    val S = PR_SCALE
    def iterCte(name: String, prev: String) =
      s"""$name AS (
         |  SELECT nodes.node,
         |    (3 * $S) // (20 * (SELECT n FROM nn))
         |      + (17 * coalesce(s.in_sum, 0)) // 20 AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst, sum(r.rank // o.deg) AS in_sum
         |    FROM $prev r JOIN e ON r.node = e.src
         |    JOIN outd o ON o.src = r.node
         |    GROUP BY e.dst) s ON s.dst = nodes.node)""".stripMargin
    def lpIter(name: String, prev: String) =
      s"""$name AS (
         |  SELECT dst AS node, label FROM (
         |    SELECT dst, label,
         |      row_number() OVER (PARTITION BY dst
         |                         ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (SELECT u.dst, r.label, count(*) AS cnt
         |          FROM $prev r JOIN und u ON r.node = u.src
         |          GROUP BY u.dst, r.label) c) q
         |  WHERE rn = 1)""".stripMargin
    // Every kcore CTE is MATERIALIZED: each round's sN/eN is referenced
    // by the next round AND by a scalar count, and DuckDB's default
    // inlining re-expands the whole prefix per reference — the replay
    // re-sorts the 60M-row DISTINCT base exponentially and exhausted a
    // 40 GB temp bound at sf1. Materialized, the same query runs in
    // under a second at sf1 (semantics identical; the hint only pins
    // each CTE to evaluate once).
    def kcRound(n: Int) = {
      val prev = if (n == 1) "e0" else s"e${n - 1}"
      s"""s$n AS MATERIALIZED (SELECT src FROM (SELECT src, count(*) AS deg FROM $prev GROUP BY src) q
         |        WHERE deg >= (SELECT k FROM kv)),
         |e$n AS MATERIALIZED (SELECT x.src, x.dst FROM $prev x
         |        JOIN s$n a ON x.src = a.src JOIN s$n b ON x.dst = b.src)""".stripMargin
    }
    Map(
    "q_graph_kcore" ->
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_partkey % $KC_MOD AS a,
         |                  l_suppkey % $KC_MOD AS b FROM lineitem
         |           WHERE l_partkey % $KC_MOD <> l_suppkey % $KC_MOD),
         |e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e) u),
         |d0 AS MATERIALIZED (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
         |kv AS MATERIALIZED (SELECT deg AS k FROM (
         |  SELECT deg, row_number() OVER (ORDER BY deg, src) AS rn FROM d0) q
         |  WHERE rn = (SELECT (count(*) + 1) // 2 FROM d0)),
         |${kcRound(1)},
         |${kcRound(2)},
         |${kcRound(3)}
         |SELECT 0 AS round, (SELECT count(*) FROM d0) AS n_nodes,
         |       (SELECT count(*) FROM e0) AS n_edges
         |UNION ALL SELECT 1, (SELECT count(*) FROM s1), (SELECT count(*) FROM e1)
         |UNION ALL SELECT 2, (SELECT count(*) FROM s2), (SELECT count(*) FROM e2)
         |UNION ALL SELECT 3, (SELECT count(*) FROM s3), (SELECT count(*) FROM e3)
         |ORDER BY round""".stripMargin,
    "q_graph_labelprop" ->
      s"""WITH e AS (SELECT DISTINCT l_partkey % $PR_NODES_MOD AS a,
         |                  l_suppkey % $PR_NODES_MOD AS b
         |           FROM lineitem
         |           WHERE l_partkey % $PR_NODES_MOD <> l_suppkey % $PR_NODES_MOD),
         |und AS (SELECT DISTINCT src, dst FROM (
         |  SELECT a AS src, b AS dst FROM e
         |  UNION ALL SELECT b, a FROM e) u),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
         |${lpIter("l1", "l0")},
         |${lpIter("l2", "l1")},
         |${lpIter("l3", "l2")}
         |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
         |FROM l3 ORDER BY node""".stripMargin,
    "q_graph_jaccard" ->
      s"""WITH e AS (SELECT DISTINCT l_partkey % $PR_NODES_MOD AS src,
         |                  l_suppkey % $PR_NODES_MOD AS dst FROM lineitem),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |cm AS (SELECT x.src AS a, y.src AS b, count(*) AS common
         |       FROM e x JOIN e y ON x.dst = y.dst AND x.src < y.src
         |       GROUP BY 1, 2),
         |j AS (SELECT a, b, common, da.deg AS deg_a, db.deg AS deg_b,
         |        round(CAST(common AS DOUBLE) / (da.deg + db.deg - common), 4) AS jaccard
         |      FROM cm JOIN deg da ON cm.a = da.src JOIN deg db ON cm.b = db.src)
         |SELECT rn, a, b, common, deg_a, deg_b, jaccard FROM (
         |  SELECT *, row_number() OVER (ORDER BY jaccard DESC, a ASC, b ASC) AS rn
         |  FROM j) q
         |WHERE rn <= $GJ_TOPK ORDER BY rn""".stripMargin,
    "q_graph_bfs" -> {
      def level(k: Int) = {
        val prevA = s"a${k - 1}"
        s"""f$k AS (SELECT DISTINCT u.dst AS node
           |        FROM f${k - 1} f JOIN und u ON f.node = u.src
           |        WHERE u.dst NOT IN (SELECT node FROM $prevA)),
           |a$k AS (SELECT node, dist FROM $prevA
           |        UNION ALL SELECT node, $k FROM f$k)""".stripMargin
      }
      s"""WITH e AS (SELECT DISTINCT l_partkey % $BFS_MOD AS a,
         |                  l_suppkey % $BFS_MOD AS b FROM lineitem
         |           WHERE l_partkey % $BFS_MOD <> l_suppkey % $BFS_MOD),
         |und AS (SELECT DISTINCT src, dst FROM (
         |  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e) u),
         |nodes AS (SELECT DISTINCT src AS node FROM und),
         |a0 AS (SELECT node, 0 AS dist FROM nodes WHERE node < $BFS_SEEDS),
         |f0 AS (SELECT node FROM a0),
         |${level(1)},
         |${level(2)},
         |${level(3)}
         |SELECT CAST(coalesce(a.dist, -1) AS INT) AS dist,
         |  count(*) AS n_nodes
         |FROM nodes n LEFT JOIN a$BFS_DEPTH a ON n.node = a.node
         |GROUP BY 1 ORDER BY dist""".stripMargin
    },
    "q_graph_ra" ->
      s"""WITH e AS (SELECT DISTINCT l_partkey % $PR_NODES_MOD AS src,
         |                  l_suppkey % $PR_NODES_MOD AS dst FROM lineitem),
         |indeg AS (SELECT dst, count(*) AS indeg FROM e GROUP BY dst),
         |ew AS (SELECT e.src, e.dst, $RA_GRAIN // i.indeg AS w
         |       FROM e JOIN indeg i ON e.dst = i.dst),
         |pairs AS (SELECT x.src AS a, y.src AS b,
         |            count(*) AS common, sum(x.w) AS ra_grain
         |          FROM ew x JOIN ew y ON x.dst = y.dst AND x.src < y.src
         |          GROUP BY 1, 2)
         |SELECT rn, a, b, common, CAST(ra_grain AS BIGINT) AS ra_grain FROM (
         |  SELECT *, row_number() OVER (ORDER BY ra_grain DESC, a ASC, b ASC) AS rn
         |  FROM pairs) q
         |WHERE rn <= $RA_TOPK ORDER BY rn""".stripMargin,
    "q_graph_assort" ->
      s"""WITH e AS (SELECT DISTINCT l_partkey % $KC_MOD AS src,
         |                  l_suppkey % $KC_MOD AS dst FROM lineitem),
         |outd AS (SELECT src, count(*) AS x FROM e GROUP BY src),
         |ind AS (SELECT dst, count(*) AS y FROM e GROUP BY dst),
         |m AS (SELECT count(*) AS n_edges, sum(x) AS sx, sum(y) AS sy,
         |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
         |      FROM e JOIN outd o ON e.src = o.src JOIN ind i ON e.dst = i.dst)
         |SELECT CAST(n_edges AS BIGINT) AS n_edges, CAST(sx AS BIGINT) AS sx,
         |  CAST(sy AS BIGINT) AS sy, CAST(sxy AS BIGINT) AS sxy,
         |  CASE WHEN n_edges * sxx - sx * sx > 0 AND n_edges * syy - sy * sy > 0
         |    THEN round(CAST(n_edges * sxy - sx * sy AS DOUBLE) /
         |      (sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)) *
         |       sqrt(CAST(n_edges * syy - sy * sy AS DOUBLE))), 6)
         |  END AS assortativity
         |FROM m""".stripMargin,
    "q_graph_pagerank" ->
      s"""WITH e AS (SELECT DISTINCT l_partkey % $PR_NODES_MOD AS src,
         |                  l_suppkey % $PR_NODES_MOD AS dst FROM lineitem),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION SELECT dst FROM e) u),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |outd AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT node, $S // (SELECT n FROM nn) AS rank FROM nodes),
         |${iterCte("r1", "r0")},
         |${iterCte("r2", "r1")},
         |${iterCte("r3", "r2")}
         |SELECT node, CAST(rank AS BIGINT) AS rank
         |FROM r3 ORDER BY rank DESC, node ASC""".stripMargin,
    "q_graph_ktruss" -> {
      // same near-dup edge derivation as the triangles oracle; every
      // peel CTE MATERIALIZED (multiply referenced — the kcore lesson)
      def tri(en: String, tn: String) =
        s"""$tn AS MATERIALIZED (
           |  SELECT x.a AS ta, x.b AS tb, y.b AS tc
           |  FROM $en x JOIN $en y ON x.b = y.a
           |  WHERE EXISTS (SELECT 1 FROM $en z WHERE z.a = x.a AND z.b = y.b))""".stripMargin
      def peel(tn: String, en: String, nextEn: String) =
        s"""$nextEn AS MATERIALIZED (
           |  SELECT e.a, e.b FROM $en e JOIN (
           |    SELECT a, b, count(*) AS sup FROM (
           |      SELECT ta AS a, tb AS b FROM $tn
           |      UNION ALL SELECT tb, tc FROM $tn
           |      UNION ALL SELECT ta, tc FROM $tn) u GROUP BY a, b) s
           |    ON e.a = s.a AND e.b = s.b
           |  WHERE s.sup >= $KT_SUPPORT)""".stripMargin
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS w
         |  FROM documents WHERE doc_id % 25 = 0),
         |uh AS (SELECT DISTINCT doc_id,
         |         CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(w) AS tok FROM toks) u),
         |sig AS MATERIALIZED (SELECT doc_id, ${Dedup.mhColsSql} FROM uh GROUP BY doc_id),
         |bands AS (${Dedup.bandSelectsSql}),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.sig = b.sig
         |             AND a.doc_id < b.doc_id),
         |e0 AS MATERIALIZED (SELECT da AS a, db AS b FROM cand
         |          JOIN sig sa ON cand.da = sa.doc_id
         |          JOIN sig sb ON cand.db = sb.doc_id
         |          WHERE ${Dedup.agreeSumSql} >= ${Dedup.CLUSTER_MIN_AGREE}),
         |${tri("e0", "t0")},
         |${peel("t0", "e0", "e1")},
         |${tri("e1", "t1")},
         |${peel("t1", "e1", "e2")},
         |${tri("e2", "t2")}
         |SELECT 0 AS round, (SELECT count(*) FROM e0) AS n_edges,
         |       (SELECT count(*) FROM t0) AS n_tri
         |UNION ALL SELECT 1, (SELECT count(*) FROM e1), (SELECT count(*) FROM t1)
         |UNION ALL SELECT 2, (SELECT count(*) FROM e2), (SELECT count(*) FROM t2)
         |ORDER BY round""".stripMargin
    },
    "q_graph_triangles" -> {
      val orient = "x.deg < y.deg OR (x.deg = y.deg AND e.da < e.db)"
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS w
         |  FROM documents WHERE doc_id % 25 = 0),
         |uh AS (SELECT DISTINCT doc_id,
         |         CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(w) AS tok FROM toks) u),
         |sig AS (SELECT doc_id, ${Dedup.mhColsSql} FROM uh GROUP BY doc_id),
         |bands AS (${Dedup.bandSelectsSql}),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.sig = b.sig
         |             AND a.doc_id < b.doc_id),
         |edges AS (SELECT da, db FROM cand
         |          JOIN sig sa ON cand.da = sa.doc_id
         |          JOIN sig sb ON cand.db = sb.doc_id
         |          WHERE ${Dedup.agreeSumSql} >= ${Dedup.CLUSTER_MIN_AGREE}),
         |deg AS (SELECT v, count(*) AS deg FROM (
         |          SELECT da AS v FROM edges
         |          UNION ALL SELECT db AS v FROM edges) u GROUP BY v),
         |o AS (SELECT CASE WHEN $orient THEN e.da ELSE e.db END AS src,
         |        CASE WHEN $orient THEN e.db ELSE e.da END AS dst,
         |        CASE WHEN $orient THEN y.deg ELSE x.deg END AS ddeg
         |      FROM edges e JOIN deg x ON e.da = x.v JOIN deg y ON e.db = y.v),
         |w AS (SELECT a.src, a.dst AS v1, b.dst AS v2
         |      FROM o a JOIN o b ON a.src = b.src
         |      WHERE a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst)),
         |tri AS (SELECT count(*) AS n_triangles FROM w
         |        WHERE EXISTS (SELECT 1 FROM o t
         |                      WHERE t.src = w.v1 AND t.dst = w.v2)),
         |st AS (SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |              (SELECT count(*) FROM edges) AS n_edges,
         |              (SELECT sum(deg * (deg - 1)) FROM deg) AS w2,
         |              (SELECT n_triangles FROM tri) AS n_triangles)
         |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(n_edges AS BIGINT) AS n_edges,
         |  CAST(w2 // 2 AS BIGINT) AS n_wedges,
         |  CAST(n_triangles AS BIGINT) AS n_triangles,
         |  CASE WHEN w2 > 0 THEN round(6.0 * n_triangles / w2, 4)
         |    ELSE NULL END AS clustering
         |FROM st""".stripMargin
    })
  }
}
