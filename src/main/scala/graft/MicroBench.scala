package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Targeted micro-benchmarks for engineering evidence (BASELINE.md):
  * `sbt "runMain graft.MicroBench <mode> [args]"`, one mode per
  * run (e.g. `zipf` times the corpus-frequency window against the
  * heavy-hitter split on synthetic Zipf keys).
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse {
      System.err.println("usage: MicroBench <mode> [args]")
      sys.exit(2)
    }
    val rows = args.lift(1).map(_.toLong).getOrElse(20000000L)
    val spark = graft.core.Sessions.local()

    what match {
      case "zipf" =>
        // Straggler-vs-fix for corpus-frequency attach on a Zipf(1.0)
        // key (the q_quality_lm / q_mix_doremi / q_dedup_spans shape):
        // count().over(partitionBy(tok)) lands the hot key's whole
        // group in ONE WindowExec task (AQE cannot split a window
        // partition), vs the heavy-hitter split (broadcast hot keys
        // map-side + shuffle-hash tail join). Synthetic tokens by
        // inverse-CDF: u uniform from a hash of id, tok =
        // floor(exp(u·ln(K+1)))−1 → P(tok=k) ≈ 1/((k+1)·ln(K+1)),
        // i.e. Zipf s=1.0; tok 0 carries ~ln2/lnK ≈ 6% of all rows at
        // K=1e5 — the "the" regime.
        val zk = args.lift(2).map(_.toInt).getOrElse(100000)
        val zdf = spark.range(rows).select(col("id"),
          (exp((((col("id") * 2654435761L) % 1000003L).cast("double") / 1000003.0)
            * math.log(zk + 1.0)).cast("long") - 1L).as("tok"))
        def runAgg(attached: org.apache.spark.sql.DataFrame): Unit = {
          attached.agg(sum(col("c")), count(lit(1))).collect(); ()
        }
        def windowForm() = runAgg(zdf.withColumn("c",
          count(lit(1)).over(Window.partitionBy("tok"))))
        def splitForm() = runAgg(
          graft.queries.HeavyHitters.attachKeyCount(zdf, "tok", "c"))
        def ztime(f: () => Unit): Double = {
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }
        windowForm(); splitForm() // warm codegen
        val winSec = (1 to 3).map(_ => ztime(() => windowForm())).min
        val splitSec = (1 to 3).map(_ => ztime(() => splitForm())).min
        val hotShare = zdf.where(col("tok") === 0).count().toDouble / rows
        println(f"""{"bench":"zipf","rows":$rows,"keys":$zk,"hot_key_share":$hotShare%.4f,"window_sec":$winSec%.3f,"split_sec":$splitSec%.3f,"speedup":${winSec / splitSec}%.2f}""")
      case "tokenize" =>
        // native Tokenize expression vs the composed
        // filter(split(lower)) built-in pipeline it replaced
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("text").cache()
        docs.count()
        def time3(f: => Long): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
        import graft.functions.GraftFunctions
        // warm codegen for both shapes
        docs.select(explode(GraftFunctions.tokensRegex(col("text")))).count()
        docs.select(explode(GraftFunctions.tokens(col("text")))).count()
        val composed = time3(docs.select(
          explode(GraftFunctions.tokensRegex(col("text")))).count())
        val native = time3(docs.select(
          explode(GraftFunctions.tokens(col("text")))).count())
        println(f"""{"bench":"tokenize","composed_sec":$composed%.3f,"native_sec":$native%.3f,"speedup":${composed / native}%.2f}""")
      case "shingle" =>
        // native single-pass Shingles expression vs the composed
        // array_distinct(transform(sequence/slice/concat_ws)) pipeline
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(graft.functions.GraftFunctions.tokens(col("text")).as("w")).cache()
        docs.count()
        def time3s(f: => Long): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
        import graft.functions.GraftFunctions
        docs.select(explode(GraftFunctions.shinglesComposed(col("w"), 8))).count()
        docs.select(explode(GraftFunctions.shingles(col("w"), 8))).count()
        val composedSh = time3s(docs.select(
          explode(GraftFunctions.shinglesComposed(col("w"), 8))).count())
        val nativeSh = time3s(docs.select(
          explode(GraftFunctions.shingles(col("w"), 8))).count())
        println(f"""{"bench":"shingle","n":8,"composed_sec":$composedSh%.3f,"native_sec":$nativeSh%.3f,"speedup":${composedSh / nativeSh}%.2f}""")
      case "ac" =>
        // native Aho-Corasick DFA (one pass for the whole dictionary)
        // vs the composed per-pattern positional count (a filtered
        // index sequence per pattern — dictionary-size-linear). Run on
        // a dictionary scaled to C4-badword-list size to expose the
        // scan-count asymmetry.
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(lower(col("text")).as("lt")).cache()
        docs.count()
        // synthetic badword-list-sized dictionary: corpus fragments +
        // absent fillers (absent patterns still cost the composed form
        // a full positional scan each; the DFA absorbs them for free)
        val dict = Seq("dup", "data", "line", "batch batch", "window", "join") ++
          (0 until 394).map(i => s"zq${i}x")
        def compPat(p: String): org.apache.spark.sql.Column = {
          val pl = p.length
          size(filter(sequence(lit(1), greatest(length(col("lt")) - (pl - 1), lit(0))),
            i => col("lt").substr(i.cast("int"), lit(pl)) === lit(p)))
        }
        def time3a(f: => Long): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
        val nativeCol = graft.functions.AhoCorasick.counts(col("lt"), dict)
        docs.select(aggregate(nativeCol, lit(0L), _ + _)).agg(sum("*")).collect()
        val nativeAc = time3a {
          docs.select(aggregate(nativeCol, lit(0L), _ + _).as("h"))
            .agg(sum("h")).collect(); 0L
        }
        // composed form priced on a 16-pattern slice then scaled
        // linearly (running all 400 positional scans takes minutes)
        val slice = dict.take(16)
        val compCol = slice.map(compPat).reduce(_ + _)
        docs.select(compCol.as("h")).agg(sum("h")).collect()
        val compSlice = time3a { docs.select(compCol.as("h")).agg(sum("h")).collect(); 0L }
        val compScaled = compSlice * dict.size / slice.size
        // throughput reference only — a 400-way regex alternation
        // counts NON-overlapping leftmost matches (different
        // semantics), but it's what a user would reach for first
        val rx = dict.map(java.util.regex.Pattern.quote).mkString("|")
        docs.select(size(regexp_extract_all(col("lt"), lit(rx), lit(0))).as("h"))
          .agg(sum("h")).collect()
        val regexSec = time3a {
          docs.select(size(regexp_extract_all(col("lt"), lit(rx), lit(0))).as("h"))
            .agg(sum("h")).collect(); 0L
        }
        println(f"""{"bench":"ac","dict":${dict.size},"native_sec":$nativeAc%.3f,"composed16_sec":$compSlice%.3f,"composed_scaled_sec":$compScaled%.3f,"speedup_scaled":${compScaled / nativeAc}%.1f,"regex_alt_sec":$regexSec%.3f,"speedup_vs_regex":${regexSec / nativeAc}%.1f}""")
      case "imaging-pooled" =>
        // pooled convertStacks (one pipeline for the whole shard) vs a
        // driver loop of per-stack conversions — the SCALE.md claim
        // that pooling keeps the cluster busy instead of serializing
        // job scheduling per stack. Default: 4 stacks × 16 slices of
        // 2048×2048 uint16 (64 MiB each, 256 MiB total).
        val nStacks = args.lift(1).map(_.toInt).getOrElse(4)
        val nz = args.lift(2).map(_.toInt).getOrElse(16)
        import java.nio.file.Files
        val root = Files.createTempDirectory("graft-imaging-pooled")
        val stacks = (0 until nStacks).map { si =>
          graft.imaging.SyntheticStack.write(root.resolve(
            f"SmartSPIM/Ex_445_Em_469/${440000 + si}%06d/${440000 + si}%06d_460000"),
            nz, 2048, 2048)((z, y, x) => (si * 131 + z * 10007 + (y * 2048 + x) * 13) % 65536)
        }
        def settingsFor(out: String) = graft.core.JobSettings(
          inputSource = root.toString, outputDirectory = out,
          downsampleLevels = 3)
        def time(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        // warm one small conversion so codegen/JIT doesn't bias run 1
        graft.imaging.SmartSpimJob.convertStack(spark, stacks.head,
          settingsFor(root.resolve("warm").toString), Seq(2.0, 1.8, 1.8))
        val pooled = time {
          graft.imaging.SmartSpimJob.convertStacks(spark, stacks,
            settingsFor(root.resolve("pooled").toString), Seq(2.0, 1.8, 1.8))
        }
        val sequential = time {
          stacks.foreach(st => graft.imaging.SmartSpimJob.convertStack(spark, st,
            settingsFor(root.resolve("seq").toString), Seq(2.0, 1.8, 1.8)))
        }
        val mb = nStacks.toLong * nz * 2048 * 2048 * 2 / (1024.0 * 1024.0)
        println(f"""{"bench":"imaging-pooled","stacks":$nStacks,"raw_mib":$mb%.0f,"pooled_sec":$pooled%.2f,"sequential_sec":$sequential%.2f,"speedup":${sequential / pooled}%.2f}""")
      case "pyramid-fused" =>
        // Fused level-k downsample vs the iterated per-level path, both
        // consuming ONLY level k (the fused path's use case). In-memory
        // chunks so the comparison isolates compute + shuffle structure
        // (the iterated path additionally pays k-1 intermediate
        // assembleFragments shuffles; on disk it would also pay the
        // write-then-readback the reference does per level).
        val nz2 = args.lift(1).map(_.toInt).getOrElse(256)
        val k = args.lift(2).map(_.toInt).getOrElse(3)
        import graft.imaging.SmartSpimPipeline
        import SmartSpimPipeline.SliceRow
        import spark.implicits._
        val ny2 = 1024; val nx2 = 1024
        val chunk2 = Seq(128, 128, 128)
        val slices = spark.range(nz2).map { z =>
          val px = new Array[Byte](ny2 * nx2 * 2)
          var i = 0
          while (i < ny2 * nx2) {
            val v = ((z * 10007 + i * 13) % 65536).toInt
            px(2 * i) = (v & 0xFF).toByte; px(2 * i + 1) = ((v >> 8) & 0xFF).toByte
            i += 1
          }
          SliceRow("s", z.toInt, ny2, nx2, px)
        }
        val l0 = SmartSpimPipeline.rechunk(slices, chunk2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        l0.count()
        def tt(f: => Long): (Double, Long) = {
          val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
        }
        def iterated(): Long =
          (1 to k).foldLeft(l0)((d, _) =>
            SmartSpimPipeline.downsampleLevel(d, chunk2, Seq(2, 2, 2)))
            .map(_.data.length.toLong).reduce(_ + _)
        def fused(): Long =
          SmartSpimPipeline.downsampleToLevel(l0, chunk2, Seq(2, 2, 2), k)
            .map(_.data.length.toLong).reduce(_ + _)
        iterated(); fused() // codegen warm-up
        val (itT, itBytes) = Seq.fill(3)(tt(iterated())).minBy(_._1)
        val (fuT, fuBytes) = Seq.fill(3)(tt(fused())).minBy(_._1)
        require(itBytes == fuBytes, s"fused/iterated byte mismatch: $itBytes vs $fuBytes")
        println(f"""{"bench":"pyramid-fused","slices":$nz2,"levels":$k,"iterated_sec":$itT%.2f,"fused_sec":$fuT%.2f,"speedup":${itT / fuT}%.2f,"out_bytes":$fuBytes}""")
        l0.unpersist(blocking = false)
      case "annrecall" =>
        // recall of the pruned ANN tiers vs brute force at the bench SF
        val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val kTop = args.lift(1).map(_.toInt).getOrElse(10)
        val nq = args.lift(2).map(_.toInt).getOrElse(50)
        import graft.functions.GraftFunctions.cosine
        import graft.queries.Similarity.lshBucket
        val e = spark.read.parquet(s"$sf/embeddings.parquet")
          .withColumn("bucket", lshBucket(col("embedding")))
        val q = e.where(col("vec_id") < nq).select(
          col("vec_id").as("qid"), col("embedding").as("qv"),
          col("bucket").as("qbucket"), col("label").as("qlabel"))
        def topk(extra: org.apache.spark.sql.Column): Map[Long, Set[Long]] = {
          val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
          e.join(broadcast(q), col("vec_id") =!= col("qid") && extra)
            .select(col("qid"), col("vec_id"),
              round(cosine(col("qv"), col("embedding")), 6).as("cos"))
            .withColumn("rn", row_number().over(w)).where(col("rn") <= kTop)
            .select("qid", "vec_id").collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        }
        val truth = topk(lit(true))
        def recall(got: Map[Long, Set[Long]]): Double = {
          val rs = truth.map { case (qid, t) =>
            got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
          }
          rs.sum / rs.size
        }
        val total = e.count()
        def hamming(r: Int) =
          expr(s"bit_count(bucket ^ qbucket) <= $r")
        val lsh = topk(col("bucket") === col("qbucket"))
        val probe1 = topk(hamming(1))
        val probe2 = topk(hamming(2))
        val lshFrac = e.groupBy("bucket").count().agg(sum(col("count") * col("count")))
          .first().getLong(0).toDouble / (total * total)
        val ivf = topk(col("label") === col("qlabel"))
        val ivfFrac = e.groupBy("label").count().agg(sum(col("count") * col("count")))
          .first().getLong(0).toDouble / (total * total)
        // learned k-means cells (q_ann_ivf_kmeans): corpus assignment +
        // nearest-2-cell probes; recall measured against the same truth.
        // The model is fit ONCE with the probe ranking widened to 4 so
        // the probe-count curve below reuses it; the inventory's
        // operating point is the pr <= 2 slice.
        val (cells, probesAll) = graft.queries.Similarity.kmeansModel(spark, sf, nq, maxProbe = 4)
        val probes = probesAll.where(col("pr") <= 2).drop("pr")
        val pcells = probes.groupBy("qid").agg(collect_set("pcell").as("pcells"))
        val wK = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
        val km = e.join(cells, "vec_id")
          .join(broadcast(q.join(pcells, "qid")),
            col("vec_id") =!= col("qid") && array_contains(col("pcells"), col("cell")))
          .select(col("qid"), col("vec_id"),
            round(cosine(col("qv"), col("embedding")), 6).as("cos"))
          .withColumn("rn", row_number().over(wK)).where(col("rn") <= kTop)
          .select("qid", "vec_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        // Candidate fraction over the SAME candidate set recall saw:
        // expand probed cells to member vectors and drop the query's own
        // vector (recall's join excludes vec_id == qid), instead of
        // summing raw cell sizes which over-counts by ~1 per query.
        val kmFrac = probes.join(cells, col("pcell") === col("cell"))
          .where(col("vec_id") =!= col("qid"))
          .groupBy("qid").agg(count("*").as("cand"))
          .agg(avg("cand")).first().getDouble(0) / total
        // PQ/ADC tier (q_ann_pq_adc): rank the whole corpus by the
        // summed codebook-lookup distance; recall measures how much
        // ranking fidelity the 64×-compressed codes preserve (PQ is a
        // compression tier, not a pruning tier — candidate frac is 1).
        // materializeRound: the fit's per-round actions and the encode
        // below all re-read sv (the fit no longer caches internally)
        val sv = graft.queries.Scoped.materializeRound(
          graft.queries.Similarity.pqSubvecs(spark, sf))
        val cb = graft.queries.Scoped.materializeRound(
          graft.queries.Similarity.pqFit(sv))
        val codes = graft.queries.Similarity.pqAssign(sv, cb)
        val dtq = sv.where(col("vec_id") < nq)
          .join(broadcast(cb), "m")
          .select(col("vec_id").as("qid"), col("m"),
            col("cid"), graft.queries.Similarity.pqDistCol.as("dt"))
        val wP = Window.partitionBy("qid").orderBy(col("adist").asc, col("vec_id").asc)
        // renamed columns avoid a same-origin codes("m") === dtq("m")
        // predicate (both derive from sv — see qAnnPqAdc)
        val dtqR = dtq.withColumnRenamed("qid", "dqid")
          .withColumnRenamed("m", "dm").withColumnRenamed("cid", "dcid")
        val pq = codes.join(broadcast(dtqR),
            col("m") === col("dm") && col("cell") === col("dcid") &&
              col("vec_id") =!= col("dqid"))
          .groupBy("dqid", "vec_id").agg(sum("dt").as("adist"))
          .select(col("dqid").as("qid"), col("vec_id"), col("adist"))
          .withColumn("rn", row_number().over(wP)).where(col("rn") <= kTop)
          .select("qid", "vec_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        // OPQ tier (q_ann_opq): the same ADC ranking after the
        // Householder rotation that balances top-PC energy across
        // subspaces — the recall delta vs pq above IS the measured
        // value of the rotation at the same 6-byte code budget.
        val svO = graft.queries.Scoped.materializeRound(
          graft.queries.Similarity
            .pqSubvecsOf(graft.queries.Similarity.opqRotatedVecs(spark, sf)))
        val cbO = graft.queries.Scoped.materializeRound(
          graft.queries.Similarity.pqFit(svO))
        val codesO = graft.queries.Similarity.pqAssign(svO, cbO)
        val dtqO = svO.where(col("vec_id") < nq)
          .join(broadcast(cbO), "m")
          .select(col("vec_id").as("dqid"), col("m").as("dm"),
            col("cid").as("dcid"), graft.queries.Similarity.pqDistCol.as("dt"))
        val opq = codesO.join(broadcast(dtqO),
            col("m") === col("dm") && col("cell") === col("dcid") &&
              col("vec_id") =!= col("dqid"))
          .groupBy("dqid", "vec_id").agg(sum("dt").as("adist"))
          .select(col("dqid").as("qid"), col("vec_id"), col("adist"))
          .withColumn("rn", row_number().over(wP)).where(col("rn") <= kTop)
          .select("qid", "vec_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        // IVF × PQ (q_ann_ivf_pq): coarse-cell PRUNE then ADC rank —
        // the pruned-ADC point on the recall/cost curve (candidate
        // fraction = the k-means prune's, fidelity = the codes').
        // Parameterized by probe count: the probe knob trades candidate
        // fraction (cost) for recall, and the curve below is the
        // measured chart of that tradeoff (VERDICT r6 item 7).
        def ivfpqAt(p: Int): (Double, Double) = {
          val pr = probesAll.where(col("pr") <= p).drop("pr")
          val candIP = cells.withColumnRenamed("cell", "ccell")
            .join(broadcast(pr), col("ccell") === col("pcell") &&
              col("vec_id") =!= col("qid"))
            .select(col("qid").as("cqid"), col("vec_id"))
          val got = codes.join(candIP, "vec_id")
            .join(broadcast(dtq
                .withColumnRenamed("qid", "dqid").withColumnRenamed("m", "dm")),
              col("m") === col("dm") && col("cell") === col("cid") &&
                col("cqid") === col("dqid"))
            .groupBy("cqid", "vec_id").agg(sum("dt").as("adist"))
            .select(col("cqid").as("qid"), col("vec_id"), col("adist"))
            .withColumn("rn", row_number().over(wP)).where(col("rn") <= kTop)
            .select("qid", "vec_id").collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
          val frac = pr.join(cells, col("pcell") === col("cell"))
            .where(col("vec_id") =!= col("qid"))
            .groupBy("qid").agg(count("*").as("cand"))
            .agg(avg("cand")).first().getDouble(0) / total
          (recall(got), frac)
        }
        val curve = (1 to 4).map(p => p -> ivfpqAt(p))
        val (ivfpqR, ivfpqF) = curve(1)._2 // probe=2, the operating point
        println(f"""{"bench":"annrecall","k":$kTop,"n_queries":$nq,"lsh_recall":${recall(lsh)}%.3f,"lsh_probe1_recall":${recall(probe1)}%.3f,"lsh_probe2_recall":${recall(probe2)}%.3f,"lsh_candidate_frac":$lshFrac%.4f,"ivf_recall":${recall(ivf)}%.3f,"ivf_candidate_frac":$ivfFrac%.4f,"ivf_kmeans_recall":${recall(km)}%.3f,"ivf_kmeans_candidate_frac":$kmFrac%.4f,"pq_adc_recall":${recall(pq)}%.3f,"opq_adc_recall":${recall(opq)}%.3f,"ivf_pq_recall":$ivfpqR%.3f,"ivf_pq_candidate_frac":$ivfpqF%.4f}""")
        val pts = curve.map { case (p, (r, f)) =>
          f"""{"probe":$p,"recall":$r%.3f,"cand_frac":$f%.4f}"""
        }.mkString(",")
        println(s"""{"bench":"ivfpq_probe_curve","k":$kTop,"n_queries":$nq,"points":[$pts]}""")
      case "sessionstate" =>
        // Streaming state-at-scale evidence (VERDICT r8 item 8): drive
        // the Sessionizer to ~10⁶ concurrent users and measure, per
        // micro-batch, the state-store row count and wall latency. The
        // claim under test: state is ONE record per ACTIVE user —
        // independent of event volume — and per-batch latency stays
        // flat as batches accumulate (no state leak, no per-batch
        // replay). A final past-gap batch pair closes every session
        // through the event-time timeout and the store drains.
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.streaming.Sessionizer
        val users = args.lift(1).map(_.toInt).getOrElse(1000000)
        val batches = args.lift(2).map(_.toInt).getOrElse(4)
        // arg 3: state-store provider — "rocksdb" or default (HDFS-
        // backed in-memory). Isolated on a child session so the A/B
        // never leaks into other cases.
        val provider = args.lift(3).getOrElse("memory")
        val s = spark.newSession()
        if (provider == "rocksdb")
          s.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import s.implicits._
        implicit val sqlCtx = s.sqlContext
        val ms = MemoryStream[Sessionizer.Event]
        val gapMs = 1800000L
        val qn = "sess_state_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val ck = java.nio.file.Files.createTempDirectory("ck_sess_state").toString
        val q = Sessionizer.sessionize(ms.toDS(), gapMs, "10 seconds")
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .option("checkpointLocation", ck).start()
        val base = 1700000000000L
        def stateRows: Long =
          Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
        val perBatch = (1 to batches).map { b =>
          // one event per user, one minute apart across batches (inside
          // the 30-min gap) → every session stays OPEN: state must sit
          // at exactly `users` rows, however many batches accumulate
          val ts = base + b.toLong * 60000L
          ms.addData((0 until users).map(u =>
            Sessionizer.Event(u.toLong, ts + u % 1000, b.toLong * users + u)))
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          (b, stateRows, sec)
        }
        // Past-gap pair: the first advances the watermark beyond every
        // session's (last + gap) timeout, the second gives the store a
        // batch in which to FIRE those timeouts and emit/remove.
        val far = base + batches.toLong * 60000L + gapMs + 3600000L
        ms.addData(Seq(Sessionizer.Event(-1L, far, -1L)))
        q.processAllAvailable()
        ms.addData(Seq(Sessionizer.Event(-1L, far + 1000L, -2L)))
        q.processAllAvailable()
        val drained = stateRows
        val closed = s.table(qn).count()
        q.stop()
        val ok = perBatch.forall(_._2 == users.toLong) && drained <= 2
        val pb = perBatch.map { case (b, st, sec) =>
          f"""{"batch":$b,"state_rows":$st,"sec":$sec%.2f}"""
        }.mkString(",")
        // sustained throughput = post-warmup batches (drop batch 1:
        // JIT + store init)
        val sustained = perBatch.drop(1).map(_._3)
        val rps =
          if (sustained.isEmpty) 0L
          else (users.toDouble / (sustained.sum / sustained.length)).toLong
        println(s"""{"bench":"sessionstate","provider":"$provider","users":$users,"batches":$batches,"per_batch":[$pb],"sustained_rows_per_sec":$rps,"drained_state_rows":$drained,"closed_sessions":$closed,"state_one_row_per_user":$ok}""")
      case "twsstate" =>
        // The v2-API counterpart of `sessionstate`: drive the
        // transformWithState TypeSessionizer (ValueState + MapState +
        // timers on the MANDATORY RocksDB provider) with the same
        // one-event-per-user-per-batch worst case, so the v1-vs-v2
        // stateful API cost carries a measured number instead of an
        // assumption. Event types rotate over a 3-letter alphabet, so
        // the MapState converges to ≤ 3 entries per user — state rows
        // must go FLAT once the alphabet saturates, however many
        // batches accumulate.
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import graft.streaming.TypeSessionizer
        val users = args.lift(1).map(_.toInt).getOrElse(1000000)
        val batches = args.lift(2).map(_.toInt).getOrElse(4)
        val s = spark.newSession()
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import s.implicits._
        implicit val sqlCtx = s.sqlContext
        val ms = MemoryStream[TypeSessionizer.TEvent]
        val gapMs = 1800000L
        val qn = "tws_state_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val ck = java.nio.file.Files.createTempDirectory("ck_tws_state").toString
        val q = TypeSessionizer.sessionize(ms.toDS(), gapMs, "10 seconds")
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .option("checkpointLocation", ck).start()
        val base = 1700000000000L
        def stateRows: Long =
          Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
        val perBatch = (1 to batches).map { b =>
          val ts = base + b.toLong * 60000L
          ms.addData((0 until users).map(u =>
            TypeSessionizer.TEvent(u.toLong, ts + u % 1000,
              b.toLong * users + u, "t" + (b % 3))))
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          (b, stateRows, sec)
        }
        val far = base + batches.toLong * 60000L + gapMs + 3600000L
        ms.addData(Seq(TypeSessionizer.TEvent(-1L, far, -1L, "t0")))
        q.processAllAvailable()
        ms.addData(Seq(TypeSessionizer.TEvent(-1L, far + 1000L, -2L, "t0")))
        q.processAllAvailable()
        val drained = stateRows
        val closed = s.table(qn).count()
        q.stop()
        // every user's events sit inside one gap → exactly one session
        // per user closes via the timer; only the sentinel stays open
        val ok = closed == users.toLong &&
          perBatch.drop(2).map(_._2).distinct.sizeIs <= 2
        val pb = perBatch.map { case (b, st, sec) =>
          f"""{"batch":$b,"state_rows":$st,"sec":$sec%.2f}"""
        }.mkString(",")
        val sustained = perBatch.drop(1).map(_._3)
        val rps =
          if (sustained.isEmpty) 0L
          else (users.toDouble / (sustained.sum / sustained.length)).toLong
        println(s"""{"bench":"twsstate","provider":"rocksdb","users":$users,"batches":$batches,"per_batch":[$pb],"sustained_rows_per_sec":$rps,"drained_state_rows":$drained,"closed_sessions":$closed,"state_flat_and_drained":$ok}""")
      case "decode" =>
        // single-threaded PNG decode: fast path vs ImageIO, same bytes
        val w = 2048; val h = 2048; val reps = args.lift(1).map(_.toInt).getOrElse(20)
        val px = new Array[Byte](w * h * 2)
        var i = 0
        while (i < w * h) {
          val v = (i * 13) % 65536
          px(2 * i) = (v & 0xFF).toByte; px(2 * i + 1) = ((v >> 8) & 0xFF).toByte
          i += 1
        }
        val png = graft.imaging.ImageCodec.encodePng16(w, h, px)
        def time(f: () => Unit): Double = {
          f() // warm
          val t0 = System.nanoTime()
          (0 until reps).foreach(_ => f())
          (System.nanoTime() - t0) / 1e9 / reps
        }
        val fast = time(() => graft.imaging.ImageCodec.decode(png))
        val imageio = time(() => {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
          img.getRaster.getDataBuffer // force materialization
          ()
        })
        // TIFF comparison (ImageIO write + read of the same pixels)
        val timg = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
        val tpx = timg.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferUShort].getData
        i = 0
        while (i < w * h) {
          tpx(i) = (((px(2 * i + 1) & 0xFF) << 8) | (px(2 * i) & 0xFF)).toShort
          i += 1
        }
        val tbos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(timg, "TIFF", tbos)
        val tiff = tbos.toByteArray
        val tiffSec = time(() => graft.imaging.ImageCodec.decode(tiff))
        val mib = w * h * 2 / (1024.0 * 1024.0)
        println(f"""{"bench":"decode","mib":$mib%.0f,"fast_sec":$fast%.4f,"imageio_sec":$imageio%.4f,"fast_mib_s":${mib / fast}%.0f,"imageio_mib_s":${mib / imageio}%.0f,"speedup":${imageio / fast}%.2f,"tiff_imageio_sec":$tiffSec%.4f,"tiff_mib_s":${mib / tiffSec}%.0f}""")
      case other =>
        System.err.println(s"unknown micro-bench: $other")
    }
    spark.stop()
  }
}
