package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up: builds an sf×FACTOR dataset from an
  * existing driver fixture by unioning FACTOR key-remapped copies,
  * preserving referential integrity and join fan-outs exactly.
  *
  * Purpose (round-10 verdict item 1): the 100 TB posture of every
  * query is argued by plan shape; this turns the argument into a
  * measurement — run `graft.Bench` on the source and the scaled
  * fixture and compare per-query scaling factors against the data
  * ratio, and run `graft.Verify` + the DuckDB oracle on the scaled
  * fixture to confirm correctness is scale-independent.
  *
  * Construction rules (copy i ∈ [0, factor), offset = i·(maxKey+1)):
  *  - region/nation: fixed-size dimensions, copied once (TPC-H keeps
  *    them constant across SF).
  *  - customer/supplier/part/orders/lineitem: every key column gets
  *    its table's offset; foreign keys get the referenced table's
  *    offset — each copy is a disjoint, structurally identical
  *    sub-universe, so per-key group sizes and join fan-outs match
  *    the source exactly (scaling measures data volume, not a
  *    distribution shift).
  *  - events: event_id/user_id offset; timestamps kept (the window /
  *    sessionization load scales in users, not time range — the
  *    realistic growth axis).
  *  - documents: doc_id offset; copies i>0 suffix EVERY alnum token
  *    with `xl<level>c<i>` (one regexp pass; level = build depth, see
  *    below). A whole-doc suffix would leave
  *    copies near-identical under minhash/simhash/shingle measures
  *    and fabricate ~100× near-dup pairs (measured: 43M minhash pairs
  *    at factor 10); per-token suffixing makes copy vocabularies
  *    disjoint, so near-dup structure exists only WITHIN a copy and
  *    every dedup/text workload scales linearly with rows. n_chars
  *    recomputed. The LEVEL salt (round 16) extends disjointness to
  *    COMPOSED builds: the pre-round-16 `x<i>` scheme reused suffixes
  *    across levels, so scaling an already-scaled fixture fabricated
  *    full-document cross-copy duplicates (verified: sf16d docs
  *    5000+k ≡ 50000+k) and per-copy-sliced verification was valid on
  *    one-level fixtures only. With level-salted suffixes every
  *    (level, copy) path is unique and `copy`-kind slicing is valid on
  *    composed fixtures as well. (Fixtures built BEFORE round 16 —
  *    the /tmp/sf1 and /tmp/sf16d of record — keep the old scheme on
  *    disk; regenerating them produces level-salted text with
  *    different bytes but identical structure.)
  *  - embeddings: vec_id offset; copies i>0 rotate the vector by
  *    i mod dim positions, composed for EVERY copy with a
  *    deterministic per-(level, copy, position) sign flip — both are
  *    norm-preserving per-copy isometries, so ANN/near-dup bucket
  *    densities grow linearly, not quadratically, at any factor, and
  *    (round 16) composed builds cannot collide copy paths the way
  *    pure rotations did (rot_j∘rot_i = rot_(i+j)).
  *
  *  Build level: resolved from the `scaleup_meta.json` sidecar each
  *  build writes (source level + 1), falling back to the max
  *  `xl<level>c` marker in the source documents, then to 1.
  *
  * All transforms are pure deterministic column expressions of a
  * deterministic fixture — repeated runs are bit-identical. Output is
  * one plain parquet FILE per table (`<dest>/<name>.parquet`),
  * matching the driver fixture layout so `graft.Tables` and the
  * DuckDB oracle read both the same way.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <destDir> <factor> [tables-csv]
  */
object ScaleUp {
  /** SQL for copy i's embedding isometry over an `embedding` column of
    * dimension `dim` at build level `lev`: rotate by i mod dim
    * positions (a raw slice by i > dim is invalid — its length goes
    * negative — hence the modulo), composed for EVERY copy i > 0 with
    * a deterministic per-(level, copy, position) Rademacher sign
    * flip. Both parts are per-copy isometries (norms and intra-copy
    * distances unchanged). The flip being unconditional and
    * level-keyed is what makes COMPOSED builds sound: with pure
    * rotations (the pre-round-16 form, which flipped only past one
    * full cycle), rot_j∘rot_i = rot_(i+j), so a recursive build
    * fabricated bit-identical cross-copy vectors — outer copy j of
    * inner copy 0 equals outer copy 0 of inner copy j (verified at
    * sf16d). Distinct (level, copy) keys give composed paths distinct
    * sign patterns, so no two copy paths coincide. */
  private[graft] def embeddingCopyExpr(dim: Int, i: Int, lev: Int): String = {
    val rot = i % dim
    val rotated =
      if (rot == 0) "embedding"
      else s"concat(slice(embedding, ${rot + 1}, size(embedding) - $rot), " +
           s"slice(embedding, 1, $rot))"
    if (i == 0) rotated
    else s"transform($rotated, (x, p) -> cast(x * (1 - 2 * " +
         s"(conv(substr(md5(concat('e${lev}_$i', ':', p)), 1, 1), 16, 10) % 2)) as float))"
  }

  def main(args: Array[String]): Unit = {
    val (src, dest, factor) = (args(0), args(1), args(2).toInt)
    // optional 4th arg: comma-separated table subset to emit (e.g.
    // "embeddings" builds a vector-only decade fixture for the banded-
    // LSH candidate-growth probe without paying for 16x of lineitem)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    require(factor >= 1, "factor must be >= 1")
    val spark = graft.core.Sessions.local()

    def keySpan(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1L

    // lazy: a tables-csv subset build must not scan (or require the
    // existence of) excluded tables — e.g. a documents-only build on a
    // source fixture with no embeddings.parquet, or the vector-decade
    // embeddings-only build that would otherwise pay key-span scans of
    // every relational table.
    lazy val customer = Tables.customer(spark, src)
    lazy val supplier = Tables.supplier(spark, src)
    lazy val part     = Tables.part(spark, src)
    lazy val orders   = Tables.orders(spark, src)
    lazy val lineitem = Tables.lineitem(spark, src)
    lazy val events   = Tables.events(spark, src)
    lazy val docs     = Tables.documents(spark, src)
    lazy val embs     = Tables.embeddings(spark, src)

    lazy val offC = keySpan(customer, "c_custkey")
    lazy val offS = keySpan(supplier, "s_suppkey")
    lazy val offP = keySpan(part, "p_partkey")
    lazy val offO = keySpan(orders, "o_orderkey")
    lazy val offE = keySpan(events, "event_id")
    lazy val offU = keySpan(events, "user_id")
    lazy val offD = keySpan(docs, "doc_id")
    lazy val offV = keySpan(embs, "vec_id")

    /** union of `factor` copies with per-copy column rewrites */
    def scaled(df: DataFrame)(rewrite: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => rewrite(df, i)).reduce(_ unionByName _)

    def shift(df: DataFrame, i: Int, cols: (String, Long)*): DataFrame =
      cols.foldLeft(df) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + lit(i * off))
      }

    /** write as ONE plain parquet file `<dest>/<name>.parquet` (the
      * driver fixture layout — a file, not a directory — so DuckDB's
      * read_parquet and Spark both load it unchanged; Spark still
      * splits a single file by row group for parallel scans). */
    def write(df: => DataFrame, name: String): Unit = {
      if (!only.forall(_.contains(name))) return
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dest), conf)
      val tmp = new org.apache.hadoop.fs.Path(s"$dest/.tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part1 = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.startsWith("part-")).get
      val out = new org.apache.hadoop.fs.Path(s"$dest/$name.parquet")
      fs.delete(out, false)
      fs.rename(part1, out)
      fs.delete(tmp, true)
      // metadata-only count from the written footer — re-counting `df`
      // would re-execute the full factor-way union a second time
      println(s"[scaleup] $name: ${spark.read.parquet(out.toString).count()} rows -> $out")
    }

    new java.io.File(dest).mkdirs()
    // fixed dims: copy once
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    write(scaled(customer)((d, i) => shift(d, i, "c_custkey" -> offC)), "customer")
    write(scaled(supplier)((d, i) => shift(d, i, "s_suppkey" -> offS)), "supplier")
    write(scaled(part)((d, i) => shift(d, i, "p_partkey" -> offP)), "part")
    write(scaled(orders)((d, i) =>
      shift(d, i, "o_orderkey" -> offO, "o_custkey" -> offC)), "orders")
    write(scaled(lineitem)((d, i) =>
      shift(d, i, "l_orderkey" -> offO, "l_partkey" -> offP, "l_suppkey" -> offS)),
      "lineitem")
    write(scaled(events)((d, i) =>
      shift(d, i, "event_id" -> offE, "user_id" -> offU)), "events")
    // BUILD LEVEL (round 16) — the salt that makes COMPOSED builds
    // sound. The pre-round-16 schemes reused the same per-copy
    // transform at every level, and a recursive build then fabricated
    // cross-copy duplicates: outer copy i's inner sub-copy 0 was
    // bit-identical to outer copy 0's inner sub-copy i, for documents
    // (same `x<i>` token suffix; verified at sf16d: docs 5000+k ≡
    // 50000+k) AND embeddings (pure rotations compose:
    // rot_j∘rot_i = rot_(i+j)). Level resolution order: (1) the
    // `scaleup_meta.json` sidecar a round-16+ build writes next to its
    // parquet output (source level + 1 — works for any tables subset);
    // (2) the max `xl<level>c` marker in the source documents + 1 (one
    // full-scan aggregate of a table this build reads anyway — covers
    // composed builds whose intermediate sidecar was lost); (3) level
    // 1 (base fixtures, or pre-round-16 sources whose transforms the
    // new level-1 keys cannot collide with anyway).
    lazy val buildLevel: Int = {
      val meta = new java.io.File(src, "scaleup_meta.json")
      val fromSidecar =
        if (!meta.isFile) None
        else "\"level\"\\s*:\\s*(\\d+)".r
          .findFirstMatchIn(scala.io.Source.fromFile(meta).mkString)
          .map(_.group(1).toInt + 1)
      fromSidecar.getOrElse {
        if (!only.forall(_.contains("documents"))) 1
        else {
          val lvlRow = docs.agg(max(array_max(transform(
            regexp_extract_all(col("text"), lit("xl(\\d+)c\\d+"), lit(1)),
            x => x.cast("int"))))).head()
          (if (lvlRow.isNullAt(0)) 0 else lvlRow.getInt(0)) + 1
        }
      }
    }
    // per-copy token suffix `xl<level>c<i>`: composed suffix chains
    // (…xl1c3xl2c7) stay unique per (level, copy) path, so copy
    // vocabularies are disjoint across levels and per-copy slicing
    // (sharded_check's `copy` kind) is valid on composed fixtures too
    write(scaled(docs) { (d, i) =>
      val shifted = shift(d, i, "doc_id" -> offD)
      if (i == 0) shifted
      else shifted
        .withColumn("text",
          regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1xl${buildLevel}c$i"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    // One aggregate proves the dimension is uniform (the rotation SQL
    // slices by size(embedding), but `rot` derives from this value — a
    // mixed-dimension table would regress to the negative-slice crash
    // for rows shorter than rot) and gives a clear error on an empty
    // table instead of head()'s NoSuchElementException. Gated on the
    // same tables-csv subset as write(): a documents-only build must
    // not pay (or hard-fail on) an embeddings scan the caller excluded.
    if (only.forall(_.contains("embeddings"))) {
      val dimRow = embs.agg(
        min(size(col("embedding"))).as("lo"),
        max(size(col("embedding"))).as("hi")).head()
      require(!dimRow.isNullAt(0),
        s"embeddings at $src is empty — nothing to scale")
      require(dimRow.getInt(0) == dimRow.getInt(1),
        s"embeddings at $src has mixed vector dimensions " +
          s"(${dimRow.getInt(0)}..${dimRow.getInt(1)}); the per-copy " +
          "rotation isometry requires one uniform dimension")
      val dim = dimRow.getInt(0)
      write(scaled(embs) { (d, i) =>
        val shifted = shift(d, i, "vec_id" -> offV)
        if (i == 0) shifted
        else shifted.withColumn("embedding",
          expr(embeddingCopyExpr(dim, i, buildLevel)))
      }, "embeddings")
    }

    // sidecar for the NEXT build's level resolution (rule 1 above)
    val metaOut = new java.io.PrintWriter(new java.io.File(dest, "scaleup_meta.json"))
    try metaOut.println(s"""{"level": $buildLevel, "factor": $factor}""")
    finally metaOut.close()

    spark.stop()
  }
}
