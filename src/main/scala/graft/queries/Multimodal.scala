package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata alongside (SURVEY.md §1.4 chunk-as-row schema). The
  * real pipeline decodes with per-partition batch UDFs
  * (graft.imaging.* handles true image bytes); these queries validate
  * the DataFrame-level plumbing — binary casting, digests, byte-level
  * feature extraction — against the oracle.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Binary column metadata: byte length + content digest. The digest
    * is computed on the raw bytes, exactly what a media dedup pass
    * would key on. */
  val qMmMeta: Q = (s, d) => {
    Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .withColumn("bin", col("text").cast("binary"))
      .select(col("doc_id"),
        length(col("bin")).as("n_bytes"),
        md5(col("bin")).as("digest"),
        substring(md5(col("bin")), 1, 8).as("digest8"))
      .orderBy("doc_id")
  }

  /** Deterministic fake "decode": treat the first 32 bytes as pixels,
    * extract mean/max/min intensity — the schema and batch shape a real
    * image decode UDF produces (width, height, stats), with the codec
    * stubbed by byte-value semantics. */
  val qMmPixels: Q = (s, d) => {
    val px = col("px")
    Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .withColumn("px", transform(sequence(lit(1), lit(32)),
        i => ascii(col("text").substr(i, lit(1)))))
      .select(col("doc_id"),
        col("n_chars").as("width"),
        lit(1).as("height"),
        round(aggregate(px, lit(0L), (acc, v) => acc + v).cast("double") / 32.0, 6)
          .as("mean_px"),
        array_max(px).as("max_px"),
        array_min(px).as("min_px"))
      .orderBy("doc_id")
  }

  /** Real image resize, end to end: build an 8×6 uint16 PNG per part
    * row from a deterministic pixel formula, run the REAL
    * encode → decode → box-mean-resize path (graft.multimodal /
    * graft.imaging codecs), explode the 4×3 result to pixel rows. The
    * oracle recomputes the window means straight from the formula, so
    * a single wrong byte anywhere in the codec path fails the hash. */
  private val PH_W = 8
  private val PH_H = 6
  private val PH_BANDS = 4
  private val PH_BAND_BITS = 12
  private val PH_MAX_HAM = 3

  /** Perceptual-hash image near-dup — the IMAGE arm of the dedup suite
    * (a multimodal training pipeline dedups screenshots/thumbnails
    * exactly this way): aHash fingerprints through the REAL PNG
    * encode→decode path ([[graft.multimodal.MediaColumns
    * .perceptualHashes]]), collapsed to DISTINCT-hash clusters
    * (ph, count, min-pk representative) BEFORE the 4-band pigeonhole
    * equi-join — hamming ≤ 3 over 4×12-bit bands means at least one
    * band matches exactly, so banding is provably lossless at the
    * threshold and the plan is never all-pairs. The collapse is the
    * round-14 sf16d lesson: duplicate-heavy populations repeat hash
    * values, so banding RAW rows makes both the hot bucket and the
    * output itself quadratic in the duplicate count; at the distinct-
    * hash level an exact-dup cluster of k images is ONE row (npairs =
    * k·(k−1)/2) and cross-hash near-dups are (rep, rep, hamming,
    * na·nb) rows — output linear in distinct hashes. Fixture images
    * are deterministic in-plan: groups of four share a base pattern
    * with member m inverting its first m pixels, so intra-group pairs
    * land at small hamming distances. The oracle replays pixel
    * synthesis, the strict integer aHash threshold (bit set iff
    * v·n > Σv), the hash collapse and brute-force hamming over
    * distinct hashes in SQL — gating the codec roundtrip
    * byte-for-byte. */
  val qMmPhash: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    import graft.imaging.ImageCodec
    val keys = Tables.part(s, d).where(col("p_partkey") % 50 === 0)
      .select(col("p_partkey")).as[Long]
    val media = keys.mapPartitions { it =>
      it.map { pk =>
        val g = pk / 200
        val m = ((pk / 50) % 4).toInt
        val px = new Array[Byte](PH_W * PH_H * 2)
        for (y <- 0 until PH_H; x <- 0 until PH_W) {
          val i = y * PH_W + x
          val base = ((g * 31 + y * 17 + x * 7) % 65536).toInt
          val v = if (i < m) 65535 - base else base
          px(2 * i) = (v & 0xFF).toByte
          px(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        }
        MediaColumns.MediaRow(pk, "image/png", ImageCodec.encodePng16(PH_W, PH_H, px))
      }
    }
    val hashed = MediaColumns.perceptualHashes(media).toDF("pk", "ph")
    val clusters = hashed.groupBy("ph")
      .agg(count(lit(1)).as("n"), min("pk").as("rep"))
    Scoped.share(clusters) {
      val bandStructs = array((0 until PH_BANDS).map { b =>
        struct(lit(b).as("band_id"),
          (shiftright(col("ph"), b * PH_BAND_BITS) % lit(1 << PH_BAND_BITS)).as("bk"))
      }: _*)
      val bands = clusters
        .select(col("ph"), col("n"), col("rep"), explode(bandStructs).as("bs"))
        .select(col("ph"), col("n"), col("rep"),
          col("bs.band_id").as("band_id"), col("bs.bk").as("bk"))
      val near = bands.as("a").join(bands.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.bk") === col("b.bk") &&
          col("a.ph") < col("b.ph"))
        .select(least(col("a.rep"), col("b.rep")).as("pa"),
          greatest(col("a.rep"), col("b.rep")).as("pb"),
          expr("bit_count(a.ph ^ b.ph)").as("hamming"),
          (col("a.n") * col("b.n")).as("npairs"))
        .distinct() // a hash pair may agree on more than one band
        .where(col("hamming") <= PH_MAX_HAM)
      val exact = clusters.where(col("n") >= 2)
        .select(col("rep").as("pa"), col("rep").as("pb"),
          lit(0).as("hamming"),
          // n·(n−1) is even, so the halving is exact in longs
          ((col("n") * (col("n") - 1)) / 2).cast("long").as("npairs"))
      near.unionByName(exact).orderBy("pa", "pb")
    }
  }

  private val AFP_MAX_HAM = 3
  private val AFP_NVEC = 20
  private val AFP_PERT_ID = 100

  /** Audio-fingerprint near-dup — the AUDIO arm of the dedup suite
    * (alongside [[qMmPhash]] for images and the text tiers): each clip
    * fingerprints through the REAL WAV encode→RIFF-parse path
    * ([[graft.multimodal.MediaColumns.audioFingerprints]], 31 energy-
    * delta bits), then near-dup pairs at hamming ≤ 3 via a 4-band
    * pigeonhole equi-join (8/8/8/7 bits — hamming ≤ 3 leaves one band
    * untouched, so banding is lossless at the threshold; never
    * all-pairs). Fixture clips come from the embeddings with a
    * perturbed TWIN per clip (+1 on every 5th sample) — a re-encoded /
    * slightly-reprocessed copy, which is exactly what audio dedup
    * catches in the wild. Oracle replays sample synthesis, frame
    * energies, delta bits and brute hamming in SQL, gating the WAV
    * roundtrip byte-for-byte. */
  val qMmAudioFp: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    val e = Tables.embeddings(s, d).where(col("vec_id") < AFP_NVEC)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    val media = e.flatMap { case (id, emb) =>
      def clip(cid: Long, pert: Int): MediaColumns.MediaRow = {
        val samples = emb.zipWithIndex.map { case (x, i) =>
          (math.max(-32768L, math.min(32767L,
            math.floor(x.toDouble * 1000).toLong)) +
            (if (pert == 1 && i % 5 == 0) 1L else 0L)).toShort
        }
        MediaColumns.MediaRow(cid, "audio/wav",
          MediaColumns.encodeWavPcm16(8000, samples))
      }
      Seq(clip(id, 0), clip(id + AFP_PERT_ID, 1))
    }
    val fps = MediaColumns.audioFingerprints(media).toDF("id", "afp")
    Scoped.share(fps) {
      val bandStructs = array((0 until 4).map { b =>
        struct(lit(b).as("band_id"),
          (shiftright(col("afp"), b * 8) % lit(256)).as("bk"))
      }: _*)
      val bands = fps.select(col("id"), col("afp"), explode(bandStructs).as("bs"))
        .select(col("id"), col("afp"),
          col("bs.band_id").as("band_id"), col("bs.bk").as("bk"))
      bands.as("a").join(bands.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("ida"), col("b.id").as("idb"),
          expr("bit_count(a.afp ^ b.afp)").as("hamming"))
        .distinct()
        .where(col("hamming") <= AFP_MAX_HAM)
        .orderBy("ida", "idb")
    }
  }

  val qMmResize: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    import graft.imaging.ImageCodec
    val W = 8; val H = 6
    val keys = Tables.part(s, d).where(col("p_partkey") % 50 === 0)
      .select(col("p_partkey")).as[Long]
    val media = keys.mapPartitions { it =>
      it.map { pk =>
        val px = new Array[Byte](W * H * 2)
        for (y <- 0 until H; x <- 0 until W) {
          val v = ((pk * 31 + y * 17 + x * 7) % 65536).toInt
          val i = y * W + x
          px(2 * i) = (v & 0xFF).toByte
          px(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        }
        MediaColumns.MediaRow(pk, "image/png", ImageCodec.encodePng16(W, H, px))
      }
    }
    MediaColumns.resizeImages(media, 2)
      .flatMap { r =>
        for (y <- 0 until r.height; x <- 0 until r.width) yield {
          val off = (y * r.width + x) * 2
          (r.id, y, x, ((r.bytes(off + 1) & 0xFF) << 8) | (r.bytes(off) & 0xFF))
        }
      }
      .toDF("p_partkey", "y", "x", "v")
      .orderBy("p_partkey", "y", "x")
  }

  /** Frame sampling over a binary payload (every 2nd 8-byte frame),
    * reporting per-frame byte energy. Exercises the stub video
    * container path with a char-arithmetic oracle (corpus is ASCII,
    * so bytes ≡ chars). */
  private val SC_THRESH = 110L // ~P90 of inter-frame deltas on this corpus

  /** Shot-boundary (scene-cut) detection — the frame-selection step a
    * video training pipeline runs before sampling (one keyframe per
    * shot beats uniform stride on redundant footage): per-frame energy
    * deltas against the previous frame, cut where |Δ| ≥ [[SC_THRESH]].
    * Frames ride the STUB fixed-size sampler ([[MediaColumns
    * .sampleFrames]], every frame) over the text-as-bytes fake video —
    * the Spark-side plumbing (typed Dataset pipeline, per-doc lag
    * window, audit rollup) is the real product shape; a codec-bearing
    * container swaps in [[MediaColumns.sampleFramesAvi]].
    *
    * Scale: frame explosion is map-side; the delta is a lag window
    * partitioned by doc_id (per-video groups, bounded by frame count —
    * the allowlisted per-entity key); the audit is one partial-agg
    * rollup. Energies and deltas are exact integers end to end. */
  val qMmScenecut: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    val docs = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(col("doc_id").cast("long").as[Long],
        col("text").cast("binary").as[Array[Byte]])
      .map { case (id, bytes) => MediaColumns.MediaRow(id, "video/fake", bytes) }
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    MediaColumns.sampleFrames(docs, frameBytes = 8, everyN = 1)
      .map(f => (f.id, f.frameIdx, f.bytes.map(b => (b & 0xFF).toLong).sum))
      .toDF("doc_id", "frame_idx", "energy")
      .withColumn("delta", abs(col("energy") - lag("energy", 1).over(w)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("delta") >= SC_THRESH, 1L).otherwise(0L)).as("n_cuts"),
        max("delta").as("max_delta"),
        min(when(col("delta") >= SC_THRESH, col("frame_idx"))).as("first_cut"))
      .orderBy("doc_id")
  }

  val qMmFrames: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    val docs = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      .select(col("doc_id").cast("long").as[Long],
        col("text").cast("binary").as[Array[Byte]])
      .map { case (id, bytes) => MediaColumns.MediaRow(id, "video/fake", bytes) }
    MediaColumns.sampleFrames(docs, frameBytes = 8, everyN = 2)
      .map(f => (f.id, f.frameIdx, f.bytes.map(b => (b & 0xFF).toLong).sum))
      .toDF("doc_id", "frame_idx", "energy")
      .orderBy("doc_id", "frame_idx")
  }

  /** Real audio, end to end: synthesize a PCM16 WAV per embedding row
    * (samples = clamped floor(x·1000)), run the REAL RIFF encode →
    * chunk-walk decode → feature extraction, and let the oracle
    * recompute rate/duration/RMS straight from the floats — one wrong
    * byte anywhere in the WAV path fails the hash (same pattern as
    * q_mm_resize for images). */
  val qMmWav: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    val e = Tables.embeddings(s, d).where(col("vec_id") < 40)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    val media = e.mapPartitions { it =>
      it.map { case (id, emb) =>
        val samples = emb.map { x =>
          math.max(-32768L,
            math.min(32767L, math.floor(x.toDouble * 1000).toLong)).toShort
        }
        MediaColumns.MediaRow(id, "audio/wav",
          MediaColumns.encodeWavPcm16(8000, samples))
      }
    }
    MediaColumns.decodeWavFeatures(media).toDF()
      .select(col("id").as("vec_id"), col("sampleRate").as("sample_rate"),
        col("channels"), col("nSamples").as("n_samples"),
        round(col("durationMs"), 4).as("duration_ms"),
        round(col("rms"), 4).as("rms"))
      .orderBy("vec_id")
  }

  /** Real video container, end to end: synthesize a 6-frame
    * uncompressed AVI per sampled part row (frame bytes from a
    * deterministic formula), run the REAL RIFF/AVI chunk walker
    * (hdrl/avih dims + movi '00db' frames), sample every 2nd frame and
    * report its byte energy. The oracle recomputes energies straight
    * from the formula, so any container-layout error fails the hash. */
  val qMmAvi: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    val FW = 4; val FH = 4; val NF = 6
    val keys = Tables.part(s, d).where(col("p_partkey") % 100 === 0)
      .select(col("p_partkey")).as[Long]
    val media = keys.mapPartitions { it =>
      it.map { pk =>
        val frames = (0 until NF).map { i =>
          Array.tabulate[Byte](FW * FH)(j => ((pk * 7 + i * 13 + j) % 251).toByte)
        }
        MediaColumns.MediaRow(pk, "video/avi", MediaColumns.encodeAvi(FW, FH, frames))
      }
    }
    MediaColumns.sampleFramesAvi(media, everyN = 2)
      .map(f => (f.id, f.frameIdx, f.width, f.height,
        f.bytes.map(b => (b & 0xFF).toLong).sum))
      .toDF("p_partkey", "frame_idx", "width", "height", "energy")
      .orderBy("p_partkey", "frame_idx")
  }

  /** The SSIM ratio over exact integer frame sums, shared VERBATIM
    * between the Spark plan and the DuckDB oracle so the only FP in
    * the operator is this one identically-structured expression.
    * Constants are the standard SSIM stabilizers C1=(0.01·255)²,
    * C2=(0.03·255)² carried ×10⁴ so they stay integers; every factor
    * is < 2⁵³ (see scaladoc bound on [[qMmSsim]]), hence exactly
    * representable, and the double multiply/divide round identically
    * on both engines. */
  private val ssimExpr: String =
    "round((CAST(2 * sx * sy * 10000 + 65025 * 256 AS DOUBLE) * " +
      "(2 * (16 * pp - sx * sy) * 10000 + 585225 * 256)) / " +
      "(CAST((sx * sx + sy * sy) * 10000 + 65025 * 256 AS DOUBLE) * " +
      "((16 * qx - sx * sx + 16 * qy - sy * sy) * 10000 + 585225 * 256)), 6)"

  /** Structural similarity (SSIM, Wang et al. 2004) between each
    * consecutive pair of DECODED video frames — the perceptual
    * near-duplicate / quality metric run frame-to-frame (global
    * single-window form; windowed SSIM tiles this same formula). The
    * video path is real: frames are RIFF-encoded into an AVI and read
    * back through the container walk, so a codec bug shifts every sum.
    *
    * All moments (Sx, Sy, Qx, Qy, ΣXY) are exact longs; the one FP
    * expression is [[ssimExpr]], identical on both engines. Bound:
    * pixels ≤ 250, n=16 → every ssim factor ≤ 2·4000²·10⁴ + C·256
    * ≈ 3.2·10¹¹ < 2⁵³, so each factor is an exactly-represented
    * double and cross-engine IEEE parity is structural, not luck.
    * Scale: frame explosion is map-side typed code; the only shuffle
    * is the (video, frame) self-join co-partitioned on the video key
    * (adjacent-frame pairing — group size = frame count, the
    * per-entity posture shared with q_mm_scenecut). */
  val qMmSsim: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    val FW = 4; val FH = 4; val NF = 6
    val keys = Tables.part(s, d).where(col("p_partkey") % 100 === 0)
      .select(col("p_partkey")).as[Long]
    val media = keys.mapPartitions { it =>
      it.map { pk =>
        val frames = (0 until NF).map { i =>
          Array.tabulate[Byte](FW * FH)(j => ((pk * 7 + i * 13 + j) % 251).toByte)
        }
        MediaColumns.MediaRow(pk, "video/avi", MediaColumns.encodeAvi(FW, FH, frames))
      }
    }
    val fr = MediaColumns.sampleFramesAvi(media, everyN = 1)
      .map(f => (f.id, f.frameIdx, f.bytes.map(b => (b & 0xFF).toLong)))
      .toDF("pk", "idx", "px")
    val nxt = fr.select(col("pk").as("pk2"), (col("idx") - 1).as("idx2"),
      col("px").as("py"))
    fr.join(nxt, col("pk") === col("pk2") && col("idx") === col("idx2"))
      .select(col("pk").as("p_partkey"), col("idx").as("frame_idx"),
        expr("aggregate(px, 0L, (acc, x) -> acc + x)").as("sx"),
        expr("aggregate(py, 0L, (acc, x) -> acc + x)").as("sy"),
        expr("aggregate(px, 0L, (acc, x) -> acc + x * x)").as("qx"),
        expr("aggregate(py, 0L, (acc, x) -> acc + x * x)").as("qy"),
        expr("aggregate(zip_with(px, py, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
          .as("pp"))
      .select(col("p_partkey"), col("frame_idx"),
        (lit(16L) * col("pp") - col("sx") * col("sy")).as("cov_grain"),
        expr(ssimExpr).as("ssim"))
      .orderBy("p_partkey", "frame_idx")
  }

  /** Compressed video frames, end to end: synthesize 8×4 frames mixing
    * constant 4-pixel blocks (RLE encoded-mode runs) with varying
    * blocks (absolute-mode literals), RLE8-compress them into a real
    * AVI whose strf BITMAPINFOHEADER declares BI_RLE8, then run the
    * REAL container walk + full-spec RLE8 decode and report per-frame
    * energy of the DECODED pixels. The oracle recomputes energies from
    * the pixel formula, so one wrong byte anywhere in the RLE encoder,
    * the stream-header plumbing or the decoder fails the hash. */
  val qMmAviRle: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    val FW = 8; val FH = 4; val NF = 6
    val keys = Tables.part(s, d).where(col("p_partkey") % 100 === 0)
      .select(col("p_partkey")).as[Long]
    val media = keys.mapPartitions { it =>
      it.map { pk =>
        val frames = (0 until NF).map { i =>
          Array.tabulate[Byte](FW * FH) { j =>
            val b = j / 4
            val v = if (b % 3 == 0) (pk * 11 + i * 17 + j) % 251
                    else (pk * 7 + i * 13 + b * 5) % 251
            v.toByte
          }
        }
        MediaColumns.MediaRow(pk, "video/avi",
          MediaColumns.encodeAvi(FW, FH, frames,
            compression = MediaColumns.BI_RLE8))
      }
    }
    MediaColumns.sampleFramesAvi(media, everyN = 2)
      .map(f => (f.id, f.frameIdx, f.width, f.height,
        f.bytes.map(b => (b & 0xFF).toLong).sum))
      .toDF("p_partkey", "frame_idx", "width", "height", "energy")
      .orderBy("p_partkey", "frame_idx")
  }

  private val VAD_NVEC = 40
  private val VAD_FRAME = 4         // samples per energy frame
  private val VAD_THRESH = 60000L    // Σ s² activity threshold per frame (~55th pctile of fixture energies)

  /** Energy-threshold voice-activity detection — the classic VAD
    * front-end (ITU G.729B's energy gate, minus the codec): clips go
    * through the REAL WAV encode→RIFF-parse path, per-frame exact
    * integer energies ([[graft.multimodal.MediaColumns
    * .audioFrameEnergies]]), frames at energy ≥ [[VAD_THRESH]] are
    * active, and maximal active runs become speech segments via the
    * gaps-and-islands grouping (f − row_number per clip). Output per
    * clip: active frames, segment count, longest segment.
    *
    * Everything after the decode is relational — the frame stream is
    * rows, the islands window partitions on vec_id (a per-entity
    * stream, sessionizer posture), and energies/thresholds are exact
    * longs so segment boundaries cannot drift between engines. At
    * scale the per-clip frame fan-out is a constant factor and
    * nothing leaves its entity partition. */
  val qMmVad: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.MediaColumns
    val e = Tables.embeddings(s, d).where(col("vec_id") < VAD_NVEC)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    val media = e.mapPartitions { it =>
      it.map { case (id, emb) =>
        val samples = emb.map { x =>
          math.max(-32768L,
            math.min(32767L, math.floor(x.toDouble * 1000).toLong)).toShort
        }
        MediaColumns.MediaRow(id, "audio/wav",
          MediaColumns.encodeWavPcm16(8000, samples))
      }
    }
    val frames = MediaColumns.audioFrameEnergies(media, VAD_FRAME)
      .toDF("vec_id", "f", "energy")
    val w = Window.partitionBy("vec_id").orderBy(col("f").asc)
    frames.where(col("energy") >= VAD_THRESH)
      .withColumn("grp", col("f") - row_number().over(w))
      .groupBy("vec_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("vec_id")
      .agg(sum("run").as("n_active"), count(lit(1)).as("n_segments"),
        max("run").as("longest_run"))
      .orderBy("vec_id")
  }

  def queries: Map[String, Q] = Map(
    "q_mm_vad" -> qMmVad,
    "q_mm_avi" -> qMmAvi,
    "q_mm_avi_rle" -> qMmAviRle,
    "q_mm_wav" -> qMmWav,
    "q_mm_meta" -> qMmMeta,
    "q_mm_pixels" -> qMmPixels,
    "q_mm_resize" -> qMmResize,
    "q_mm_phash" -> qMmPhash,
    "q_mm_audiofp" -> qMmAudioFp,
    "q_mm_frames" -> qMmFrames,
    "q_mm_scenecut" -> qMmScenecut,
    "q_mm_ssim" -> qMmSsim
  )

  def oracleSql: Map[String, String] = Map(
    "q_mm_ssim" ->
      s"""WITH p AS (SELECT p_partkey FROM part WHERE p_partkey % 100 = 0),
         |f AS (SELECT p_partkey, CAST(i AS INT) AS i FROM p, unnest(range(0, 6)) t(i)),
         |px AS (SELECT p_partkey, i,
         |         list_transform(range(0, 16),
         |           j -> (p_partkey * 7 + i * 13 + j) % 251) AS v
         |       FROM f),
         |pairs AS (SELECT a.p_partkey, a.i AS frame_idx, a.v AS vx, b.v AS vy
         |          FROM px a JOIN px b
         |            ON a.p_partkey = b.p_partkey AND b.i = a.i + 1),
         |sums AS (SELECT p_partkey, frame_idx,
         |           CAST(list_sum(vx) AS BIGINT) AS sx,
         |           CAST(list_sum(vy) AS BIGINT) AS sy,
         |           CAST(list_sum(list_transform(vx, x -> x * x)) AS BIGINT) AS qx,
         |           CAST(list_sum(list_transform(vy, x -> x * x)) AS BIGINT) AS qy,
         |           CAST(list_sum(list_transform(range(1, 17),
         |             k -> vx[k] * vy[k])) AS BIGINT) AS pp
         |         FROM pairs)
         |SELECT p_partkey, frame_idx,
         |  CAST(16 * pp - sx * sy AS BIGINT) AS cov_grain,
         |  $ssimExpr AS ssim
         |FROM sums ORDER BY p_partkey, frame_idx""".stripMargin,
    "q_mm_avi_rle" ->
      """WITH p AS (SELECT p_partkey FROM part WHERE p_partkey % 100 = 0),
        |f AS (SELECT p_partkey, CAST(i AS INT) AS frame_idx
        |      FROM p, unnest(range(0, 6)) t(i) WHERE i % 2 = 0)
        |SELECT p_partkey, frame_idx, 8 AS width, 4 AS height,
        |  CAST(list_sum(list_transform(range(0, 32),
        |    j -> CASE WHEN (j // 4) % 3 = 0
        |              THEN (p_partkey * 11 + frame_idx * 17 + j) % 251
        |              ELSE (p_partkey * 7 + frame_idx * 13 + (j // 4) * 5) % 251
        |         END)) AS BIGINT) AS energy
        |FROM f ORDER BY p_partkey, frame_idx""".stripMargin,
    "q_mm_avi" ->
      """WITH p AS (SELECT p_partkey FROM part WHERE p_partkey % 100 = 0),
        |f AS (SELECT p_partkey, CAST(i AS INT) AS frame_idx
        |      FROM p, unnest(range(0, 6)) t(i) WHERE i % 2 = 0)
        |SELECT p_partkey, frame_idx, 4 AS width, 4 AS height,
        |  CAST(list_sum(list_transform(range(0, 16),
        |    j -> (p_partkey * 7 + frame_idx * 13 + j) % 251)) AS BIGINT) AS energy
        |FROM f ORDER BY p_partkey, frame_idx""".stripMargin,
    "q_mm_wav" ->
      """WITH s AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(greatest(-32768, least(32767,
        |        CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 40)
        |SELECT vec_id, 8000 AS sample_rate, 1 AS channels,
        |  CAST(len(v) AS INT) AS n_samples,
        |  round(CAST(len(v) AS DOUBLE) * 1000 / 8000, 4) AS duration_ms,
        |  round(sqrt(list_sum(list_transform(v, x -> x * x)) / len(v)), 4) AS rms
        |FROM s ORDER BY vec_id""".stripMargin,
    "q_mm_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS digest, substr(md5(text), 1, 8) AS digest8
        |FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id""".stripMargin,
    "q_mm_pixels" ->
      """WITH px AS (SELECT doc_id, n_chars,
        |    list_transform(range(1, 33), i -> ascii(substr(text, CAST(i AS INT), 1))) AS p
        |  FROM documents WHERE doc_id % 20 = 0)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS width, 1 AS height,
        |  round(CAST(list_sum(p) AS DOUBLE) / 32.0, 6) AS mean_px,
        |  CAST(list_max(p) AS INT) AS max_px, CAST(list_min(p) AS INT) AS min_px
        |FROM px ORDER BY doc_id""".stripMargin,
    "q_mm_vad" ->
      s"""WITH s AS (SELECT vec_id, CAST(i AS INT) AS i,
         |        greatest(-32768, least(32767,
         |          CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT))) AS v
         |      FROM embeddings, unnest(range(0, 64)) t(i)
         |      WHERE vec_id < $VAD_NVEC),
         |en AS (SELECT vec_id, i // $VAD_FRAME AS f, sum(v * v) AS energy
         |       FROM s GROUP BY 1, 2),
         |act AS (SELECT vec_id, f,
         |          f - row_number() OVER (PARTITION BY vec_id ORDER BY f) AS grp
         |        FROM en WHERE energy >= $VAD_THRESH),
         |seg AS (SELECT vec_id, grp, count(*) AS run FROM act GROUP BY 1, 2)
         |SELECT vec_id, CAST(sum(run) AS BIGINT) AS n_active,
         |  count(*) AS n_segments, CAST(max(run) AS BIGINT) AS longest_run
         |FROM seg GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_mm_audiofp" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $AFP_NVEC),
         |c AS (SELECT vec_id AS id, 0 AS pert, embedding FROM e
         |      UNION ALL
         |      SELECT vec_id + $AFP_PERT_ID, 1, embedding FROM e),
         |s AS (SELECT id, CAST(i AS INT) AS i,
         |        greatest(-32768, least(32767,
         |          CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT)))
         |        + CASE WHEN pert = 1 AND i % 5 = 0 THEN 1 ELSE 0 END AS v
         |      FROM c, unnest(range(0, 64)) t(i)),
         |en AS (SELECT id, f, sum(v * v) AS e
         |       FROM (SELECT id, i // 2 AS f, v FROM s) q GROUP BY id, f),
         |fp AS (SELECT a.id,
         |         CAST(sum(CASE WHEN n.e > a.e
         |                  THEN (CAST(1 AS BIGINT) << CAST(a.f AS INT)) ELSE 0 END) AS BIGINT) AS afp
         |       FROM en a JOIN en n ON a.id = n.id AND n.f = a.f + 1
         |       GROUP BY a.id)
         |SELECT a.id AS ida, b.id AS idb,
         |  bit_count(xor(a.afp, b.afp)) AS hamming
         |FROM fp a JOIN fp b ON a.id < b.id
         |WHERE bit_count(xor(a.afp, b.afp)) <= $AFP_MAX_HAM
         |ORDER BY ida, idb""".stripMargin,
    "q_mm_phash" -> {
      val n = PH_W * PH_H
      s"""WITH p AS (SELECT p_partkey AS pk FROM part WHERE p_partkey % 50 = 0),
         |px AS (SELECT pk, CAST(i AS INT) AS i,
         |         CASE WHEN i < (pk // 50) % 4
         |           THEN 65535 - ((pk // 200) * 31 + (i // $PH_W) * 17 + (i % $PH_W) * 7) % 65536
         |           ELSE ((pk // 200) * 31 + (i // $PH_W) * 17 + (i % $PH_W) * 7) % 65536
         |         END AS v
         |       FROM p, unnest(range(0, $n)) t(i)),
         |s AS (SELECT pk, sum(v) AS sv FROM px GROUP BY pk),
         |h AS (SELECT px.pk,
         |        CAST(sum(CASE WHEN v * $n > sv
         |                 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ph
         |      FROM px JOIN s USING (pk) GROUP BY px.pk),
         |cl AS (SELECT ph, count(*) AS cn, min(pk) AS rep FROM h GROUP BY ph),
         |near AS (SELECT least(a.rep, b.rep) AS pa, greatest(a.rep, b.rep) AS pb,
         |           CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming,
         |           a.cn * b.cn AS npairs
         |         FROM cl a JOIN cl b ON a.ph < b.ph
         |         WHERE bit_count(xor(a.ph, b.ph)) <= $PH_MAX_HAM),
         |ex AS (SELECT rep AS pa, rep AS pb, CAST(0 AS INT) AS hamming,
         |         (cn * (cn - 1)) // 2 AS npairs
         |       FROM cl WHERE cn >= 2)
         |SELECT pa, pb, hamming, npairs
         |FROM (SELECT * FROM near UNION ALL SELECT * FROM ex) u
         |ORDER BY pa, pb""".stripMargin
    },
    "q_mm_resize" ->
      """WITH p AS (SELECT p_partkey FROM part WHERE p_partkey % 50 = 0),
        |grid AS (SELECT p_partkey, CAST(y AS INT) AS y, CAST(x AS INT) AS x
        |         FROM p, unnest(range(0, 3)) t(y), unnest(range(0, 4)) u(x))
        |SELECT p_partkey, y, x, CAST((
        |    (p_partkey * 31 + (2*y) * 17 + (2*x) * 7) % 65536
        |  + (p_partkey * 31 + (2*y) * 17 + (2*x+1) * 7) % 65536
        |  + (p_partkey * 31 + (2*y+1) * 17 + (2*x) * 7) % 65536
        |  + (p_partkey * 31 + (2*y+1) * 17 + (2*x+1) * 7) % 65536) // 4 AS INT) AS v
        |FROM grid ORDER BY p_partkey, y, x""".stripMargin,
    "q_mm_scenecut" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) // 8 AS nf
         |           FROM documents WHERE doc_id % 20 = 0),
         |f AS (SELECT doc_id, CAST(i AS INT) AS fi,
         |        CAST(list_sum(list_transform(range(1, 9),
         |          j -> ascii(substr(text, CAST(i * 8 + j AS INT), 1)))) AS BIGINT) AS e
         |      FROM d, unnest(range(0, nf)) t(i)),
         |dl AS (SELECT doc_id, fi,
         |         abs(e - lag(e) OVER (PARTITION BY doc_id ORDER BY fi)) AS de
         |       FROM f)
         |SELECT doc_id, count(*) AS n_frames,
         |  CAST(sum(CASE WHEN de >= $SC_THRESH THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  max(de) AS max_delta,
         |  min(CASE WHEN de >= $SC_THRESH THEN fi END) AS first_cut
         |FROM dl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_mm_frames" ->
      """WITH d AS (SELECT doc_id, text, length(text) // 8 AS nf
        |           FROM documents WHERE doc_id % 20 = 0),
        |f AS (SELECT doc_id, text, CAST(i AS INT) AS frame_idx
        |      FROM d, unnest(range(0, nf)) t(i) WHERE i % 2 = 0)
        |SELECT doc_id, frame_idx,
        |  CAST(list_sum(list_transform(range(1, 9),
        |    j -> ascii(substr(text, CAST(frame_idx * 8 + j AS INT), 1)))) AS BIGINT) AS energy
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin
  )
}
