package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing: media as opaque `binary` + typed metadata,
  * decode/feature-extract as a per-partition batch transform.
  *
  *  - input contract:  (id LONG, media BINARY, media_type STRING)
  *  - output contract: (id LONG, media_type STRING, n_bytes LONG,
  *                      features ARRAY<FLOAT>)
  *  - execution shape: `mapPartitions` — the JVM analog of `mapInPandas`,
  *    one decoder init per partition (model load, codec context), rows
  *    streamed through in batches, never collected to the driver.
  *
  * The decode step dispatches on `media_type` (round 8 — no longer a
  * stub): `audio/wav` payloads go through [[WavCodec]], a real pure-JVM
  * RIFF/WAVE chunk-walking parser, and their features are audio
  * statistics of the decoded PCM samples; any other content type falls
  * back to a byte-histogram featurizer (a legitimate content-agnostic
  * signature for unknown binaries, not a placeholder). Adding a format
  * (PPM, PNG…) means adding a decoder + a `media_type` branch; schema,
  * partitioning and per-partition lifecycle stay identical.
  */
object Multimodal {

  val FeatureDim = 8

  case class MediaRow(id: Long, media: Array[Byte], media_type: String)
  case class FeatureRow(id: Long, media_type: String, n_bytes: Long, features: Array[Float])

  /** Content-type-agnostic fallback featurizer: normalized byte-histogram
    * projections (formerly the documented decode stub; kept as the
    * unknown-binary branch of the dispatch).
    */
  private[pipeline] def byteHistogram(bytes: Array[Byte]): Array[Float] = {
    val f = new Array[Float](FeatureDim)
    var i = 0
    while (i < bytes.length) {
      f(i % FeatureDim) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    if (bytes.length > 0) {
      var j = 0
      while (j < FeatureDim) { f(j) /= bytes.length; j += 1 }
    }
    f
  }

  /** Audio features from REAL decoded PCM: [mean, rms, zero-crossing
    * rate, peak, quarter-band rms ×4], amplitudes normalized to [-1, 1].
    */
  private[pipeline] def wavFeatures(bytes: Array[Byte]): Array[Float] = {
    val (_, s) = WavCodec.decode(bytes)
    val n = s.length
    val f = new Array[Float](FeatureDim)
    if (n == 0) return f
    var sum = 0L; var sq = 0.0; var zc = 0; var peak = 0
    var i = 0
    while (i < n) {
      val v = s(i).toInt
      sum += v; sq += v.toDouble * v
      if (math.abs(v) > peak) peak = math.abs(v)
      if (i > 0 && ((v >= 0) != (s(i - 1) >= 0))) zc += 1
      i += 1
    }
    f(0) = (sum.toDouble / n / 32768.0).toFloat
    f(1) = (math.sqrt(sq / n) / 32768.0).toFloat
    f(2) = if (n > 1) zc.toFloat / (n - 1) else 0f
    f(3) = peak / 32768.0f
    var q = 0
    while (q < 4) {
      val from = q * n / 4; val until = (q + 1) * n / 4
      var bsq = 0.0; var j = from
      while (j < until) { bsq += s(j).toDouble * s(j); j += 1 }
      f(4 + q) = if (until > from) (math.sqrt(bsq / (until - from)) / 32768.0).toFloat else 0f
      q += 1
    }
    f
  }

  /** Image features from REAL decoded P6 pixels: [mean R, mean G,
    * mean B, mean luma, quadrant lumas ×4], channels normalized to
    * [0, 1].
    */
  private[pipeline] def ppmFeatures(bytes: Array[Byte]): Array[Float] = {
    val img = PpmCodec.decode(bytes)
    val f = new Array[Float](FeatureDim)
    val n = img.width * img.height
    if (n == 0) return f
    var sr = 0L; var sg = 0L; var sb = 0L
    val quad = new Array[Long](4)
    val quadN = new Array[Long](4)
    var p = 0
    while (p < n) {
      val r = img.rgb(3 * p) & 0xff
      val g = img.rgb(3 * p + 1) & 0xff
      val b = img.rgb(3 * p + 2) & 0xff
      sr += r; sg += g; sb += b
      val x = p % img.width; val y = p / img.width
      val q = (if (y * 2 >= img.height) 2 else 0) + (if (x * 2 >= img.width) 1 else 0)
      quad(q) += (r * 299L + g * 587L + b * 114L) / 1000L
      quadN(q) += 1
      p += 1
    }
    f(0) = sr.toFloat / n / 255f
    f(1) = sg.toFloat / n / 255f
    f(2) = sb.toFloat / n / 255f
    f(3) = (sr * 299L + sg * 587L + sb * 114L).toFloat / 1000f / n / 255f
    var q = 0
    while (q < 4) {
      f(4 + q) = if (quadN(q) > 0) quad(q).toFloat / quadN(q) / 255f else 0f
      q += 1
    }
    f
  }

  /** Per-partition decode: one decoder context per partition, streaming
    * iterator in/out (constant memory regardless of partition size).
    * Dispatch on content type — real WAV parse for `audio/wav`, real P6
    * parse for `image/ppm`, byte-histogram signature otherwise.
    */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[FeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // decoder/codec init happens HERE, once per partition
      rows.map { r =>
        val feats = r.media_type match {
          case "audio/wav" => wavFeatures(r.media)
          case "image/ppm" => ppmFeatures(r.media)
          case _           => byteHistogram(r.media)
        }
        FeatureRow(r.id, r.media_type, r.media.length.toLong, feats)
      }
    }
  }

  /** Deterministic per-document synthetic PCM: n = 200 + id%57 samples,
    * s_k = ((id·7919 + k·104729) mod 65536) − 32768 — closed-form, so the
    * DuckDB oracle regenerates the identical samples without touching the
    * WAV bytes. The ENGINE path, by contrast, round-trips them through a
    * real RIFF encode + chunk-walking decode, so oracle equality witnesses
    * the codec, not just the arithmetic.
    */
  private[pipeline] def syntheticSamples(id: Long): Array[Short] = {
    val n = (200 + id % 57).toInt
    Array.tabulate(n)(k =>
      (Math.floorMod(id * 7919L + k.toLong * 104729L, 65536L) - 32768L).toShort)
  }

  /** Oracle-gated WAV round-trip statistics: synthesize → RIFF-encode →
    * chunk-walk decode → integer-exact sample aggregates; the division /
    * sqrt / 6dp-round happen in Spark expressions (the engine-wide
    * cross-engine float contract). `sample_rate` is the value PARSED from
    * the fmt chunk — a constant only if the header survived the trip.
    */
  def wavStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        // codec context init once per partition (decodeFeatures contract)
        ids.map { id =>
          val (rate, s) = WavCodec.decode(WavCodec.encode(syntheticSamples(id)))
          var sum = 0L; var sq = 0L; var zc = 0L; var peak = 0L
          var i = 0
          while (i < s.length) {
            val v = s(i).toLong
            sum += v; sq += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (i > 0 && ((v >= 0) != (s(i - 1) >= 0))) zc += 1
            i += 1
          }
          (id, rate.toLong, s.length.toLong, sum, sq, zc, peak)
        }
      }
      .toDF("id", "sample_rate", "n_samples", "sum_amp", "sum_sq", "zero_crossings", "peak")
    agg.select(col("id"), col("sample_rate"), col("n_samples"),
      round(col("sum_amp").cast("double") / col("n_samples"), 6).as("mean_amp"),
      round(sqrt(col("sum_sq").cast("double") / col("n_samples")), 6).as("rms"),
      col("zero_crossings"), col("peak"))
  }

  /** Oracle-gated audio RESAMPLE: synthesize → RIFF-encode → chunk-walk
    * decode → nearest-sample resample to a fixed `outN` samples
    * (out[i] = in[⌊i·n/outN⌋], the same integer-exact index map as the
    * image resize) → integer stats plus the position-weighted checksum
    * (Σ (i+1)·vᵢ) that fails any wrong-ORDER rendering. Fixed output
    * length is what makes downstream batch geometry independent of clip
    * length — the audio leg of the resize contract. Pure map-side.
    */
  def wavResampleStats(spark: SparkSession, dir: String, outN: Int = 128): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (_, s) = WavCodec.decode(WavCodec.encode(syntheticSamples(id)))
          var i = 0; var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
          var ck = 0L
          while (i < outN) {
            val v = s((i * s.length) / outN).toLong
            sum += v; if (v < mn) mn = v; if (v > mx) mx = v
            ck += (i + 1L) * v
            i += 1
          }
          (id, outN.toLong, sum, mn, mx, ck)
        }
      }
      .toDF("id", "n_out", "sum_amp", "min_amp", "max_amp", "checksum")
  }

  /** documents.text as the stand-in binary payload → feature table. */
  def documentFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("media"),
        col("lang").as("media_type"))
      .as[MediaRow]
    decodeFeatures(media).toDF()
  }

  /** Deterministic per-document synthetic RGB raster: w = 8 + id%9,
    * h = 6 + id%7, channel byte = (id·31 + idx·17) mod 256 at flat
    * index idx = 3·(y·w + x) + c — closed-form for the oracle, real
    * P6 round-trip for the engine (the [[syntheticSamples]] pattern).
    */
  private[pipeline] def syntheticImage(id: Long): PpmCodec.Image = {
    val w = (8 + id % 9).toInt
    val h = (6 + id % 7).toInt
    val rgb = Array.tabulate(3 * w * h)(idx =>
      Math.floorMod(id * 31L + idx.toLong * 17L, 256L).toByte)
    PpmCodec.Image(w, h, rgb)
  }

  /** Oracle-gated PPM round-trip statistics: synthesize → P6-encode →
    * header-parse decode → integer-exact channel aggregates; divisions
    * and 6dp rounds in Spark expressions (the cross-engine contract).
    * `width`/`height` are the values PARSED from the header, and
    * `max_luma_milli` is the max of the integer luma 299·R+587·G+114·B
    * over decoded pixels — header and raster both witnessed.
    */
  def ppmStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        // codec context init once per partition (decodeFeatures contract)
        ids.map { id =>
          val img = PpmCodec.decode(PpmCodec.encode(syntheticImage(id)))
          val n = img.width * img.height
          var sr = 0L; var sg = 0L; var sb = 0L; var maxLuma = 0L
          var p = 0
          while (p < n) {
            val r = img.rgb(3 * p) & 0xff
            val g = img.rgb(3 * p + 1) & 0xff
            val b = img.rgb(3 * p + 2) & 0xff
            sr += r; sg += g; sb += b
            val luma = r * 299L + g * 587L + b * 114L
            if (luma > maxLuma) maxLuma = luma
            p += 1
          }
          (id, img.width.toLong, img.height.toLong, n.toLong, sr, sg, sb, maxLuma)
        }
      }
      .toDF("id", "width", "height", "n_pixels", "sum_r", "sum_g", "sum_b", "max_luma_milli")
    agg.select(col("id"), col("width"), col("height"), col("n_pixels"),
      round(col("sum_r").cast("double") / col("n_pixels"), 6).as("mean_r"),
      round(col("sum_g").cast("double") / col("n_pixels"), 6).as("mean_g"),
      round(col("sum_b").cast("double") / col("n_pixels"), 6).as("mean_b"),
      col("max_luma_milli"))
  }

  /** Oracle-gated image RESIZE: synthesize → P6-encode → decode →
    * nearest-neighbor resize to a fixed (16×12) target → integer-exact
    * channel stats plus a POSITION-WEIGHTED checksum (Σ (p+1)·luma_milli
    * over destination pixels p), so a resize that produced the right
    * multiset of pixels in the wrong ORDER still fails the gate. The
    * oracle regenerates the same figures closed-form from the synthetic
    * raster formula and the ⌊x·w/W⌋ index map — the decode/resize pair
    * runs only engine-side, over real P6 bytes.
    *
    * This is the "resize" leg of the decode / feature-extract / resize /
    * frame-sample multimodal quartet: a fixed target shape is what makes
    * downstream batch geometry independent of source resolution. Pure
    * map-side (mapPartitions, codec context per partition); nothing
    * shuffles but the final one-row-per-image stats.
    */
  def ppmResizeStats(spark: SparkSession, dir: String,
                     outW: Int = 16, outH: Int = 12): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val img = PpmCodec.resizeNearest(
            PpmCodec.decode(PpmCodec.encode(syntheticImage(id))), outW, outH)
          val n = img.width * img.height
          var sr = 0L; var sg = 0L; var sb = 0L; var checksum = 0L
          var p = 0
          while (p < n) {
            val r = img.rgb(3 * p) & 0xff
            val g = img.rgb(3 * p + 1) & 0xff
            val b = img.rgb(3 * p + 2) & 0xff
            sr += r; sg += g; sb += b
            checksum += (p + 1L) * (r * 299L + g * 587L + b * 114L)
            p += 1
          }
          (id, img.width.toLong, img.height.toLong, sr, sg, sb, checksum)
        }
      }
      .toDF("id", "out_w", "out_h", "sum_r", "sum_g", "sum_b", "checksum")
  }

  /** The scaled-variant corpus for image near-dup detection: documents in
    * the same `id / 5` group are nearest-neighbor RESIZES of one shared
    * base image (the classic perceptual-dedup scenario — same picture,
    * different resolution), round-tripped through real P6 bytes at every
    * stage so the codec is exercised, not just the math.
    */
  def syntheticVariant(id: Long): PpmCodec.Image = {
    val base = PpmCodec.decode(PpmCodec.encode(syntheticPhashBase(id / 5)))
    val vw = (8 + id % 5).toInt
    val vh = (6 + id % 4).toInt
    PpmCodec.decode(PpmCodec.encode(PpmCodec.resizeNearest(base, vw, vh)))
  }

  /** Base raster for the perceptual-hash corpus. Differs from
    * [[syntheticImage]] by the bid·j CROSS term: without it the raster is
    * base + constant-per-bid, every base thresholds to the SAME bit
    * pattern, and distinct images collide at Hamming 0 (measured: 102
    * cross-group hash-0 pairs at sf0.001). The cross term decorrelates
    * bases while staying closed-form for the DuckDB oracle.
    */
  private def syntheticPhashBase(bid: Long): PpmCodec.Image = {
    val w = (8 + bid % 9).toInt
    val h = (6 + bid % 7).toInt
    val rgb = Array.tabulate(3 * w * h)(j =>
      Math.floorMod(bid * 31L + j.toLong * 17L + bid * j.toLong * 13L, 256L).toByte)
    PpmCodec.Image(w, h, rgb)
  }

  /** Image near-duplicate pairs by average-hash (aHash): decode → resize
    * to the 8×8 thumbnail → 64 integer lumas → one bit per pixel
    * (luma·64 ≥ Σluma, integer-exact on both engines) → candidates via
    * the SimHash byte-block trick (pairs sharing ≥1 of the 8 aligned hash
    * bytes) → verified Hamming ≤ `maxHam`. With maxHam < 8 the pigeonhole
    * guarantee holds: any pair within the radius shares a clean byte and
    * is NEVER missed by the candidate stage — same recall contract as
    * `dedup_simhash`.
    *
    * Scale: hashing is pure map-side (per-partition codec lifecycle);
    * the candidate join shuffles 8 byte-rows per image (never pixels or
    * media bytes); verification touches candidates only. This is the
    * image twin of the text near-dup stack — the base image id is the
    * ground-truth cluster, and the DuckDB oracle recomputes the whole
    * thing closed-form from the synthetic raster + ⌊x·w/W⌋ index maps
    * (the `ppmResizeStats` witnessing trick), so the codec path is
    * hash-gated end to end.
    */
  def phashPairs(spark: SparkSession, dir: String, maxHam: Int = 7): DataFrame =
    phashPairsFrom(Tables.documents(spark, dir).select(col("doc_id")), maxHam)

  /** The SCALE operating point: multi-index Hamming search (Norouzi et
    * al.) — the same 64-bit aHash split into 4×16-bit substrings instead
    * of 8 bytes, radius 3. Pigeonhole still guarantees full recall at
    * ham ≤ 3, and per-substring buckets have 65,536 values instead of
    * 256 — the candidate join is ~256× more selective, which is the
    * difference between n²/256 and n²/65,536 in the no-structure limit
    * (measured in `BENCH_SCALE_fingerprint.json`). Trade: planted pairs
    * at ham 4–7 are out of radius (53% of planted recovered at sf0.01,
    * ZERO false positives, vs 100%/5 for the byte-block form).
    */
  def phashPairsMih(spark: SparkSession, dir: String): DataFrame =
    phashPairsFrom(Tables.documents(spark, dir).select(col("doc_id")),
      maxHam = 3, blockBits = 16)

  /** `phashPairs` over an arbitrary doc_id frame — the scale sweep's entry
    * point (`BenchScaleFingerprint` feeds replicated id ranges through).
    * `blockBits` selects the substring width (8 = high-recall byte blocks,
    * 16 = the multi-index scale form).
    */
  def phashPairsFrom(idsIn: DataFrame, maxHam: Int = 7, blockBits: Int = 8): DataFrame =
    blockHammingPairs(phashBlocksFrom(idsIn, blockBits), maxHam)

  /** The aHash stage alone: (doc_id, bs) with the 64-bit hash split into
    * `blockBits`-wide substrings — shared by the byte-block and probed
    * pair forms so hashing happens once per plan.
    */
  private def phashBlocksFrom(idsIn: DataFrame, blockBits: Int): DataFrame = {
    val spark = idsIn.sparkSession
    import spark.implicits._
    idsIn
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val small = PpmCodec.resizeNearest(syntheticVariant(id), 8, 8)
          val lum = new Array[Long](64)
          var total = 0L
          var p = 0
          while (p < 64) {
            val r = small.rgb(3 * p) & 0xff
            val g = small.rgb(3 * p + 1) & 0xff
            val b = small.rgb(3 * p + 2) & 0xff
            lum(p) = 299L * r + 587L * g + 114L * b
            total += lum(p)
            p += 1
          }
          val bs = Array.tabulate(64 / blockBits) { bi =>
            var v = 0
            var i = 0
            while (i < blockBits) {
              if (lum(bi * blockBits + i) * 64L >= total) v |= (1 << i)
              i += 1
            }
            v
          }
          (id, bs)
        }
      }
      .toDF("doc_id", "bs")
  }

  /** Shared byte-block LSH tail for the perceptual fingerprints: pairs
    * sharing ≥1 aligned hash byte → verified Hamming ≤ maxHam. With
    * maxHam < nBlocks the pigeonhole guarantee holds. Shuffles only
    * (doc_id, byte) rows; verification touches candidates only.
    */
  private def blockHammingPairs(raw: DataFrame, maxHam: Int): DataFrame = {
    val blocks = raw.localCheckpoint() // hash once; candidate + verify reuse it
    verifyHamming(blocks, exactCandidates(blocks), maxHam)
  }

  /** Exact-key candidate stage: pairs sharing ≥1 aligned block value. */
  private def exactCandidates(blocks: DataFrame): DataFrame = {
    val ex = blocks.select(col("doc_id"), posexplode(col("bs")))
      .select(col("doc_id"), col("pos").as("bi"), col("col").as("bv"))
    ex.as("x").join(ex.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Verification tail: exact Hamming over the full fingerprint, candidates
    * only. `blocks` carries the hash in ANY block granularity — XOR popcount
    * over aligned sub-blocks equals the whole-hash distance.
    */
  private def verifyHamming(blocks: DataFrame, cand: DataFrame, maxHam: Int): DataFrame =
    cand
      .join(blocks.select(col("doc_id").as("doc_a"), col("bs").as("bsa")), Seq("doc_a"))
      .join(blocks.select(col("doc_id").as("doc_b"), col("bs").as("bsb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("aggregate(zip_with(bsa, bsb, (a, b) -> bit_count(a ^ b)), 0L, (s, x) -> s + x)")
          .as("hamming"))
      .filter(col("hamming") <= maxHam)

  /** Widen an 8-bit block frame to aligned 16-bit substrings: block `k`
    * covers hash bits [16k, 16k+16) with bit `i` at weight `1 << i`, so
    * `bs16(k) = bs8(2k) + 256·bs8(2k+1)` reproduces EXACTLY the substrings
    * a 16-bit hasher would emit — one hashing pass serves both splits.
    */
  private def widen16(blocks8: DataFrame): DataFrame =
    blocks8.select(col("doc_id"),
      expr("transform(sequence(0, size(bs) div 2 - 1), k -> bs[2*k] + 256 * bs[2*k+1])")
        .as("bs"))

  /** Probe-expanded multi-index candidates (Norouzi's MIH search form): the
    * probe side emits, per 16-bit substring, the value itself plus its
    * `perBlockRadius`-bit perturbations (radius 1 → 17 keys); the build
    * side keeps exact values. Pigeonhole at the SAME radius as the
    * byte-block form: ham(a,b) ≤ maxHam over `nb` substrings ⟹ some
    * substring pair is within ⌊maxHam/nb⌋, and that substring of b is one
    * of a's probes — so recall at maxHam is exact, not a tighter-radius
    * approximation like [[phashPairsMih]]. Selectivity: 17 probe keys over
    * a 65,536-value space ≈ n²·17/65,536 random-limit candidates per
    * substring vs the byte split's n²/256 — ~55× fewer, bought with a 17×
    * wider (but skinny) probe explode.
    */
  private def probedCandidates(b16: DataFrame, perBlockRadius: Int): DataFrame = {
    // probe generation only covers radius ≤ 1 (identity + 16 single-bit
    // flips) — a wider radius would silently LOSE recall (missing pairs),
    // so unsupported radii must fail loud, not return incomplete results
    require(perBlockRadius <= 1,
      s"probedCandidates generates radius-≤1 probes only, got perBlockRadius=$perBlockRadius")
    val ex = b16.select(col("doc_id"), posexplode(col("bs")))
      .select(col("doc_id"), col("pos").as("bi"), col("col").as("bv"))
    val probeCols = Seq(col("bv")) ++
      (if (perBlockRadius >= 1) (0 until 16).map(i => col("bv").bitwiseXOR(lit(1 << i)))
       else Seq.empty)
    val probed = ex.select(col("doc_id"), col("bi"),
      explode(array(probeCols: _*)).as("bv"))
    probed.as("x").join(ex.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Image dedup COLLAPSE: connected components over the multi-index
    * fingerprint pairs (shared pointer-jumping labeler), then keep the
    * highest-RESOLUTION variant per cluster (area desc, ties to low id) —
    * "of all scaled copies of one picture, keep the sharpest". The image
    * twin of `dedup_keep_best`: components bound label propagation to the
    * verified pair graph, singletons keep themselves, and the output is
    * one keeper row per cluster with its member count.
    */
  def phashClusters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = phashPairsMih(spark, dir).select(col("doc_a"), col("doc_b"))
    val labels = Dedup.clusterLabels(pairs, Tables.documents(spark, dir).select(col("doc_id")))
    val area = (pmod(col("doc_id"), lit(5L)) + lit(8L)) * (pmod(col("doc_id"), lit(4L)) + lit(6L))
    labels
      .withColumn("area", area.cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id")).orderBy(col("area").desc, col("doc_id").asc)))
      .withColumn("n_members", count(lit(1)).over(
        Window.partitionBy(col("cluster_id"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"), col("area"),
        col("n_members"))
  }

  /** Audio dedup collapse — the clip twin of [[phashClusters]]: components
    * over the radius-1 multi-index fingerprint pairs, keep the LONGEST
    * variant per cluster (sample count desc, ties to low id — "of all
    * resamples of one recording, keep the highest-rate copy").
    */
  def afpClusters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = afpPairsMih(spark, dir).select(col("doc_a"), col("doc_b"))
    val labels = Dedup.clusterLabels(pairs, Tables.documents(spark, dir).select(col("doc_id")))
    labels
      .withColumn("n_samples", (pmod(col("doc_id"), lit(97L)) + lit(160L)).cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id")).orderBy(col("n_samples").desc, col("doc_id").asc)))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"), col("n_samples"),
        col("n_members"))
  }

  /** Base clip for the audio-fingerprint corpus: 16-sample plateaus (a
    * smooth energy envelope — white noise would decorrelate under
    * nearest-sample decimation and no fingerprint could survive a
    * resample), with a bid·p² cross term so plateau PATTERNS differ
    * across clips (measured: 6 cross-group pairs vs 972 planted at
    * Hamming ≤ 2 over 500 docs; the linear form gave 591).
    */
  def syntheticAudioBase(bid: Long): Array[Short] = {
    val n = (200 + bid % 57).toInt
    Array.tabulate(n) { k =>
      val p = (k / 16).toLong
      (Math.floorMod(bid * 7919L + p * 104729L + bid * p * p * 13L, 65536L) - 32768L).toShort
    }
  }

  /** The resampled-variant clip: documents in the same `id / 5` group are
    * nearest-sample RESAMPLES of one shared base clip (same recording,
    * different sample count), WAV round-tripped at every stage.
    */
  def syntheticAudioVariant(id: Long): Array[Short] = {
    val base = WavCodec.decode(WavCodec.encode(syntheticAudioBase(id / 5)))._2
    val nv = (160 + id % 97).toInt
    val v = Array.tabulate(nv)(i => base((i * base.length) / nv))
    WavCodec.decode(WavCodec.encode(v))._2
  }

  /** Audio near-duplicate pairs by energy-delta fingerprint (the
    * Haitsma–Kalker shape without the FFT: band energies → sign of the
    * neighbor delta): decode → nearest-resample to 256 samples → 32
    * window energies Σ|v| → one bit per window (E_w > E_{w−1}, circular)
    * → 4 hash bytes → byte-block candidates → verified Hamming ≤
    * `maxHam` (< 4 keeps the pigeonhole recall guarantee). A resampled
    * copy preserves the envelope, so variants of one clip collide —
    * the audio twin of `multimodal_phash_pairs`, same closed-form
    * DuckDB replay through the nested floor index maps.
    */
  def afpPairs(spark: SparkSession, dir: String, maxHam: Int = 2): DataFrame =
    afpPairsFrom(Tables.documents(spark, dir).select(col("doc_id")), maxHam)

  /** Audio multi-index scale form: 2×16-bit substrings, radius 1 (851 of
    * 852 pairs same-group at sf0.01 — near-zero false positives at ~256×
    * candidate selectivity).
    */
  def afpPairsMih(spark: SparkSession, dir: String): DataFrame =
    afpPairsFrom(Tables.documents(spark, dir).select(col("doc_id")),
      maxHam = 1, blockBits = 16)

  /** `afpPairs` over an arbitrary doc_id frame (scale-sweep entry point). */
  def afpPairsFrom(idsIn: DataFrame, maxHam: Int = 2, blockBits: Int = 8): DataFrame =
    blockHammingPairs(afpBlocksFrom(idsIn, blockBits), maxHam)

  /** The audio-fingerprint stage alone (32-bit hash in `blockBits`-wide
    * substrings) — shared by the byte-block and probed pair forms.
    */
  private def afpBlocksFrom(idsIn: DataFrame, blockBits: Int): DataFrame = {
    val spark = idsIn.sparkSession
    import spark.implicits._
    idsIn
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val v = syntheticAudioVariant(id)
          val t = Array.tabulate(256)(i => v((i * v.length) / 256))
          val e = Array.tabulate(32) { w =>
            var s = 0L
            var i = 0
            while (i < 8) { s += math.abs(t(8 * w + i).toLong); i += 1 }
            s
          }
          val bits = Array.tabulate(32)(w => if (e(w) > e((w + 31) % 32)) 1 else 0)
          val bs = Array.tabulate(32 / blockBits) { bi =>
            (0 until blockBits).foldLeft(0)((acc, i) => acc | (bits(bi * blockBits + i) << i))
          }
          (id, bs)
        }
      }
      .toDF("doc_id", "bs")
  }

  /** Probed-MIH rendering of [[phashPairs]] — SAME radius-7 answer (see
    * [[probedCandidates]]), ~55× more selective candidate keys: the
    * byte-block n²/256 candidate join grows 21–25× in wall under 10× data
    * (`BENCH_SCALE_fingerprint.json`).
    */
  def phashPairsProbed(spark: SparkSession, dir: String, maxHam: Int = 7): DataFrame =
    phashPairsProbedFrom(Tables.documents(spark, dir).select(col("doc_id")), maxHam)

  def phashPairsProbedFrom(idsIn: DataFrame, maxHam: Int = 7): DataFrame = {
    // 4 16-bit substrings at 1-bit probes cover ham ≤ 2·4−1 by pigeonhole
    require(maxHam < 8, s"phash probed-MIH at 1-bit probes covers maxHam < 8, got $maxHam")
    val blocks8 = phashBlocksFrom(idsIn, 8).localCheckpoint()
    verifyHamming(blocks8, probedCandidates(widen16(blocks8), maxHam / 4), maxHam)
  }

  /** Probed-MIH rendering of [[afpPairs]] — same radius-2 answer. */
  def afpPairsProbed(spark: SparkSession, dir: String, maxHam: Int = 2): DataFrame =
    afpPairsProbedFrom(Tables.documents(spark, dir).select(col("doc_id")), maxHam)

  def afpPairsProbedFrom(idsIn: DataFrame, maxHam: Int = 2): DataFrame = {
    // 2 16-bit substrings at 1-bit probes cover ham ≤ 2·2−1 by pigeonhole
    require(maxHam < 4, s"afp probed-MIH at 1-bit probes covers maxHam < 4, got $maxHam")
    val blocks8 = afpBlocksFrom(idsIn, 8).localCheckpoint()
    verifyHamming(blocks8, probedCandidates(widen16(blocks8), maxHam / 2), maxHam)
  }

  /** The registry's `multimodal_phash_pairs` entry, kept under its name:
    * [[phashPairsProbed]], which beats the byte-block rendering at 1× and
    * 10× for both families (`BENCH_SCALE_fingerprint.json`).
    */
  def phashPairsAdaptive(spark: SparkSession, dir: String, maxHam: Int = 7): DataFrame =
    phashPairsProbed(spark, dir, maxHam)

  /** The registry's `multimodal_afp_pairs` entry: [[afpPairsProbed]]. */
  def afpPairsAdaptive(spark: SparkSession, dir: String, maxHam: Int = 2): DataFrame =
    afpPairsProbed(spark, dir, maxHam)

  /** One sampled frame: position, time offset, decoded features. */
  case class FrameRow(id: Long, media_type: String, n_frames: Long,
                      frame_idx: Long, t_offset_ms: Long, features: Array[Float])

  val FrameBytes = 8      // stand-in: 8 payload bytes per "frame"
  val FrameMs = 40L       // 25 fps

  /** Uniform k-frame sampling over a video-ish payload — the
    * frame-sample preprocessing a video pipeline runs before per-frame
    * embedding. Frame geometry (here: fixed-size byte windows at 25 fps)
    * comes from metadata in production; sampling picks k uniformly spaced
    * indices j·(n−1)/(k−1) (every frame when n ≤ k), so clip length
    * doesn't change the downstream batch shape. Same per-partition
    * decoder lifecycle as [[decodeFeatures]]; the per-frame featurizer is
    * the byte-histogram signature over the frame's byte window (text
    * payloads carry no codec), everything else — schema, explode shape,
    * partitioning — is the production contract.
    */
  def sampleFrames(media: Dataset[MediaRow], k: Int = 4): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // decoder/codec context init once per partition, as in decodeFeatures
      rows.flatMap { r =>
        val nFrames = math.max(1L, r.media.length.toLong / FrameBytes)
        val idxs =
          if (nFrames <= k) 0L until nFrames
          else (0 until k).map(j => j.toLong * (nFrames - 1) / (k - 1))
        idxs.distinct.map { i =>
          val from = (i * FrameBytes).toInt
          val frame = r.media.slice(from, math.min(from + FrameBytes, r.media.length))
          FrameRow(r.id, r.media_type, nFrames, i, i * FrameMs, byteHistogram(frame))
        }
      }
    }
  }

  /** Oracle-checkable frame-sample projection: same sampling geometry,
    * frame content witnessed by an md5 of the frame window (replayable in
    * any engine) instead of the stubbed decode.
    */
  def documentFrames(spark: SparkSession, dir: String, k: Int = 4): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("media_type"),
        greatest(lit(1L), expr(s"length(text) div $FrameBytes")).as("n_frames"),
        col("text"))
      .select(col("doc_id"), col("media_type"), col("n_frames"), col("text"),
        explode(when(col("n_frames") <= k,
            sequence(lit(0L), col("n_frames") - 1))
          .otherwise(expr(s"transform(sequence(0, ${k - 1}), " +
            s"j -> CAST(j AS BIGINT) * (n_frames - 1) DIV ${k - 1})"))).as("frame_idx"))
      .distinct() // short clips can repeat an index under uniform spacing
      .select(col("doc_id"), col("media_type"), col("n_frames"), col("frame_idx"),
        (col("frame_idx") * FrameMs).as("t_offset_ms"),
        md5(expr(s"CAST(substring(text, CAST(frame_idx * $FrameBytes AS INT) + 1, " +
          s"$FrameBytes) AS BINARY)")).as("frame_hash"))
}
