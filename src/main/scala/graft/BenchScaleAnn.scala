package graft

import org.apache.spark.sql.functions._

/** ANN scale-sweep: the 10× corpus evidence for the blocked/quantized
  * search paths, recorded as a first-class artifact (the same contract as
  * `BenchScale` for the dedup joins — measured, written, enforced).
  *
  * Replicates the sf `embeddings` table `SPARK_GRAFT_SCALE_FACTOR` times
  * (default 10) with vec_ids shifted per replica and every element
  * perturbed by a deterministic per-(replica, position) offset large
  * enough that replicas are NOT each other's nearest neighbors — with a
  * tiny perturbation each query's top-k is just its own replicas, every
  * blocked method finds them in-bucket, and recall is vacuously 1. Times
  * brute / LSH / IVF / int8-quantized top-k at the scaled corpus, then
  * computes each approximate method's recall against the brute top-k ON
  * THE SAME scaled corpus. Writes `BENCH_SCALE_ann.json` and prints the
  * JSON as the last stdout line.
  *
  * Validity gates (after the artifact is written, like the dedup sweep):
  * quantized recall must stay ≥ 0.8 (int8 keeps ~2 decimal digits of
  * cosine — if the ranking collapses, the quantizer is broken, not
  * approximate) and the blocked methods must return non-empty results.
  *
  * Beyond the full first-factor leg, `SPARK_GRAFT_SCALE_FACTORS` (default
  * `10,100`) adds focused big legs — the exact-×factor treatment the
  * ER/TPC-H/graph families already have: at each extra factor the
  * scale-path operating points (brute oracle, multi-table LSH, IVF,
  * tuned IVF-PQ, JL-rerank) are re-timed and re-gated (non-empty, recall
  * floors, candidate-touch signal) on the 100×-replicated corpus, with
  * the artifact flushed after every leg.
  */
object BenchScaleAnn extends Sweep.Family[Sweep.Leg] {

  def enforce(quantRecall: Double, lshRows: Long, ivfRows: Long,
              pqRecall: Double = 1.0, ivfpqRows: Long = 1L): Unit = {
    if (quantRecall < 0.8)
      throw new IllegalStateException(
        s"quantized recall $quantRecall < 0.8: artifact written but the run is INVALID")
    if (lshRows == 0 || ivfRows == 0 || ivfpqRows == 0)
      throw new IllegalStateException(
        s"blocked method returned no rows (lsh=$lshRows, ivf=$ivfRows, " +
          s"ivfpq=$ivfpqRows): run INVALID")
    // 16 codes per 64-dim vector is lossy by design, but the ranking must
    // carry real signal: far above the k/N random floor (~1e-5 at 10×)
    if (pqRecall < 0.05)
      throw new IllegalStateException(
        s"PQ recall $pqRecall < 0.05 — codes carry no signal: run INVALID")
  }

  /** HARD recall floors for the tuned production operating points
    * (round-8 directive: the default-point recalls — lsh 0.14, pq 0.26 —
    * are honest records of cheap configurations, but a usable engine must
    * ship a configuration that clears a real bar, and the bar must bite).
    * The 0.5 floors sit below the `AnnCalibrate`-measured points on this
    * adversarial near-random corpus (lsh_mt b8/L16 0.58 at 6% touch,
    * pq_t+rerank50 0.62, ivfpq_t+rerank50 0.62) by a drift margin, far
    * above the cheap defaults they repair.
    */
  def enforceTuned(lshMtRecall: Double, pqTunedRecall: Double,
                   ivfpqTunedRecall: Double): Unit = {
    if (lshMtRecall < 0.5)
      throw new IllegalStateException(
        s"multi-table LSH recall $lshMtRecall < 0.5: run INVALID")
    if (pqTunedRecall < 0.5)
      throw new IllegalStateException(
        s"tuned PQ recall $pqTunedRecall < 0.5: run INVALID")
    if (ivfpqTunedRecall < 0.5)
      throw new IllegalStateException(
        s"tuned IVF-PQ recall $ivfpqTunedRecall < 0.5: run INVALID")
  }

  /** The planted-cluster eval corpus: each base vector gets `groups − 1`
    * near-duplicate variants (ids `base + g·1e7`, ~1% element jitter from
    * a deterministic (g, position) formula with a g·p cross term so
    * sibling deltas decorrelate). With groups = k + 1 the brute top-k of
    * every query (a g = 0 base, also the IVF/PQ seed range — seed ids
    * stay DISTINCT base vectors under this layout) is exactly its planted
    * sibling set (sibling cosine ≈ 0.99 vs ≈ 0.1 cross-base), so
    * recall-vs-brute here measures recovery of GENUINE neighbors — on the
    * raw synthetic corpus the brute top-k is a noise ranking of near-ties
    * (memory: adversarial cosine margins) and even a perfect index scores
    * low. Both operating points matter: the random corpus gates shortlist
    * robustness at zero margin, the planted corpus gates the production
    * property (find the real near-duplicates).
    */
  def plantedVecsFrom(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                      groups: Int = 6): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    (0 until groups)
      .map { g =>
        if (g == 0) e
        else e.select((col("vec_id") + lit(g.toLong * Shift)).as("vec_id"),
          transform(col("embedding"),
            (x, p) => x + lit(0.01f) *
              (pmod(p * 13 + lit(g * 7) + p * lit(g * 3), lit(5)).cast("float") - lit(2.0f)))
            .as("embedding"))
      }
      .reduce(_ union _)
  }

  /** HARD floors on the planted corpus: the tuned points must find ≥ 80%
    * of genuine planted neighbors (round-9 directive — 0.5/0.6 floors on
    * the adversarial random corpus say nothing about production recall).
    */
  def enforcePlanted(recalls: Map[String, Double], sameGroupFrac: Double): Unit = {
    if (sameGroupFrac < 0.9)
      throw new IllegalStateException(
        s"planted ANN eval invalid: only $sameGroupFrac of brute pairs are " +
          "same-group — the planted structure did not dominate the ranking")
    Seq("lsh_mt", "pq_t", "ivfpq_t").foreach { k =>
      if (recalls(k) < 0.8)
        throw new IllegalStateException(
          s"planted recall $k = ${recalls(k)} < 0.8: run INVALID")
    }
  }

  private val Shift = 10000000L

  /** The sweep corpus: `factor` perturbed replicas (shifted ids, per-
    * (replica, position) element offsets large enough that replicas are
    * not each other's nearest neighbors) — shared with `AnnCalibrate`.
    */
  def scaledVecsFrom(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                     factor: Int): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    (0 until factor)
      .map { i =>
        e.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, p) => x + lit(0.05f) * lit(i.toFloat) *
              (pmod(p * 7 + lit(i), lit(5)).cast("float") - lit(2.0f))).as("embedding"))
      }
      .reduce(_ union _)
  }

  val artifactFile = "BENCH_SCALE_ann.json"

  /** The first factor is the FULL leg (all 11 variants, both query loads,
    * planted + ceiling evals); each further factor gets the focused big
    * leg — the ANN family's exact-×factor sweep story (round-13 verdict
    * item 5).
    */
  def legs(c: Sweep.Ctx): Iterator[Sweep.Leg] =
    c.factors.iterator.zipWithIndex.map {
      case (f, 0) => fullLeg(c, f)
      case (f, _) => bigLeg(c, f)
    }

  def artifact(c: Sweep.Ctx, done: Seq[Sweep.Leg]): Sweep.Fields =
    Seq("metric" -> "scale_sweep_ann", "sf" -> c.sfDir, "factor" -> c.factor, "reps" -> c.reps) ++
      done.take(1).flatMap(_.fields) ++ Seq("factors" -> c.factors,
        "legs" -> Sweep.obj(done.drop(1).map(l => l.name -> Sweep.obj(l.fields: _*)): _*))

  def gates(done: Seq[Sweep.Leg]): Unit = done.foreach(_.gate())

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def fullLeg(c: Sweep.Ctx, factor: Int): Sweep.Leg = {
    val spark = c.spark
    def scaledVecs = scaledVecsFrom(spark, c.sfDir, factor)

    // two query loads: at 10 queries the broadcast brute scan is hard to
    // beat (one pass, tiny probe side); the blocked methods' structural
    // win — each query touches nProbe/nCells of the corpus — shows under
    // query LOAD, so the artifact records both
    // JL two-stage: candidate depth = 2.5% of the scaled corpus — the
    // touch fraction is recorded and the recall gate is relative to it
    val baseCount = Tables.embeddings(spark, c.sfDir).count()
    val jlDepth = ((baseCount * factor) / 40).toInt.max(100)
    val jlTouch = jlDepth.toDouble / (baseCount * factor)

    // tuned production operating points (round-8, picked by AnnCalibrate's
    // measured recall grid): multi-table LSH with 16 independent 8-plane
    // tables (~L/2^b = 6% candidate touch, recall 0.58 measured), PQ with
    // 32 2-dim subspaces (4× less per-subspace distortion at equal
    // codebook size) trained 2 Lloyd rounds + depth-50 exact rerank (the
    // FAISS refine shape — ADC recall@50 ≫ recall@5, and the exact stage
    // touches 50·nQueries vectors regardless of corpus size), IVF-PQ
    // likewise + nProbe 3. The same machinery is oracle-gated at sf as
    // `ann_lsh_multitable` / `ann_pq_tuned` / `ann_pq_rerank` /
    // `ann_ivfpq_tuned` (nTables=4 in the LSH oracle row — tiny-corpus
    // buckets; the table count is the recall knob recorded here)
    def variants(nq: Int): Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "brute" -> (() => pipeline.Similarity.bruteForceTopKFrom(scaledVecs, nQueries = nq)),
      "lsh"   -> (() => pipeline.Similarity.lshTopKFrom(scaledVecs, nQueries = nq)),
      "lsh_mp" -> (() => pipeline.Similarity.lshMultiProbeTopKFrom(scaledVecs, nQueries = nq)),
      "lsh_mt" -> (() => pipeline.Similarity.lshMultiTableTopKFrom(scaledVecs, nQueries = nq, nTables = 16)),
      "ivf"   -> (() => pipeline.Similarity.ivfTopKFrom(scaledVecs, nQueries = nq)),
      "quant" -> (() => pipeline.Similarity.quantTopKFrom(scaledVecs, nQueries = nq)),
      "pq"    -> (() => pipeline.Similarity.pqTopKFrom(scaledVecs, nQueries = nq)),
      "pq_t"  -> (() => pipeline.Similarity.pqTopKFrom(scaledVecs, nQueries = nq, m = 32, iters = 2, rerankDepth = 50)),
      "ivfpq" -> (() => pipeline.Similarity.ivfPqTopKFrom(scaledVecs, nQueries = nq)),
      "ivfpq_t" -> (() => pipeline.Similarity.ivfPqTopKFrom(scaledVecs, nQueries = nq, m = 32, nProbe = 3, iters = 2, rerankDepth = 50)),
      "jl_rr" -> (() => pipeline.Similarity.jlRerankFrom(scaledVecs, nQueries = nq, depth = jlDepth)))

    c.warm(variants(10).map(_._2()): _*)
    def timeAll(nq: Int) = variants(nq).map { case (name, fn) => name -> c.time(fn()) }
    val times = timeAll(10)
    val timesLoaded = timeAll(500)

    // recall vs brute on the SAME scaled corpus (off the clock), at the
    // 10-query load
    val (bruteQ10, approxQ10) = variants(10).partition(_._1 == "brute")
    val brute = pairSet(bruteQ10.head._2())
    val recalls = approxQ10.map { case (n, fn) =>
      val s = pairSet(fn())
      (n, (brute intersect s).size.toDouble / brute.size, s.size.toLong)
    }
    val recall = recalls.map { case (k, r, _) => k -> r }.toMap
    val rows = recalls.map { case (k, _, n) => k -> n }.toMap

    // planted-cluster eval: same tuned operating points, corpus with
    // genuine neighbor structure (see plantedVecsFrom) — recall here is
    // the production number; the random-corpus recalls above are the
    // zero-margin robustness number
    val planted = plantedVecsFrom(spark, c.sfDir)
    val pBrute = pairSet(pipeline.Similarity.bruteForceTopKFrom(planted))
    val sameGroupFrac =
      pBrute.count(p => p._1 % Shift == p._2 % Shift).toDouble / pBrute.size.max(1)
    val pRecalls = Seq(
      "lsh_mt" -> pairSet(pipeline.Similarity.lshMultiTableTopKFrom(planted, nTables = 16)),
      "pq_t" -> pairSet(pipeline.Similarity.pqTopKFrom(planted, m = 32, iters = 2, rerankDepth = 50)),
      "ivfpq_t" -> pairSet(pipeline.Similarity.ivfPqTopKFrom(planted, m = 32, nProbe = 3, iters = 2, rerankDepth = 50)))
      .map { case (n, s) => n -> (pBrute intersect s).size.toDouble / pBrute.size.max(1) }
      .toMap
    c.drop()

    // adversarial-ceiling probe (round-10 stretch): the tuned points sit
    // at 0.58–0.62 recall on this near-random corpus (planted = 1.0). Does
    // codebook CAPACITY move that — ks=64/256 with 6 Lloyd rounds instead
    // of 16/2 — or is the ceiling the corpus's zero-margin geometry?
    // Recorded, not gated: whichever way it lands, the grid closes the
    // question so nobody re-chases it (COVERAGE.md cites this artifact).
    val ceilingGrid = Seq(("ks64_i6", 64, 6), ("ks256_i6", 256, 6))
      .map { case (lbl, ks, it) =>
        val r = (brute intersect pairSet(pipeline.Similarity.pqTopKFrom(
          scaledVecs, m = 32, ks = ks, iters = it, rerankDepth = 50))).size.toDouble /
          brute.size.max(1)
        c.drop()
        lbl -> r
      }

    Sweep.Leg(s"x$factor", Seq(
      "times_sec_q10" -> Sweep.obj(times: _*), "times_sec_q500" -> Sweep.obj(timesLoaded: _*),
      "recall_vs_brute" -> Sweep.obj(recalls.map { case (k, r, _) => k -> r }: _*),
      "brute_pairs" -> brute.size,
      "params" -> Sweep.obj(
        "lsh_mt" -> Sweep.obj("nPlanes" -> 8, "nTables" -> 16),
        "pq_t" -> Sweep.obj("m" -> 32, "ks" -> 16, "iters" -> 2, "rerankDepth" -> 50),
        "ivfpq_t" -> Sweep.obj("m" -> 32, "ks" -> 16, "iters" -> 2, "nProbe" -> 3, "rerankDepth" -> 50)),
      "recall_floors" -> Sweep.obj("lsh_mt" -> 0.5, "pq_t" -> 0.5, "ivfpq_t" -> 0.5,
        "quant" -> 0.8, "pq" -> 0.05),
      "planted_recall" -> Sweep.obj(pRecalls.toSeq.sortBy(_._1): _*),
      "planted_brute_pairs" -> pBrute.size,
      "planted_same_group_frac" -> sameGroupFrac,
      "planted_floors" -> Sweep.obj("lsh_mt" -> 0.8, "pq_t" -> 0.8, "ivfpq_t" -> 0.8),
      "pq_ceiling_grid" -> Sweep.obj(ceilingGrid: _*),
      "jl_depth" -> jlDepth, "jl_touch" -> jlTouch),
      () => {
        enforce(recall("quant"), rows("lsh"), rows("ivf"), recall("pq"), rows("ivfpq"))
        enforceTuned(recall("lsh_mt"), recall("pq_t"), recall("ivfpq_t"))
        enforcePlanted(pRecalls, sameGroupFrac)
        // JL rerank signal gate: recall must clearly beat its candidate-touch
        // fraction (a random depth-sized candidate set scores ~touch)
        if (recall("jl_rr") < (4 * jlTouch).max(0.2))
          throw new IllegalStateException(
            s"JL rerank recall ${recall("jl_rr")} carries no signal over touch $jlTouch: run INVALID")
      })
  }

  /** A focused big leg (default 100×, round-13 verdict item 5): the
    * scale-path operating points timed and recall-gated on the same
    * corpus construction at 10× the sweep size. Brute stays the oracle —
    * one broadcast pass over the scaled corpus — and the blocked methods
    * must hold non-empty results, their recall floors, and a bounded
    * candidate-touch fraction as the corpus grows 100×.
    */
  private def bigLeg(c: Sweep.Ctx, f: Int): Sweep.Leg = {
    def vecs = scaledVecsFrom(c.spark, c.sfDir, f)
    val corpusN = Tables.embeddings(c.spark, c.sfDir).count() * f
    val jlDepthF = (corpusN / 40).toInt.max(100)
    val jlTouchF = jlDepthF.toDouble / corpusN
    // the rerank shortlist must SCALE with the distractor count: the
    // depth-50 point tuned at 10× recorded 0.40 recall at 100× (the ADC
    // shortlist starves — grid measured in round 14:
    // depth 100 → 0.44, depth 200 → 0.56, nProbe 6 adds ~nothing).
    // depth = max(50, corpus/1000) reproduces the 10× tuned point AND
    // the recovered 100× one, at a rerank touch of 0.1% of the corpus —
    // the same corpus-proportional-depth rule the JL-rerank path uses.
    val pqDepthF = math.max(50L, corpusN / 1000).toInt
    val legVariants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "brute" -> (() => pipeline.Similarity.bruteForceTopKFrom(vecs, nQueries = 10)),
      "lsh_mt" -> (() => pipeline.Similarity.lshMultiTableTopKFrom(vecs, nQueries = 10, nTables = 16)),
      "ivf" -> (() => pipeline.Similarity.ivfTopKFrom(vecs, nQueries = 10)),
      "ivfpq_t" -> (() => pipeline.Similarity.ivfPqTopKFrom(vecs, nQueries = 10,
        m = 32, nProbe = 3, iters = 2, rerankDepth = pqDepthF)),
      "jl_rr" -> (() => pipeline.Similarity.jlRerankFrom(vecs, nQueries = 10, depth = jlDepthF)))
    val legTimes = legVariants.map { case (name, fn) => name -> c.time(fn()) }
    val legBrute = pairSet(pipeline.Similarity.bruteForceTopKFrom(vecs))
    val legRecalls = legVariants.filter(_._1 != "brute").map { case (name, fn) =>
      val s = pairSet(fn())
      c.drop()
      (name, (legBrute intersect s).size.toDouble / legBrute.size.max(1), s.size.toLong)
    }
    Sweep.Leg(s"x$f",
      Seq("factor" -> f, "corpus_rows" -> corpusN) ++
        legTimes.map { case (k, v) => s"t_$k" -> v } ++
        legRecalls.map { case (k, r, _) => s"r_$k" -> r } ++
        Seq("brute_pairs" -> legBrute.size, "jl_depth" -> jlDepthF, "jl_touch" -> jlTouchF,
          "pq_rerank_depth" -> pqDepthF, "pq_rerank_touch" -> pqDepthF.toDouble / corpusN),
      () => {
        val rows = legRecalls.map { case (k, _, n) => k -> n }.toMap
        val rec = legRecalls.map { case (k, r, _) => k -> r }.toMap
        if (rows("ivfpq_t") == 0 || rows("lsh_mt") == 0 || rows("ivf") == 0)
          throw new IllegalStateException(
            s"ANN x$f leg invalid: a blocked method returned no rows ($rows)")
        Seq("lsh_mt", "ivfpq_t").foreach { k =>
          if (rec(k) < 0.5) throw new IllegalStateException(
            s"ANN x$f leg invalid: $k recall ${rec(k)} < 0.5")
        }
        if (rec("jl_rr") < (4 * jlTouchF).max(0.2))
          throw new IllegalStateException(
            s"ANN x$f leg invalid: jl_rr recall ${rec("jl_rr")} carries no " +
              s"signal over candidate touch $jlTouchF")
      })
  }
}
