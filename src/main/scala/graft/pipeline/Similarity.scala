package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Three paths:
  *  - brute-force cosine top-k: exact baseline; broadcast the (small) query
  *    set against the full corpus — one scan, no shuffle of the corpus.
  *  - sign-LSH buckets: random-hyperplane bucketing prunes the corpus.
  *  - IVF cells: coarse quantizer assignment + nProbe probing.
  *
  * All paths precompute per-vector norms in their own projection
  * (`withNorms`) so a pairwise cosine costs one dot product, not a dot
  * plus two redundant norm folds per pair.
  */
object Similarity {

  /** vec_id, embedding, nrm — materialized once (localCheckpoint) because
    * every caller joins it against itself or a query subset.
    */
  private def withNorms(spark: SparkSession, dir: String): DataFrame =
    withNormsFrom(spread(spark, embeddings(spark, dir)))

  /** `withNorms` over an arbitrary (vec_id, embedding) frame — the entry
    * point the scale sweep (`BenchScaleAnn`) feeds replicated corpora
    * through; the dir-based loaders delegate here.
    */
  private def withNormsFrom(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .localCheckpoint()

  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"), col("cos"))

  // -------- map-side nearest-centroid machinery (r14, guide §2.4) --------
  //
  // Every coarse-quantizer / k-means / coreset assignment in this file used
  // the same shape: fan the corpus out |centroids|-way against a broadcast,
  // then keep rank 1 of a corpus-wide row_number window — an Exchange +
  // Sort that carried the full embedding vectors just to pick a per-row
  // argmax. The helpers below compute the SAME winner as a row-local
  // expression against a packed one-row broadcast of the centroid table:
  // no fan-out join, no window exchange — the assignment never leaves the
  // scan's partitions (the 100 TB shape: encode/assign is a map over the
  // corpus scan). Bit-equivalence with `row_number over (score desc|asc,
  // cid asc) = 1`: array_max/array_min and array_position use the
  // identical NaN-first / -0.0 == 0.0 double semantics as the sort
  // ordering (catalyst's SQL ordering and its equiv), and array_position's
  // FIRST-match over cid-ascending slots IS the `cid asc` tie-break.
  // (Distinct from the REVERTED r14 `max(struct(...))` attempt recorded in
  // OPTIMIZATION_r14.md: that was an argmax AGGREGATE — which falls back
  // to SortAggregate — while this never aggregates at all. And the scores
  // live in ONE array column rather than n scalar columns + greatest +
  // when-chains: the scalar rendering was measured to send the optimizer's
  // constraint inference into a multi-minute, eventually OOM-ing churn —
  // array functions keep the expression tree small and opaque to it.)

  /** One-row packed form of a small centroid table: `cb` = the
    * (cid, c_emb, c_nrm) structs sorted by cid ascending. An EMPTY
    * centroid table packs to ZERO rows (not one row holding an empty
    * array), so the broadcast join downstream produces nothing — exactly
    * what the old fan-out join against an empty centroid table produced. */
  private def packedCents(cents: DataFrame, idCol: String, embCol: String,
                          nrmCol: String): DataFrame =
    cents.agg(array_sort(collect_list(struct(col(idCol).as("cid"),
      col(embCol).as("c_emb"), col(nrmCol).as("c_nrm")))).as("cb"))
      .filter(size(col("cb")) > 0)

  /** Attach the per-slot score array `__scores` for packed slots 0..n-1
    * (a slot past the runtime array size scores NULL and is skipped by
    * array_max/min, behaving like the window rendering's missing candidate
    * rows). `score` builds the site's scoring expression from a slot. */
  private def withSlotScores(df: DataFrame, n: Int,
                             score: Column => Column): DataFrame =
    df.withColumn("__scores",
      array((0 until n).map(i => score(get(col("cb"), lit(i)))): _*))

  /** First-match arg-extreme over `__scores`: (best value, 0-based winning
    * slot index, winning cid). */
  private def argFirst(asc: Boolean = false): (Column, Column, Column) = {
    val sc = col("__scores")
    val best = if (asc) array_min(sc) else array_max(sc)
    val idx = (array_position(sc, best) - 1).cast("int")
    (best, idx, get(col("cb"), idx).getField("cid"))
  }

  /** Brute-force exact top-k neighbors for query vectors (vec_id < nQueries),
    * excluding self. The query side is broadcast; ranking is a per-query
    * window top-k with deterministic tie-break (cos desc, vec_id asc).
    */
  def bruteForceTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame =
    bruteForceTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k)

  def bruteForceTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    bruteForceTopKNormed(withNormsFrom(raw), nQueries, k)

  /** `bruteForceTopKFrom` over an ALREADY normed+materialized
    * (vec_id, embedding, nrm) frame — callers that hold such a frame for
    * their own attach legs (retrieval_rerank) pass it here so the corpus
    * norm pass + checkpoint happens once, not once per leg (r15,
    * guide §5: reuse the persisted intermediate).
    */
  private[pipeline] def bruteForceTopKNormed(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** Filtered vector search: top-k under a metadata predicate on the
    * CANDIDATE side (here `label >= minLabel` — in production, a tenant id,
    * language, date range…). The predicate is applied BEFORE any scoring —
    * pre-filtering — so the result is the exact top-k of the eligible
    * subset and the label predicate reaches the parquet scan
    * (plan-asserted): post-filtering (search first, filter the top-k after)
    * silently returns < k rows or misses eligible neighbors whenever the
    * unfiltered top-k is dominated by ineligible vectors, which is exactly
    * what happens under selective predicates at scale. The query side stays
    * unfiltered — queries need not satisfy their own predicate. Norms are
    * computed per side post-filter (no shared checkpoint: the corpus leg
    * folds only eligible rows). At 100 TB the same pre-filter composes
    * under the IVF/LSH candidate generators — filter the corpus before
    * cell assignment and the index is built over eligible vectors only.
    */
  def filteredTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
                   k: Int = 5, minLabel: Int = 5): DataFrame =
    filteredTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k, minLabel)

  def filteredTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5,
                       minLabel: Int = 5): DataFrame = {
    val corpus = raw.filter(col("label") >= minLabel)
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    val q = raw.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
    val scored = corpus.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane weights: w(h, i) in {-1, +1}
    * derived from md5 of "h_i" (first-two-byte parity — the same value the
    * previous per-row column rendering computed with
    * `conv(substring(md5(concat_ws('_',h,i)),1,4),16,10) % 2`), but
    * computed ONCE on the driver instead of per vector × element × plane.
    */
  private def hyperplane(h: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${h}_$i".getBytes("UTF-8"))
      if ((d(1) & 1) == 0) 1.0 else -1.0
    }

  /** Sign-bit LSH bucket id from `nPlanes` ±1 hyperplanes: one codegen'd
    * dot product against a literal weight vector per plane. `planeBase`
    * offsets into the global hyperplane family so independent hash TABLES
    * (multi-table LSH) draw disjoint plane sets; bit h of the bucket is
    * plane `planeBase + h`.
    */
  def lshBucket(emb: Column, nPlanes: Int, dim: Int, planeBase: Int = 0): Column =
    (0 until nPlanes).map { h =>
      when(call_function("graft_dot", emb, typedLit(hyperplane(planeBase + h, dim))) >= 0,
        shiftleft(lit(1L), h)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF-style ANN: deterministic seeded centroids (the first `nCells`
    * vectors — a real deployment trains k-means; the assignment/probe
    * machinery is identical), every vector assigned to its nearest cell,
    * queries probe the `nProbe` nearest cells only. The 100 TB path:
    * the corpus shuffles once on cell id and each query touches
    * nProbe/nCells of it.
    */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
              nCells: Int = 8, nProbe: Int = 2): DataFrame =
    ivfTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k, nCells, nProbe)

  def ivfTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5,
                  nCells: Int = 8, nProbe: Int = 2): DataFrame = {
    val e = withNormsFrom(raw)
    val cents = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    // assignment: nearest centroid per vector, computed IN-ROW against the
    // packed broadcast codebook (r14, guide §2.4 — see the machinery doc
    // above): the old rendering fanned the corpus out nCells-way and kept
    // rank 1 of a corpus-wide window, an exchange + sort carrying the full
    // vectors.
    val scored = withSlotScores(
      e.join(broadcast(packedCents(cents, "cell", "c_emb", "c_nrm"))), nCells,
      slot => cosineRFromNorms(col("embedding"), slot.getField("c_emb"),
        col("nrm"), slot.getField("c_nrm")))
    val (_, _, bestCell) = argFirst()
    val corpus = scored.withColumn("cell", bestCell)
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"), col("cell"))
    // queries probe their nProbe nearest cells — the rank window survives
    // here but runs over nQueries×nCells QUERY rows only, not the corpus
    val probes = e.filter(col("vec_id") < nQueries).join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
        cosineRFromNorms(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm")).as("c_cos"))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("cell").asc)))
      .filter(col("crk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))
    val ranked = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    topK(ranked, k)
  }

  /** One distributed Lloyd iteration over the embedding corpus (k-means):
    * seed centroids = the first `k` vectors (deterministic, like `ivfTopK`),
    * assign every vector to its nearest centroid by cosine, recompute
    * centroids as the element-wise mean of their members, re-assign against
    * the new centroids. Output: final (vec_id, cluster, cos).
    *
    * This is the building block of embedding-space corpus maps (semantic
    * dedup partitions, topic balancing, IVF training): iterate it and the
    * full k-means falls out. The distributed shape is what matters at
    * 100 TB:
    *  - assignment = broadcast of k centroid rows against the corpus scan;
    *  - centroid recompute = posexplode to (cluster, dim) keys → partial
    *    map-side sums, so the shuffle carries k·d aggregate rows per
    *    partition, never vectors;
    *  - element sums in DECIMAL(28,12) — double addition is
    *    order-dependent across partitions, so exact decimal is what makes
    *    the result (and the oracle hash) deterministic under any
    *    parallelism;
    *  - means re-enter cosine space rounded to 6dp (the engine-wide
    *    cross-engine contract for derived doubles).
    */
  def kmeansAssign(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val e = withNorms(spark, dir)
    val cents2 = oneLloydCentroids(e, k)
    // in-row packed argmax instead of k-way fan-out + corpus window (r14,
    // guide §2.4 — machinery doc above `packedCents`)
    val scored = withSlotScores(
      e.join(broadcast(packedCents(cents2, "cluster", "c_emb", "c_nrm"))), k,
      slot => cosineRFromNorms(col("embedding"), slot.getField("c_emb"),
        col("nrm"), slot.getField("c_nrm")))
    val (bestCos, _, bestId) = argFirst()
    scored.select(col("vec_id"), bestId.as("cluster"), bestCos.as("cos"))
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"), col("cos"))
      // materialized: consumers (outliers, cluster-balance, labelprop)
      // branch on this frame 1-2× each — without the barrier every branch
      // re-inlines the whole argmax expression tree into its window/agg
      // keys (expression-tree blowup measured as a codegen OOM in
      // embedding_outliers) and recomputes the assignment per branch
      // (guide §5: cache what is reused and expensive)
      .localCheckpoint()
  }

  /** The one-Lloyd-iteration centroid frame shared by `kmeansAssign` and
    * `kmeansSilhouette`: seed = first k vectors, assign by cosine,
    * decimal-exact element means rounded 6dp. Output (cluster, c_emb,
    * c_nrm) — k tiny rows, always broadcast by callers.
    */
  private def oneLloydCentroids(e: DataFrame, k: Int): DataFrame = {
    val cents1 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    // in-row packed argmax — no k-way fan-out, no corpus window (r14)
    val s1 = withSlotScores(
      e.join(broadcast(packedCents(cents1, "cell", "c_emb", "c_nrm"))), k,
      slot => cosineRFromNorms(col("embedding"), slot.getField("c_emb"),
        col("nrm"), slot.getField("c_nrm")))
    val (_, _, seedCell) = argFirst()
    val a1 = s1.withColumn("cluster", seedCell)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val means = a1
      .select(col("cluster"), posexplode(col("embedding")))
      .select(col("cluster"), col("pos"),
        col("col").cast("double").cast("decimal(28,12)").as("v"))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
      .select(col("cluster"), col("pos"),
        round(col("s").cast("double") / col("cnt"), 6).as("m"))
    means.groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("dm"))
      .select(col("cluster"),
        transform(col("dm"), x => x.getField("m")).as("c_emb"))
      .select(col("cluster"), col("c_emb"), norm(col("c_emb")).as("c_nrm"))
  }

  /** Simplified-silhouette clustering audit over the `kmeansAssign`
    * partition (the standard O(n·k) rendering — Hruschka et al.: distances
    * to CENTROIDS stand in for mean pairwise distances, which would be
    * O(n²)): per vector, a = cosine distance to its own centroid, b =
    * distance to the nearest OTHER centroid, silhouette = (b−a)/max(a,b).
    * Per-cluster means are the verdict on cluster quality — near 0 means
    * the k-means partition is not separating the corpus and downstream
    * cluster-balanced sampling / SemDeDup cells inherit noise.
    *
    * Scale: one broadcast of k centroid rows against the corpus scan, a
    * per-vector top-2 window (vec_id-keyed — the corpus-wide exchange is
    * on the same key every embedding op shuffles on), then a k-row
    * aggregate. Decimal-summed silhouettes so the per-cluster mean is
    * deterministic under any partitioning.
    */
  def kmeansSilhouette(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val e = withNorms(spark, dir)
    val cents = oneLloydCentroids(e, k)
    // in-row packed top-2 (r14, guide §2.4): best = packed argmax (= the
    // window's rank 1), second-best = greatest over the remaining slots
    // with the winner NULLed out (= rank 2's VALUE — only the value feeds
    // b, so the second slot's id never matters). Removes BOTH the k-way
    // fan-out + corpus window AND the groupBy(vec_id) re-aggregation —
    // the per-vector silhouette never leaves the scan's partitions.
    val scored = withSlotScores(
      e.join(broadcast(packedCents(cents, "cluster", "c_emb", "c_nrm"))), k,
      slot => cosineRFromNorms(col("embedding"), slot.getField("c_emb"),
        col("nrm"), slot.getField("c_nrm")))
    val (bestCos, bestIdx, bestId) = argFirst()
    val withBest = scored.withColumn("cluster", bestId)
      .withColumn("__bc", bestCos).withColumn("__bi", bestIdx)
    val secondCos = array_max(transform(col("__scores"),
      (x, i) => when(i === col("__bi"), lit(null).cast("double")).otherwise(x)))
    val per = withBest
      .select(col("cluster"), (lit(1.0) - col("__bc")).as("a"),
        (lit(1.0) - secondCos).as("b"))
      .select(col("cluster"),
        when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise(round((col("b") - col("a")) / greatest(col("a"), col("b")), 6)).as("sil"))
    per.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("sil").cast("decimal(28,10)")).cast("double") / count(lit(1)), 6)
          .as("mean_sil"))
      .select(col("cluster").cast("long").as("cluster"), col("n"), col("mean_sil"))
  }

  /** Per-dimension Fisher discriminant score of the embedding space
    * against the `label` column: F_d = between-class SS / within-class SS
    * (Σ_c n_c(μ_cd−μ_d)² over Σ_c Σ_i (v−μ_cd)²) — the classical feature-
    * quality screen deciding which embedding dimensions actually carry
    * the label signal (feature selection before a cheap linear probe, or
    * an audit that a projection/quantization step didn't destroy class
    * structure).
    *
    * Scale: one posexplode pass → (label,dim)-keyed partial sums (k·d
    * aggregate rows per partition — map-side combine does the work), a
    * second pass joining the corpus against the BROADCAST k·d class-mean
    * table, and a d-row final aggregate. Class means are rounded 6dp
    * before the deviation pass and every summed term is decimal — both
    * engines fold identical doubles, deterministic under any parallelism
    * (the a19/a22 center-then-deviate contract).
    */
  def embeddingFisher(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"), col("col").cast("double").as("v"))
      .localCheckpoint()
    val cm = e.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("nc"),
        round(sum(col("v").cast("decimal(28,12)")).cast("double") / count(lit(1)), 6).as("mu"))
    val gm = e.groupBy(col("dim"))
      .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double") / count(lit(1)), 6).as("gmu"))
    val within = e.join(broadcast(cm), Seq("label", "dim"))
      .select(col("dim"),
        round((col("v") - col("mu")) * (col("v") - col("mu")), 6)
          .cast("decimal(28,10)").as("w"))
      .groupBy(col("dim"))
      .agg(round(sum(col("w")).cast("double"), 6).as("within_ss"))
    val between = cm.join(broadcast(gm), Seq("dim"))
      .select(col("dim"),
        round(col("nc") * (col("mu") - col("gmu")) * (col("mu") - col("gmu")), 6)
          .cast("decimal(28,10)").as("b"))
      .groupBy(col("dim"))
      .agg(round(sum(col("b")).cast("double"), 6).as("between_ss"))
    between.join(within, Seq("dim"))
      .select(col("dim").cast("long").as("dim"), col("between_ss"), col("within_ss"),
        when(col("within_ss") === 0.0, lit(0.0))
          .otherwise(round(col("between_ss") / col("within_ss"), 6)).as("fisher"))
  }

  /** Semi-supervised kNN label propagation over the IVF-cell graph — the
    * label-quality / labeling-transfer audit: predict every vector's label
    * from its 3 nearest SAME-CELL neighbors (majority, ties to the
    * smaller label) and report per-class accuracy. High accuracy means
    * the embedding space carries the label structure (so cheap kNN
    * labeling of unlabeled data is viable); a collapsed class is the
    * red flag before anyone trains on propagated labels.
    *
    * Scale: the neighbor join is CELL-BOUNDED (the SemDeDup posture —
    * the coarse quantizer caps candidates; never an all-pairs join), the
    * top-3 window is vec_id-keyed, and the verdict is a k-class
    * aggregate. Cells come from the shared one-Lloyd `kmeansAssign`
    * partition, so the oracle reuses the kmeans CTE chain.
    */
  def knnLabelProp(spark: SparkSession, dir: String, k: Int = 8,
                   nNeighbors: Int = 3): DataFrame = {
    val e = withNorms(spark, dir)
    val lab = embeddings(spark, dir).select(col("vec_id"), col("label"))
    val asg = kmeansAssign(spark, dir, k).select(col("vec_id"), col("cluster"))
      .join(lab, "vec_id")
      .join(e.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .localCheckpoint() // one frame feeds both sides of the cell join
    // The cell self-join keys on `cluster` — k (=8) distinct values, so a
    // shuffle join concentrates ALL Σ|cell|² kernel work on ≤k reducers
    // and AQE coalesces the byte-small exchange to ONE task (profiled
    // r14: an 855 ms single-task stage = the whole scoring pass run
    // serially; guide §2.5 — skew split cannot help, the key set itself
    // is tiny). Measured-broadcast the neighbor side (it is the
    // checkpointed asg — the measure job reads materialized blocks) and
    // round-robin the probe side first: the scoring becomes a map-side
    // hash probe running on every core. Past the byte gate the
    // shuffled-hash fallback is exactly the r13 plan (and at production
    // scale nCells rises with the corpus, so the key-cardinality
    // concentration this fixes is a test-SF artifact).
    // keyed on vec_id (unique → even spread): a keyless round-robin
    // repartition pays the SPARK-23207 sort-before-repartition pass of its
    // input; the hash exchange is deterministic under retry for free (r15,
    // VERDICT item — same rationale as spreadIfNarrow's keyed exchange)
    val nbr = asg.select(col("cluster"), col("vec_id"), col("embedding"), col("nrm"))
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .join(graft.operators.Scale.maybeBroadcastMeasured(
        asg.select(col("cluster"), col("vec_id").as("nb"), col("label").as("nb_label"),
          col("embedding").as("n_emb"), col("nrm").as("n_nrm")), elseHint = "shuffle_hash"),
        Seq("cluster"))
      .filter(col("vec_id") =!= col("nb"))
      .select(col("vec_id"), col("nb"), col("nb_label"),
        cosineRFromNorms(col("embedding"), col("n_emb"), col("nrm"), col("n_nrm")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nb").asc)))
      .filter(col("rnk") <= nNeighbors)
    val pred = nbr.groupBy(col("vec_id"), col("nb_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("votes").desc, col("nb_label").asc)))
      .filter(col("vrk") === 1)
      .select(col("vec_id"), col("nb_label").as("predicted"))
    asg.select(col("vec_id"), col("label"))
      .join(pred, "vec_id")
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("predicted") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n"), 6).as("acc"))
  }

  /** Greedy k-center (farthest-point traversal, Gonzalez 1985) diversity
    * sample over the embedding corpus: seed = vec_id 0, then k−1 rounds of
    * "take the point farthest (min cosine distance) from everything chosen
    * so far" — the 2-approximation to the k-center cover and the standard
    * coreset/diversity draw when a sample must SPAN the space rather than
    * follow its density (contrast `sample_cluster_balance`, which follows
    * density per cell).
    *
    * Scale: k−1 full-corpus map passes, each scoring against the ≤k-row
    * chosen set (shipped as LITERAL weight vectors in the task binary —
    * the hyperplane discipline) and reducing via a TakeOrdered(1) — no
    * corpus shuffle anywhere, and the driver holds only the ≤k chosen
    * rows (the same bounded-driver-state contract as the trained k-means
    * centroids). The corpus-side norms frame is checkpointed once and
    * reused by every round. (The r13 rendering joined a broadcast chosen
    * set and re-aggregated min-distance per round — a groupBy exchange
    * every round that the literal least(...) makes unnecessary; r14,
    * guide §2.4.)
    */
  def kcenterSample(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val e = withNorms(spark, dir)
    // The chosen set lives on the DRIVER (≤k rows — the bounded-state
    // contract), so "min distance to every pick" is a LITERAL least(...)
    // expression over the picks' embeddings, not a broadcast join + a
    // per-round groupBy shuffle (the r13 shape; r14 guide §2.4 "remove
    // shuffles outright"). Each round is ONE shuffle-free TakeOrdered
    // pass over the checkpointed corpus: same graft_dot kernel, same
    // float literals, so every distance double — and the argmax pick +
    // (md desc, vec_id asc) tie-break — is bit-identical to the joined
    // rendering. k−1 passes, zero exchanges, driver holds ≤k rows.
    var picks = Vector[(Long, Long, Double)]((1L, 0L, 0.0))
    val seed = e.filter(col("vec_id") === 0L)
      .select(col("embedding"), col("nrm")).head()
    var pickVecs = Vector[(Seq[Float], Double)]((seed.getSeq[Float](0), seed.getDouble(1)))
    while (picks.size < k) {
      val selIds = picks.map(_._2)
      val ds = pickVecs.map { case (se, sn) =>
        lit(1.0) - cosineRFromNorms(col("embedding"), typedLit(se), col("nrm"), lit(sn))
      }
      val md = if (ds.size == 1) ds.head else least(ds: _*)
      // the winner's vector rides the same TakeOrdered row — no second
      // lookup job for the next round's distance literal
      val next = e.filter(!col("vec_id").isin(selIds: _*))
        .select(col("vec_id"), md.as("md"), col("embedding"), col("nrm"))
        .orderBy(col("md").desc, col("vec_id").asc)
        .limit(1).collect()(0)
      picks = picks :+ ((picks.size + 1L, next.getLong(0), next.getDouble(1)))
      pickVecs = pickVecs :+ ((next.getSeq[Float](2), next.getDouble(3)))
    }
    // round via the engine (not the driver) so the 6dp contract is the
    // same Round expression every oracle-gated double goes through
    picks.toDF("pick", "vec_id", "min_dist")
      .select(col("pick"), col("vec_id"), round(col("min_dist"), 6).as("min_dist"))
  }

  /** Coreset weights for the k-center sample: assign EVERY vector to its
    * nearest chosen center (cosine distance, ties to the low center id)
    * and report per-center mass + mean distance — the importance weights
    * that make the k-point diversity sample usable as a weighted proxy
    * corpus (Gonzalez centers + Voronoi cell counts = the classic
    * k-center coreset), and the covering-radius audit per cell.
    *
    * Scale: one broadcast of the ≤k chosen rows against the corpus scan,
    * a vec_id-keyed top-1 window, and a k-row aggregate — identical
    * shape to `kmeansAssign`.
    */
  def kcenterWeights(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val e = withNorms(spark, dir)
    val picks = kcenterSample(spark, dir, k).select(col("vec_id").as("c_id"))
    val cents = e.join(broadcast(picks), col("vec_id") === col("c_id"))
      .select(col("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    // in-row packed argMIN (dist asc, c_id asc — the slots are c_id-sorted
    // so first-match = lowest center id): no k-way fan-out, no corpus
    // window; the k-row aggregate is the only exchange left (r14)
    val scored = withSlotScores(
      e.join(broadcast(packedCents(cents, "c_id", "c_emb", "c_nrm"))), k,
      slot => round(lit(1.0) - cosineRFromNorms(col("embedding"),
        slot.getField("c_emb"), col("nrm"), slot.getField("c_nrm")), 6))
    val (bestDist, _, bestId) = argFirst(asc = true)
    scored.select(bestId.as("c_id"), bestDist.as("dist"))
      .groupBy(col("c_id").as("center_id"))
      .agg(count(lit(1)).as("n_assigned"),
        round(sum(col("dist").cast("decimal(28,10)")).cast("double") / count(lit(1)), 6)
          .as("mean_dist"))
  }

  /** Multi-probe sign-LSH top-k: each query probes its own bucket AND
    * every bucket at Hamming distance 1 (one plane's sign flipped) —
    * `nPlanes + 1` probes per query. The standard recall repair for
    * sign-LSH: a near neighbor straddling ONE hyperplane is the dominant
    * miss of the single-probe path, and flipping each bit reclaims it at
    * (nPlanes+1)× the candidate cost — still nPlanes+1/2^nPlanes of the
    * corpus per query, not a scan. Same bucket function as `lshTopK`
    * (spec: strictly-no-worse recall); the probe set is generated on the
    * query side only, so the corpus is still bucketed once.
    */
  def lshMultiProbeTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
                        k: Int = 5, nPlanes: Int = 8): DataFrame =
    lshMultiProbeTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k, nPlanes)

  def lshMultiProbeTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5,
                            nPlanes: Int = 8): DataFrame = {
    val base = withNormsFrom(raw)
    val dim = base.select(size(col("embedding"))).head(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    val e = base
      .select(col("vec_id"), col("embedding"), col("nrm"),
        lshBucket(col("embedding"), nPlanes, dim).as("bucket"))
    // query side explodes to its own bucket + each one-bit flip
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(array((lit(-1) +: (0 until nPlanes).map(lit(_))): _*)).as("flip"),
        col("bucket").as("own"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        when(col("flip") === -1, col("own"))
          .otherwise(expr("own ^ (CAST(1 AS BIGINT) << flip)")).as("bucket"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    // no dedup needed: a neighbor lives in exactly one bucket, and the
    // probe set per query is distinct buckets — each (query, neighbor)
    // pair matches at most once
    topK(scored, k)
  }

  /** Multi-TABLE sign-LSH top-k — the standard high-recall LSH
    * construction (and the production operating point the scale sweep
    * gates): `nTables` independent 2^nPlanes-bucket tables, each drawn
    * from a disjoint slice of the deterministic hyperplane family
    * (table t = planes [t·nPlanes, (t+1)·nPlanes)); a candidate is any
    * vector sharing the query's bucket in ANY table. Where multi-probe
    * repairs one-plane straddles inside a single table (recall
    * 0.14 → 0.32 on the sweep corpus), independent tables multiply the
    * miss probability: recall ≈ 1−(1−r₁)^L for single-table recall r₁,
    * at candidate touch ≈ L/2^nPlanes of the corpus per query — at the
    * sweep's L=8, b=8 that is ~3% touch for ~0.7 recall, vs 36% touch
    * for the Hamming-≤3 multi-probe reaching the same recall. Corpus
    * cost: the bucketing scan emits nTables id+bucket rows per vector
    * (the vectors themselves are NOT replicated — candidates are id-only
    * and deduped before the single scoring join, the minhash-band
    * discipline), so the 100 TB shape is L narrow shuffle legs of
    * 16-byte rows plus one bounded candidate join.
    */
  def lshMultiTableTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
                        k: Int = 5, nPlanes: Int = 8, nTables: Int = 4): DataFrame =
    lshMultiTableTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k, nPlanes, nTables)

  def lshMultiTableTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5,
                            nPlanes: Int = 8, nTables: Int = 4): DataFrame = {
    val base = withNormsFrom(raw)
    val dim = base.select(size(col("embedding"))).head(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    // one (vector, table) row per table — posexplode of the per-table
    // bucket array computed in a single codegen'd projection
    val e = base
      .select(col("vec_id"), posexplode(array(
        (0 until nTables).map(t => lshBucket(col("embedding"), nPlanes, dim, t * nPlanes)): _*)))
      .select(col("vec_id"), col("pos").as("t"), col("col").as("bucket"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("t"), col("bucket"))
    // id-only candidates, deduped across tables BEFORE the vectors join:
    // a neighbor colliding in 3 tables is scored once
    val cand = e.select(col("vec_id").as("neighbor_id"), col("t"), col("bucket"))
      .join(broadcast(q), Seq("t", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val scored = cand
      .join(base.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm")),
        Seq("neighbor_id"))
      .join(broadcast(base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** Cluster-balanced (diversity) sample: up to `cap` vectors per k-means
    * cluster, drawn in deterministic hash order — the embedding-space
    * counterpart of `TextPipeline.stratifiedSample`. Uniform sampling
    * over-represents dense regions of embedding space; capping per cluster
    * flattens the draw across semantic regions (the SemDeDup/DoReMi-style
    * diversity step). Deterministic md5 order means any worker can
    * recompute membership — no RNG, no partition sensitivity. Scale shape:
    * the per-cluster top-`cap` is one rank-window over the assignment
    * shuffled by cluster id (k bounded groups; a giant cluster streams
    * through row_number without materializing).
    */
  def clusterBalanceSample(spark: SparkSession, dir: String, cap: Int = 40): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix64
    kmeansAssign(spark, dir)
      .withColumn("rnk", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(pmod(md5Prefix64(col("vec_id").cast("string")), lit(1000000L)),
          col("vec_id").asc)))
      .filter(col("rnk") <= cap)
      .select(col("vec_id"), col("cluster"), col("rnk").cast("long").as("rnk"))
  }

  /** Embedding outliers — the per-cluster least-central vectors: rank
    * every vector within its trained k-means cluster by cosine to the
    * centroid ascending and keep the bottom `permille`/1000. Low
    * centroid affinity in embedding space flags mislabeled, noisy, or
    * out-of-domain documents — the embedding-side analog of the
    * text-quality filters, and the triage list a curation pass reviews
    * before dropping. Composes directly on `kmeansAssign` (same trained
    * assignment the cluster-balanced sampler draws from); one
    * catalog-sized cluster-count broadcast + a per-cluster window rank,
    * no new corpus-scale shuffle beyond the assignment it consumes.
    */
  def embeddingOutliers(spark: SparkSession, dir: String, permille: Int = 100): DataFrame = {
    val km = kmeansAssign(spark, dir)
    val sizes = km.groupBy(col("cluster")).agg(count(lit(1)).as("n_c"))
    km.join(broadcast(sizes), "cluster")
      .withColumn("rnk", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(col("cos").asc, col("vec_id").asc)))
      .filter(col("rnk") * 1000 <= col("n_c") * permille)
      .select(col("vec_id"), col("cluster"), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** SemDeDup-style semantic near-dup pairs: assign every vector to its
    * `nProbe` nearest seed centroids (the same coarse quantizer as
    * `ivfTopK` — deterministic seeds; a real deployment trains k-means via
    * `kmeansAssign`), generate candidate pairs ONLY within shared cells,
    * and score pairwise cosine once per distinct candidate. This is the
    * embedding-space rendering of LSH-banded text dedup: the cell
    * assignment replaces the all-pairs join with per-cell self-joins, so
    * the corpus shuffles id-only candidate rows and pair work is
    * nProbe²·Σ|cell|² instead of N² — the shape that survives 100 TB
    * (cells are bounded by the quantizer's balance; a skewed cell splits
    * by raising `nCells`, exactly like IVF). Multi-probe (`nProbe`=2)
    * exists because a near-dup pair straddling one cell boundary is the
    * common miss; like every blocked dedup here (LSH, simhash blocks) the
    * recall is sub-1 by design and spec-measured. Differs from
    * `Dedup.embeddingNearDup` in needing no label column: the blocking
    * structure is LEARNED from the vectors.
    *
    * Output: (vec_a, vec_b, cos), vec_a < vec_b — the dedup decision
    * (drop the higher id of each pair) is a trivial consumer of this table.
    */
  def semanticDedupPairs(spark: SparkSession, dir: String, nCells: Int = 8,
                         nProbe: Int = 2, threshold: Double = 0.4): DataFrame = {
    val e = withNorms(spark, dir)
    val cents = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    // in-row packed top-nProbe (r14, guide §2.4): iterative first-match
    // selection — pick the argmax, NULL that slot's score out, repeat —
    // yields exactly the window's crk ≤ nProbe cell SET (same
    // (c_cos desc, cell asc) order, and picked slots can't repeat because
    // each round masks its winner). array_compact drops the NULL picks a
    // short centroid table leaves, matching the window's missing rows.
    val scored0 = withSlotScores(
      e.join(broadcast(packedCents(cents, "cell", "c_emb", "c_nrm"))), nCells,
      slot => cosineRFromNorms(col("embedding"), slot.getField("c_emb"),
        col("nrm"), slot.getField("c_nrm")))
    val scored = (0 until nProbe).foldLeft(scored0) { (d, p) =>
      val (_, idx, _) = argFirst()
      d.withColumn(s"__x$p", idx)
        .withColumn(s"__p$p", get(col("cb"), col(s"__x$p")).getField("cid"))
        .withColumn("__scores", transform(col("__scores"),
          (x, i) => when(i === col(s"__x$p"), lit(null).cast("double")).otherwise(x)))
    }
    val assigned = scored
      .select(col("vec_id"),
        explode(array_compact(array((0 until nProbe).map(p => col(s"__p$p")): _*))).as("cell"))
      .select(col("cell"), col("vec_id"))
    // candidates carry ids only — embeddings stay out of the pair shuffle
    // (same discipline as minhashLsh's band join)
    val cand = assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    // explicit fan-out before the scoring joins (r14): the deduped
    // candidate set is BYTE-small (two longs a row) so AQE coalesces it
    // to ~1 partition, but each row costs a full-dim cosine — profiled
    // as a 1.6 s single-task stage = the whole verify pass run serially
    // (the ngramJaccardPrefixFrom lesson, verbatim; guide §2.5 cheap-bytes/
    // expensive-CPU)
    graft.Tables.spread(e.sparkSession, cand)
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosineRFromNorms(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Per-vector symmetric int8 quantization of the embedding column — the
    * standard storage/bandwidth path for vector search at corpus scale
    * (4× smaller than float32, and integer dot products are exact, so the
    * scored cosines are bit-stable under any partitioning). Codes are
    * `floor(v·127/maxabs + 0.5)` — round-half-up toward +∞, computed
    * identically by the oracle; the per-vector `scale` (maxabs/127)
    * reconstructs approximate values as `qval·scale`. Zero vectors carry
    * no information and are dropped (guard, mirrored in the oracle).
    * Entirely map-side: one projection, no shuffle. Output is exploded to
    * (vec_id, pos, qval, scale) scalar rows for the oracle dump; the
    * array form used by `quantTopK` never leaves the plan.
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    withMaxAbs(spark, dir)
      // scale is NOT rounded: a single IEEE division on a float-derived
      // max is bit-identical in any engine, and 9dp rounding would zero
      // the scale for tiny-magnitude vectors (|v|max ~ 1e-8)
      .select(col("vec_id"), col("ma"), (col("ma") / 127).as("scale"),
        posexplode(col("emb")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        floor(col("col") * 127.0 / col("ma") + 0.5).cast("long").as("qval"),
        col("scale"))

  /** vec_id, emb (double), ma = max |v_i| — zero vectors dropped. */
  private def withMaxAbs(spark: SparkSession, dir: String): DataFrame =
    withMaxAbsFrom(spread(spark, embeddings(spark, dir)))

  private def withMaxAbsFrom(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .select(col("vec_id"), col("emb"),
        array_max(transform(col("emb"), x => abs(x))).as("ma"))
      .filter(col("ma") > 0)

  /** Brute-force top-k in int8-quantized space: per-vector scales cancel
    * in cosine, so the score is `dot(qa,qb)/(|qa||qb|)` over integer-valued
    * vectors — exact integer arithmetic inside the double mantissa, one
    * broadcast of the query codes against the quantized corpus scan. The
    * approximation error vs `bruteForceTopK` is the quantizer's, not the
    * engine's; recall against the float ranking is spec-measured.
    */
  def quantTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame =
    quantTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k)

  def quantTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    // codes materialized once (same discipline as withNormsFrom): the
    // encode transform feeds both join sides, and in production the int8
    // codes are the STORED representation — search never re-encodes
    val e = withMaxAbsFrom(raw)
      .select(col("vec_id"),
        transform(col("emb"), x => floor(x * 127.0 / col("ma") + 0.5).cast("double")).as("qv"))
      .select(col("vec_id"), col("qv"), norm(col("qv")).as("nrm"))
      .localCheckpoint()
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("qv"), col("nrm"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_qv"), col("qv"), col("q_nrm"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** LSH-bucketed ANN: candidates share the query's bucket; top-k within
    * candidates. Approximate — recall < 1 by design; the scale path where
    * a corpus-wide brute force is impossible.
    */
  def lshTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
              nPlanes: Int = 8): DataFrame =
    lshTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k, nPlanes)

  def lshTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5,
                  nPlanes: Int = 8): DataFrame = {
    val base = withNormsFrom(raw)
    // embedding dimensionality, one row off the checkpointed table — fixes
    // the literal weight-vector length for the plane dot products. A
    // heterogeneous-dimension corpus fails loud at the graft_dot length
    // check rather than bucketing on a truncated projection.
    val dim = base.select(size(col("embedding"))).head(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    val e = base
      .select(col("vec_id"), col("embedding"), col("nrm"),
        lshBucket(col("embedding"), nPlanes, dim).as("bucket"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** Product-quantization ANN (PQ-ADC): split each vector into `m`
    * subvectors, train a `ks`-centroid codebook per subspace (seeds = the
    * first `ks` vectors' subvectors + one distributed Lloyd iteration —
    * the same trained-quantizer contract as `kmeansAssign`), encode the
    * corpus as m small codes per vector, and answer queries with the
    * classic asymmetric-distance trick: each query's dot products against
    * all m·ks centroids are computed ONCE into a lookup table, and
    * scoring a candidate is m table lookups + a sum — the corpus' float
    * vectors never enter the scoring join.
    *
    * The 100 TB story is memory/bandwidth, complementing the pruning
    * ANN paths: the search-time corpus representation is m code bytes +
    * one stored norm per vector (16× smaller than float32 at dim=64,
    * m=16; a production ks=256 codebook reaches 64×), the ADC table is a
    * broadcast of nQueries·m·ks tiny rows, and
    * the per-candidate shuffle carries ids + one decimal partial per
    * subspace. Approximate cosine = Σ_s dot(q_s, centroid[code_s]) /
    * (|q|·|x|) with TRUE stored norms — the standard PQ-for-cosine
    * rendering; recall vs the float ranking is spec-measured. Composes
    * with `ivfTopK` (IVF-PQ) by restricting candidates to probed cells.
    *
    * Determinism: subspace partial dots are rounded to 6dp and summed in
    * DECIMAL (double addition is order-dependent across the m rows);
    * centroid means are decimal-exact sums rounded 6dp — the same
    * cross-engine contract as `kmeansAssign`.
    */
  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
             m: Int = 16, ks: Int = 16, iters: Int = 1,
             rerankDepth: Int = 0): DataFrame =
    pqTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k, m, ks, iters, rerankDepth)

  /** Trained PQ state shared by `pqTopKFrom` and `ivfPqTopKFrom`:
    * `base` = (vec_id, emb, nrm) double-cast corpus, `cb` = the trained
    * codebook packed to ONE broadcastable row for the `graft_pq_encode`
    * kernel (r15: corpus encoding is a pure map over the base scan — no
    * per-subspace fan-out, no per-(vec,s) window, no groupBy(vec_id)
    * repack exchange), and `lut` = per-query ADC partial-dot table.
    */
  private case class PqModel(base: DataFrame, cb: DataFrame, lut: DataFrame)

  /** The m packed subspace codes of `emb` — attach after joining the
    * broadcast one-row `md.cb`. */
  private def pqCodesCol(ks: Int): Column =
    call_function("graft_pq_encode", col("emb"), col("cbflat"),
      col("cbnorms"), lit(ks))

  def pqTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5,
                 m: Int = 16, ks: Int = 16, iters: Int = 1,
                 rerankDepth: Int = 0): DataFrame = {
    val md = pqTrain(raw, nQueries, m, ks, iters)
    // ADC scoring against the WHOLE corpus: encode is a row-local kernel
    // against the broadcast codebook, then one (candidate × query) row
    // with the m lookups fused into a single codegen'd long fold — the
    // corpus never shuffles
    val spd = md.base.join(broadcast(md.cb))
      .select(col("vec_id"), pqCodesCol(ks).as("pcodes"))
      .join(broadcast(pqLutPacked(md, ks)), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pqAdcSum(m, ks).as("spd"))
    if (rerankDepth > 0) pqRerank(spd, md.base, nQueries, k, rerankDepth)
    else pqFinish(spd, md.base, nQueries, k)
  }

  /** IVF-PQ: the coarse quantizer (same seeded cells + cosine assignment
    * as `ivfTopK`) prunes candidates to the query's nProbe cells, and PQ
    * ADC codes score them — the composition production ANN engines ship,
    * here as two independently-oracle-verified halves glued by one join.
    * At 100 TB: IVF bounds the candidates touched per query
    * (nProbe/nCells of the corpus), PQ bounds the bytes per candidate
    * (m codes, no float vectors in the scoring join); the probe set and
    * ADC table are broadcasts, so the corpus-side stays map-local until
    * the final per-(query, candidate) decimal sum.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
                m: Int = 16, ks: Int = 16, nCells: Int = 8, nProbe: Int = 2,
                iters: Int = 1, rerankDepth: Int = 0): DataFrame =
    ivfPqTopKFrom(spread(spark, embeddings(spark, dir)), nQueries, k, m, ks, nCells,
      nProbe, iters, rerankDepth)

  def ivfPqTopKFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5,
                    m: Int = 16, ks: Int = 16, nCells: Int = 8,
                    nProbe: Int = 2, iters: Int = 1, rerankDepth: Int = 0): DataFrame = {
    val md = pqTrain(raw, nQueries, m, ks, iters)
    // coarse quantizer over FULL vectors — identical contract to ivfTopK,
    // and the same r14 rendering: corpus cell assignment is an in-row
    // packed argmax (no nCells-way fan-out, no corpus window); the probe
    // ranking window survives over the nQueries×nCells QUERY rows only
    val cents = md.base.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    val scoredCell = withSlotScores(
      md.base.join(broadcast(md.cb))
        .join(broadcast(packedCents(cents, "cell", "c_emb", "c_nrm"))), nCells,
      slot => cosineRFromNorms(col("emb"), slot.getField("c_emb"),
        col("nrm"), slot.getField("c_nrm")))
    val (_, _, bestCell) = argFirst()
    // r15: the PQ codes and the coarse cell are BOTH row-local functions of
    // the same checkpointed base scan, so they ride ONE projection — the
    // former `codes ⋈ cellOf` corpus self-join on vec_id (two exchanges)
    // is gone outright (guide §2.4)
    val coded = scoredCell
      .select(col("vec_id"), pqCodesCol(ks).as("pcodes"), bestCell.as("ivf_cell"))
    val probes = md.base.filter(col("vec_id") < nQueries).join(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        cosineRFromNorms(col("emb"), col("c_emb"), col("nrm"), col("c_nrm")).as("c_cos"))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("cell").asc)))
      .filter(col("crk") <= nProbe)
      .select(col("vec_id").as("p_query"), col("cell").as("ivf_cell"))
    // candidates = packed code rows inside a probed cell; probe set and
    // ADC tables broadcast, the m lookups fused into one long fold
    val spd = coded
      .join(broadcast(probes), Seq("ivf_cell"))
      .join(broadcast(pqLutPacked(md, ks)),
        col("p_query") === col("query_id") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pqAdcSum(m, ks).as("spd"))
    if (rerankDepth > 0) pqRerank(spd, md.base, nQueries, k, rerankDepth)
    else pqFinish(spd, md.base, nQueries, k)
  }

  /** ADC-shortlist + exact-rerank refine (the FAISS `refine` composition,
    * and the tuned operating point the scale sweep gates): the PQ codes
    * rank the corpus approximately, the top `depth` candidates per query
    * are re-scored with TRUE full-dim cosine, and the final top-k comes
    * from the exact scores. This is how production PQ recovers recall on
    * low-margin corpora: ADC recall@depth is far higher than
    * recall@k (the shortlist only needs to CONTAIN the true neighbors,
    * not rank them), and the exact stage touches depth·nQueries vectors
    * regardless of corpus size — the same bounded-rerank asymmetry as
    * `jlRerank`/`retrieval_rerank`. At 100 TB the codes stay the stored
    * scan representation; only the shortlist join reads float vectors.
    */
  private def pqRerank(spd: DataFrame, base: DataFrame, nQueries: Int,
                       k: Int, depth: Int): DataFrame = {
    val shortlist = pqFinish(spd, base, nQueries, depth)
      .select(col("query_id"), col("neighbor_id"))
    val scored = shortlist
      .join(base.select(col("vec_id").as("neighbor_id"),
        col("emb"), col("nrm")), Seq("neighbor_id"))
      .join(broadcast(base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_emb"), col("emb"), col("q_nrm"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** One-row packed codebook for the `graft_pq_encode` kernel:
    * `cbflat[((s*ks + cell)*sd) + i]` = element i of centroid (s, cell)
    * (the struct sort orders entries (s, cell) ascending) and
    * `cbnorms[s*ks + cell]` = its precomputed norm. The kernel's flat
    * indexing requires the DENSE m·ks codebook every PQ path already
    * contracts on (see the lloydStep empty-cell note) — asserted loudly
    * on the one packed row, so a ragged codebook fails instead of
    * silently mis-indexing. An empty codebook packs to ZERO rows, so the
    * broadcast join downstream produces nothing (same as the old fan-out
    * against an empty centroid table).
    */
  private def pqCodebookPacked(cents: DataFrame, m: Int, ks: Int): DataFrame =
    cents.agg(array_sort(collect_list(struct(col("cs"), col("cell"),
        col("c_sub"), col("c_snrm")))).as("cbe"))
      .filter(size(col("cbe")) > 0)
      .filter(assert_true(size(col("cbe")) === m * ks,
        concat(lit(s"pq codebook: expected dense m*ks = ${m * ks} entries, got "),
          size(col("cbe")).cast("string"))).isNull)
      .select(flatten(transform(col("cbe"), x => x.getField("c_sub"))).as("cbflat"),
        transform(col("cbe"), x => x.getField("c_snrm")).as("cbnorms"))

  /** Per-query ADC table packed to ONE row: `plut[s*ks + cell + 1]` = the
    * 6dp-rounded partial dot of query subvector s with centroid cell, in
    * exact 1e-6 micro-unit LONGS (pd is decimal(28,12) holding a 6dp
    * value, so ×1e6 is integer-valued and the cast is lossless) — m·ks
    * entries, broadcast to every candidate.
    */
  private def pqLutPacked(md: PqModel, ks: Int): DataFrame =
    md.lut.groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct((col("qs") * ks + col("cell")).as("i"),
        (col("pd") * 1000000).cast("long").as("pd6")))).as("ip"))
      .select(col("query_id"), transform(col("ip"), x => x.getField("pd6")).as("plut"))

  /** The fused ADC sum via the `graft_pq_adc` codegen kernel: m array
    * lookups + long adds per (query, candidate) pair. Long micro-unit
    * addition is exact, so spd/1e6 equals the oracle's decimal SUM of
    * the same 6dp partials bit-for-bit — hash parity preserved.
    */
  private def pqAdcSum(m: Int, ks: Int): Column =
    call_function("graft_pq_adc", col("pcodes"), col("plut"), lit(ks))

  /** Codebook training + corpus encoding + per-query ADC table — the
    * shared front half of the PQ paths (doc on `pqTopK`). `iters` Lloyd
    * rounds refine the seeded codebook (each round: decimal-exact
    * assignment + mean recompute, checkpointed so the lineage — and the
    * double broadcast into codes/lut — doesn't recompute the chain);
    * more rounds tighten each subspace's centroids around the data and
    * directly raise ADC recall — the tuned operating point
    * (`ann_pq_tuned`: m=32 2-dim subspaces, 2 rounds) is oracle-gated
    * alongside the 1-round default.
    */
  private def pqTrain(raw: DataFrame, nQueries: Int, m: Int, ks: Int,
                      iters: Int = 1): PqModel = {
    // double-cast once: all subspace math below matches the oracle's
    // double-list rendering bit-for-bit (same fold order as graft_dot)
    val base = raw.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .select(col("vec_id"), col("emb"), norm(col("emb")).as("nrm"))
      .localCheckpoint()
    val dim = base.select(size(col("emb"))).head(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val sd = dim / m
    // subvector explode of a SMALL row subset only (codebook seeds, query
    // LUT) — the corpus-wide (vec_id, s, sub, snrm) checkpoint is gone:
    // corpus encoding is row-local via the kernel below (r15)
    def subOf(rows: DataFrame): DataFrame =
      rows.select(col("vec_id"),
          explode(array((0 until m).map(lit(_)): _*)).as("s"), col("emb"))
        .select(col("vec_id"), col("s"),
          slice(col("emb"), col("s") * sd + 1, lit(sd)).as("sub"))
    // nearest codebook centroid per (vector, subspace), all m subspaces in
    // ONE row-local kernel pass over the corpus scan (graft_pq_encode):
    // ties to low cell id, NaN-greatest / -0.0==0.0 double ordering, 6dp
    // rounding — the window rendering's semantics verbatim (kernel scaladoc
    // + PqEncodeSpec assert the bit-equivalence). NOTE (r14, superseded):
    // the GENERIC packed-struct in-row argmax was measured here and
    // reverted (per-slot struct access ~4× the sd=2 dot; Lloyd scoring
    // sumTask 6 s → 27 s) — the dedicated primitive-array kernel is the
    // form that r14 lesson called for, replacing the per-(vec,s) fan-out
    // join + row_number window + groupBy(vec_id) repack with a pure map.
    def encode(cents: DataFrame): DataFrame =
      base.join(broadcast(pqCodebookPacked(cents, m, ks)))
        .select(col("vec_id"), col("emb"),
          call_function("graft_pq_encode", col("emb"), col("cbflat"),
            col("cbnorms"), lit(ks)).as("pcodes"))
    val c1 = subOf(base.filter(col("vec_id") < ks))
      .select(col("s").as("cs"), col("vec_id").as("cell"),
        col("sub").as("c_sub"), norm(col("sub")).as("c_snrm"))
    // Lloyd iterations per subspace: decimal-exact element sums so the
    // trained codebook is deterministic under any partitioning. A cell
    // that attracts no vectors keeps its PREVIOUS centroid (the GROUP BY
    // would silently drop it, and a ragged codebook breaks the dense
    // m·ks ADC-table contract downstream — observed first at ks=256 on
    // the 10×-scaled sweep corpus, 39/8192 cells empty). At every
    // oracle-gated operating point no cell is empty (the ADC kernel's
    // m·ks requirement would have tripped), so this is a no-op there and
    // DuckDB parity is untouched.
    def lloydStep(cents: DataFrame): DataFrame = {
      // the winner's subvector elements, recovered from the full embedding:
      // emb[s*sd + i] IS slice(emb, s*sd+1, sd)[i], and the winning cell is
      // pcodes[s] — same (s, cell, pos, v) rows as the old window assign's
      // posexplode(sub), feeding the identical order-independent decimal sums
      val updated = encode(cents)
        .select(col("pcodes"), posexplode(col("emb")))
        .select(expr(s"pos div $sd").cast("int").as("s"),
          element_at(col("pcodes"), expr(s"pos div $sd").cast("int") + 1).as("cell"),
          pmod(col("pos"), lit(sd)).as("pos"),
          col("col").cast("decimal(28,12)").as("v"))
        .groupBy(col("s"), col("cell"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
        .select(col("s"), col("cell"), col("pos"),
          round(col("sv").cast("double") / col("cnt"), 6).as("mv"))
        .groupBy(col("s"), col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("dm"))
        .select(col("s").as("cs"), col("cell"),
          transform(col("dm"), x => x.getField("mv")).as("u_sub"))
      cents.select(col("cs"), col("cell"), col("c_sub").as("p_sub"))
        .join(updated, Seq("cs", "cell"), "left")
        .select(col("cs"), col("cell"),
          coalesce(col("u_sub"), col("p_sub")).as("c_sub"))
        .select(col("cs"), col("cell"), col("c_sub"), norm(col("c_sub")).as("c_snrm"))
    }
    // checkpoint each round: the codebook is m·ks tiny rows but its lineage
    // is a corpus-wide aggregation — and the final codebook feeds BOTH the
    // encode assignment and the ADC table below
    val trained = (1 to iters.max(1)).foldLeft(c1) { (c, _) =>
      lloydStep(c).localCheckpoint()
    }
    // ADC lookup table: every query subvector × every centroid, built once
    val lut = subOf(base.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("s").as("qs"), col("sub").as("q_sub"))
      .join(broadcast(trained), col("qs") === col("cs"))
      .select(col("query_id"), col("qs"), col("cell"),
        round(dot(col("q_sub"), col("c_sub")), 6).cast("decimal(28,12)").as("pd"))
    // the one-row packed TRAINED codebook: consumers attach it by broadcast
    // and encode row-locally (its parent `trained` is checkpointed, so the
    // one-row agg is a tiny job per consumer, never a chain replay)
    PqModel(base, pqCodebookPacked(trained, m, ks), lut)
  }

  /** Normalize summed ADC partials by the TRUE stored norms and take the
    * deterministic per-query top-k — the shared back half of the PQ paths.
    */
  private def pqFinish(spd: DataFrame, base: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val nrms = base.select(col("vec_id"), col("nrm"))
    val fin = spd
      .join(broadcast(nrms.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("nrm").as("q_nrm"))), Seq("query_id"))
      .join(nrms.select(col("vec_id").as("neighbor_id"), col("nrm")), Seq("neighbor_id"))
      // spd arrives in 1e-6 micro-units (long); /1e6 yields the identical
      // nearest-double as the decimal-sum cast did — same 6dp rounding
      .select(col("query_id"), col("neighbor_id"),
        round((col("spd").cast("double") / lit(1e6)) / (col("q_nrm") * col("nrm")), 6).as("acos"))
    fin.withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("acos").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"), col("acos"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss row j over `dim` input dims:
    * sign from md5("jl_<j>_<i>") first-4-hex-char parity — the LSH
    * hyperplane derivation under its own namespace, computed once on the
    * driver and shipped as a literal weight vector.
    */
  private def jlRow(j: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl_${j}_$i".getBytes("UTF-8"))
      if ((d(1) & 1) == 0) 1.0 else -1.0
    }

  /** In-row projected vector: kOut codegen'd dot products against literal
    * ±1 rows, scaled by 1/√kOut (Achlioptas' database-friendly JL family —
    * E‖proj(a)−proj(b)‖² = ‖a−b‖²).
    */
  private def jlVec(emb: Column, kOut: Int, dim: Int): Column =
    array((0 until kOut).map { j =>
      dot(emb, typedLit(jlRow(j, dim))) / lit(math.sqrt(kOut.toDouble))
    }: _*)

  /** Johnson–Lindenstrauss random projection: every embedding reduced from
    * `dim` to `kOut` dims by a deterministic ±1 sign matrix. A pure narrow
    * map — literal weights, zero shuffle, one codegen'd dot kernel per
    * output dim — so at 100 TB the projection is free relative to the scan
    * and every downstream pairwise op (ANN, near-dup, clustering) pays
    * dim/kOut× less arithmetic and memory. Output exploded to
    * (vec_id, j, value) rows for engine-agnostic comparison.
    */
  def jlProject(spark: SparkSession, dir: String, kOut: Int = 16, dim: Int = 64): DataFrame =
    embeddings(spark, dir)
      .select(col("vec_id"), posexplode(jlVec(col("embedding"), kOut, dim)))
      .select(col("vec_id"), col("pos").cast("long").as("j"), round(col("col"), 6).as("value"))

  /** Brute-force top-k in the PROJECTED space: the composition the JL map
    * exists for — the scoring scan does 16-dim dot products instead of
    * 64-dim (4× less arithmetic and candidate memory), with recall against
    * the float brute-force baseline spec-gated. Same broadcast-queries /
    * one-corpus-scan shape as `bruteForceTopK`; at 100 TB the projection
    * folds into the scan projection, so the reduction is free.
    */
  def jlTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
             kOut: Int = 16, dim: Int = 64): DataFrame = {
    val v = embeddings(spark, dir)
      .select(col("vec_id"), jlVec(col("embedding"), kOut, dim).as("proj"))
      .select(col("vec_id"), col("proj"), norm(col("proj")).as("pn"))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("proj").as("q_proj"), col("pn").as("q_pn"))
    val scored = v.select(col("vec_id").as("neighbor_id"), col("proj"), col("pn"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_proj"), col("proj"), col("q_pn"), col("pn")).as("cos"))
    topK(scored, k)
  }

  /** Two-stage JL search — the production composition: stage 1 ranks the
    * corpus in the cheap 16-dim projected space and keeps `depth`
    * candidates per query; stage 2 reranks ONLY those candidates with
    * exact full-dim cosine. The corpus-sized scan pays 16-dim arithmetic;
    * the 64-dim work is bounded at nQueries·depth rows regardless of
    * corpus size (the retrieval_rerank asymmetry). Candidate recall is the
    * only loss — spec-gated against brute force and against the
    * depth/corpus random-touch baseline. On this synthetic corpus the
    * cosine margins are near-random (the adversarial case for any metric
    * projection — single-probe LSH records 0.14 here); measured stage-1
    * recall of the true top-5 at depth 100: 0.70.
    */
  def jlRerank(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
               depth: Int = 100, kOut: Int = 16, dim: Int = 64): DataFrame =
    jlRerankFrom(embeddings(spark, dir), nQueries, k, depth, kOut, dim)

  def jlRerankFrom(raw: DataFrame, nQueries: Int = 10, k: Int = 5,
                   depth: Int = 100, kOut: Int = 16, dim: Int = 64): DataFrame = {
    val base = raw
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
        jlVec(col("embedding"), kOut, dim).as("proj"))
      .withColumn("pn", norm(col("proj")))
      .localCheckpoint() // one corpus materialization feeds both stages
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("proj").as("q_proj"), col("pn").as("q_pn"))
    val cands = base.select(col("vec_id").as("neighbor_id"), col("proj"), col("pn"))
      .join(broadcast(q.select(col("query_id"), col("q_proj"), col("q_pn"))),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_proj"), col("proj"), col("q_pn"), col("pn")).as("pcos"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("pcos").desc, col("neighbor_id").asc)))
      .filter(col("prnk") <= depth)
      .select(col("query_id"), col("neighbor_id"))
    val scored = cands
      .join(base.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm")),
        Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_nrm"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineRFromNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    topK(scored, k)
  }

  /** The est-vs-exact audit that licenses the projection (the minhash/KMV
    * discipline): for every pair of the first `nVecs` vectors, the true
    * euclidean distance, the projected distance, and their ratio. Both
    * distances are computed from the SAME dot-product identity
    * ‖a−b‖² = a·a + b·b − 2·a·b so engine and oracle share the float
    * path; the pair join is a broadcast of nVecs in-row-projected rows —
    * the audit never touches the corpus beyond its sample.
    */
  def jlAudit(spark: SparkSession, dir: String, nVecs: Int = 40,
              kOut: Int = 16, dim: Int = 64): DataFrame = {
    val v = embeddings(spark, dir).filter(col("vec_id") < nVecs)
      .select(col("vec_id"), col("embedding").as("emb"),
        jlVec(col("embedding"), kOut, dim).as("proj"))
    val a = v.select(col("vec_id").as("a_id"), col("emb").as("ae"), col("proj").as("ap"))
    val b = v.select(col("vec_id").as("b_id"), col("emb").as("be"), col("proj").as("bp"))
    def dist2(x: Column, y: Column, xy: Column) = x + y - lit(2.0) * xy
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        dist2(dot(col("ae"), col("ae")), dot(col("be"), col("be")),
          dot(col("ae"), col("be"))).as("d2o"),
        dist2(dot(col("ap"), col("ap")), dot(col("bp"), col("bp")),
          dot(col("ap"), col("bp"))).as("d2p"))
      .select(col("a_id"), col("b_id"),
        round(sqrt(col("d2o")), 6).as("dist_orig"),
        round(sqrt(col("d2p")), 6).as("dist_proj"),
        round(sqrt(col("d2p") / col("d2o")), 6).as("ratio"))
  }
}
