package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.Scale.maybeBroadcast
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Training-data deduplication over the `documents` / `embeddings` tables —
  * the operations a 100 TB pre-training pipeline runs first.
  *
  * Scale posture: every variant is a shuffle-on-key groupBy or a bucketed
  * self-join — no cross joins on the full corpus. MinHash-LSH is the scale
  * path (candidate generation via band buckets); the pairwise verifiers only
  * ever run inside a bucket / blocking group.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on the normalized-text fingerprint. One
    * shuffle on a 128-bit key; at 100 TB this is the cheapest possible
    * full-corpus dedup (key is 16 bytes/doc regardless of doc size).
    * Output: one row per distinct text, canonical (min) doc_id + dup count.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_ct"))

  /** Duplicate-cluster size histogram — the corpus-health statistic behind
    * "how duplicated is this crawl" (cf. the CCNet/C4 dup-rate tables):
    * for each exact-duplicate cluster size, how many clusters and how many
    * documents sit at that size. Composes on `exact`'s fingerprint groups;
    * the second aggregate's key space is cluster SIZES (≤ max multiplicity,
    * in practice tens), so the only corpus-scale stage is the fingerprint
    * shuffle `exact` already pays, with map-side partial counts.
    */
  def dupSizeHistogram(spark: SparkSession, dir: String): DataFrame =
    exact(spark, dir)
      .groupBy(col("dup_ct"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("dup_ct"), col("n_groups"),
        (col("dup_ct") * col("n_groups")).as("n_docs"))

  /** Passage-level exact dedup — the line/paragraph-granularity pass the
    * C4/CCNet pipelines run between document-exact and near-dup dedup:
    * boilerplate and mirrored passages repeat across otherwise-distinct
    * documents, so dropping repeated PASSAGES removes text that
    * document-level fingerprints can never catch. The corpus has no
    * newline structure, so a "passage" is a fixed `width`-token window
    * (the same segmentation contract as `TextPipeline.chunkDocuments`
    * with stride = width).
    *
    * Keep rule: a passage survives iff its (doc_id, passage_idx) is the
    * globally FIRST occurrence of its text — the deterministic
    * keep-first-seen rule every distributed line-dedup uses (order by
    * ingest key, not arrival). Survivors are reassembled in passage
    * order; per-doc kept/total counts quantify the strip.
    *
    * Scale: ONE corpus shuffle keyed by the passage fingerprint (the
    * row_number groups are duplicate sets — tiny), then one doc_id
    * shuffle for reassembly. Same posture as `exact`, at passage
    * granularity; no joins, no pairs.
    */
  def passageDedupStrip(spark: SparkSession, dir: String, width: Int = 32): DataFrame =
    passageDedupStripFrom(spread(spark, documents(spark, dir)), width)

  /** Core passage dedup over any (doc_id, text) frame — the `From` form
    * the 10× sweep drives with salted replicas.
    */
  def passageDedupStripFrom(docsIn: DataFrame, width: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val passages = docsIn
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint() // Generate re-evals its input per output row
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(width))).as("start"))
      .select(col("doc_id"), (col("start") / width).cast("long").as("pidx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(width))).as("passage"))
    // first-occurrence rank inside each duplicate set; partitioning by the
    // fingerprint keeps the shuffled key narrow while the per-group sort
    // touches only the duplicate set's rows
    val rk = row_number().over(
      Window.partitionBy(md5(col("passage"))).orderBy(col("doc_id"), col("pidx")))
    passages
      .withColumn("rk", rk)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("rk") === 1,
              struct(col("pidx"), col("passage"))))),
            s => s.getField("passage"))).as("text_clean"))
  }

  // ---- MinHash + LSH -------------------------------------------------------

  /** Number of hash functions and LSH banding (16 bands × 4 rows). The
    * hash-family coefficients and shingle combiners live in
    * `graft.plans.expr.Kernels` (shared with the native expressions).
    */
  val NumHashes: Int = graft.plans.expr.Kernels.NumHashes
  val Bands     = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** md5 hash per token — native `graft_hash_tokens` kernel (md5 of the
    * UTF-8 bytes, first 4 digest bytes as an unsigned int — identical to
    * `conv(substring(md5(w),1,8),16,10)` without the hex round-trip).
    */
  def tokenHashes(text: Column): Column = call_function("graft_hash_tokens", tokens(text))

  /** Distinct 3-shingle hashes from a token-hash array — native
    * `graft_shingles` kernel (positional combine mod 2^61-1, reduced to 32
    * bits, first-occurrence dedup; <3-token docs fold whatever exists).
    */
  def shingleHashesFrom(th: Column): Column = call_function("graft_shingles", th)

  /** 64-slot MinHash signature — native `graft_minhash` kernel:
    * slot_i = min (a_i·h + b_i) mod 4294967291, exact int64 (h < 2^32,
    * md5-derived a_i < 2^31 — see `Kernels.CoeffA` for why the first,
    * small-multiplier family was a degenerate estimator). The old
    * `aggregate` fold allocated a 64-long array per shingle and ran
    * interpreted (higher-order functions are CodegenFallback); the kernel
    * is one generated loop.
    */
  def minhashSignatureFrom(hashed: Column): Column = call_function("graft_minhash", hashed)

  /** text → 64-slot signature: the one composition of the three kernels.
    * Every near-dup path (batch, incremental, the corpus store, streaming)
    * builds its signatures here; only `minhashAccuracy` runs the chain
    * itself, because it keeps the shingle set as well.
    */
  def minhashSignature(text: Column): Column =
    minhashSignatureFrom(shingleHashesFrom(tokenHashes(text)))

  /** doc_id → signature table. `spread` first: the corpus arrives as few
    * parquet splits, and this is the pipeline's CPU-heavy stage — it must
    * run on all cores.
    */
  def signatureTable(spark: SparkSession, dir: String): DataFrame =
    spread(spark, documents(spark, dir))
      .select(col("doc_id"), minhashSignature(col("text")).as("sig"))

  /** The `Bands` LSH keys of a signature: band b is slots
    * [b·RowsPerBand, (b+1)·RowsPerBand) as decimal strings joined by "_"
    * (band 0 of the signature 0..63 is "0_1_2_3").
    *
    * This is also a STORED format: `CorpusJob`'s band index and its
    * `_bloom` sidecar hold these strings, so changing the encoding (or the
    * banding) orphans every existing band index — its probes would stop
    * finding the duplicates it holds, without an error.
    */
  def bandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => concat_ws("_", transform(
        slice(sig, b * RowsPerBand + 1, lit(RowsPerBand)), x => x.cast("string"))))

  /** One row per (document, band) of a (doc_id, sig, ...) frame: doc_id,
    * the `carry` columns, then `band` (int) and `band_key` (`bandKeys`).
    */
  def bandRows(sigs: DataFrame, carry: String*): DataFrame =
    sigs.select((col("doc_id") +: carry.map(col)) :+ posexplode(bandKeys(col("sig"))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

  /** Estimated Jaccard of two signatures: the matching-slot fraction,
    * rounded to 6 dp (the figure every pair oracle hashes).
    */
  def estJaccard(a: Column, b: Column): Column =
    round(call_function("graft_eq_count", a, b).cast("double") / lit(NumHashes.toDouble), 6)

  /** `estJaccard` on collected signatures (the streaming operator's state).
    * Spark rounds a double with BigDecimal HALF_UP, and so does this.
    */
  def estJaccard(a: Seq[Long], b: Seq[Long]): Double =
    BigDecimal(a.zip(b).count { case (x, y) => x == y }.toDouble / NumHashes)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The lowest band whose `bandKeys` entries agree, if any. A pair that
    * shares several buckets is emitted by this band only, so a per-bucket
    * operator emits it exactly once.
    */
  def firstSharedBand(a: Seq[Long], b: Seq[Long]): Option[Int] =
    (0 until Bands).find { i =>
      val (lo, hi) = (i * RowsPerBand, (i + 1) * RowsPerBand)
      a.slice(lo, hi) == b.slice(lo, hi)
    }

  /** MinHash+LSH near-dup candidate pairs: signature → 16 band-hash keys →
    * shuffle on (band, bandHash) → pairs within each bucket, deduped.
    * Emits (doc_a, doc_b, est_jaccard) with est = matching-slot fraction.
    * At scale: buckets are tiny, the self-join is per-bucket; the only
    * full-corpus cost is one shuffle of 64-long signatures.
    */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    // materialize signatures once (localCheckpoint breaks lineage so the
    // expensive shingle-hash pass runs a single time, not once per join
    // side; at cluster scale this is a persisted intermediate table)
    lshPairsFromSigs(signatureTable(spark, dir).localCheckpoint(), threshold)

  /** The LSH band join over an already-materialized signature table —
    * shared by the corpus-vs-self path above and callers that restrict
    * the doc set first (the curation funnel).
    */
  def lshPairsFromSigs(sigs: DataFrame, threshold: Double): DataFrame = {
    // band rows carry only (band, key, id) — the 64-slot signatures stay
    // out of the candidate-generation shuffle
    val banded = bandRows(sigs)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** End-to-end curation funnel: the per-stage survivor counts of the
    * sequential pipeline a corpus actually runs — ingest → quality filter
    * (`TextPipeline.filterReasons` rules) → exact dedup (canonical = min
    * doc_id per normalized-text fingerprint AMONG quality survivors) →
    * near-dup dedup (LSH pairs recomputed among exact survivors; the
    * greater id of each pair drops) → decontamination (no shared 5-gram
    * with the benchmark set, doc_id < `benchBound`). Each stage is
    * restricted to the previous stage's survivors — a pair with an
    * already-dropped doc must not kill a survivor, so the near-dup
    * signatures are built on the stage-2 subset, not the corpus. Output:
    * one row per stage (stage_idx, stage, n_docs), the funnel dashboard.
    */
  def curationFunnel(spark: SparkSession, dir: String, benchBound: Long = 50,
                     threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // keyed spread (r15): the corpus scan is one split at test SF, and
    // s1's checkpoint inherits it through the broadcast quality join — the
    // exact-dedup fingerprint pass (lower/trim/regexp_replace/md5 per doc)
    // then ran as ONE 1.85 s serial task (profiled, stage 53). Keyed on
    // doc_id (unique → even) rather than round-robin: the keyless form
    // pays a serial local SORT of the text rows before exchanging
    // (SPARK-23207), re-serializing most of what the spread buys.
    val corpus = documents(spark, dir).filter(col("doc_id") >= benchBound)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
    val quality = graft.pipeline.TextPipeline.filterReasons(spark, dir)
      .filter(col("kept") === 1).select(col("doc_id"))
    val s1 = corpus.join(quality, "doc_id").localCheckpoint()
    val s2 = s1
      .withColumn("fp", md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))
      .withColumn("canon", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("canon"))
      .select(col("doc_id"), col("text")).localCheckpoint()
    val sigs = spread(spark, s2)
      .select(col("doc_id"), minhashSignature(col("text")).as("sig")).localCheckpoint()
    val losers = lshPairsFromSigs(sigs, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val s3 = s2.select(col("doc_id")).join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val s4 = s3.join(contamination(spark, dir, benchBound).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    def stage(i: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i.toLong).as("stage_idx"), lit(name).as("stage"), col("n_docs"))
    stage(0, "ingest", corpus)
      .union(stage(1, "quality", s1))
      .union(stage(2, "exact_dedup", s2))
      .union(stage(3, "near_dedup", s3))
      .union(stage(4, "decontaminated", s4))
  }

  /** Cross-source near-duplicate overlap matrix: for every source pair
    * (canonicalized so the matrix is upper-triangular, diagonal =
    * within-source), the straddling near-dup pair count and mean
    * estimated Jaccard — the corpus-composition diagnostic that shows
    * which ingest feeds duplicate each other and how badly. Two id-keyed
    * joins of the LSH pair list to the doc→source projection, then a
    * tiny (|sources|²-bounded) aggregate; the mean folds 6dp decimals so
    * the figure is engine-exact.
    */
  def sourceOverlapMatrix(spark: SparkSession, dir: String,
                          threshold: Double = 0.5): DataFrame = {
    val src = documents(spark, dir).select(col("doc_id"), col("source"))
    minhashLsh(spark, dir, threshold)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"),
        col("est_jaccard").cast("decimal(28,10)").as("est"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("est")).cast("double") / count(lit(1)), 6).as("mean_est"))
  }

  /** Incremental dedup — the shape a production corpus actually runs:
    * an INCOMING BATCH is checked against the existing corpus, not the
    * corpus against itself. Asymmetric LSH join: band keys are computed
    * for both sides, but only batch×corpus collisions are candidates
    * (never corpus×corpus — that work was already paid when those docs
    * were ingested). The batch side is an ingest micro-batch, small by
    * contract, so its band rows ride a size-gated broadcast; the corpus
    * is scanned once and shuffles nothing but its band keys when the gate
    * closes. At 100 TB the corpus side of this join is served by a
    * persisted band index (the `sigs` checkpoint here), making per-batch
    * cost O(batch × bucket), independent of corpus size.
    *
    * Output: (batch_id, corpus_id, est_jaccard ≥ threshold) — the arrivals
    * that near-duplicate an already-ingested document.
    */
  def incrementalDedup(spark: SparkSession, dir: String,
                       batchSource: String = "src7",
                       threshold: Double = 0.5): DataFrame = {
    val sigs = spread(spark, documents(spark, dir))
      .select(col("doc_id"), col("source"), minhashSignature(col("text")).as("sig"))
      .localCheckpoint()
    val batchBands = bandRows(sigs.filter(col("source") === batchSource))
      .select(col("doc_id").as("batch_id"), col("band"), col("band_key"))
    val corpusBands = bandRows(sigs.filter(col("source") =!= batchSource))
      .select(col("doc_id").as("corpus_id"), col("band"), col("band_key"))
    val cand = corpusBands.join(maybeBroadcast(batchBands), Seq("band", "band_key"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("batch_id"), col("sig").as("sig_a")), "batch_id")
      .join(sigs.select(col("doc_id").as("corpus_id"), col("sig").as("sig_b")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** MinHash signature slots, exploded for oracle comparison (doc_id < 20).
    * The signature is materialized (localCheckpoint) before the explode:
    * Generate re-evaluates a non-trivial generator input per OUTPUT row,
    * which would multiply the signature cost 64×.
    */
  def minhashSigExploded(spark: SparkSession, dir: String): DataFrame =
    signatureTable(spark, dir)
      .filter(col("doc_id") < 20)
      .localCheckpoint()
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").cast("long").as("hash_idx"), col("col").as("minhash"))

  /** Sketch-accuracy audit for the MinHash estimator — the same
    * est-vs-exact discipline as `Sketches.kmvDistinct`: every LSH
    * candidate pair carries its signature estimate AND the exact
    * 3-shingle set Jaccard, plus the absolute error. This is the table a
    * pipeline inspects before trusting `est_jaccard` thresholds at
    * corpus scale (where the exact column is dropped and only the
    * estimate survives).
    *
    * At scale: exact sets attach only to CANDIDATE pairs (LSH-bounded,
    * ≪ corpus²); the shingle-set table is the signature pass re-used —
    * one checkpointed computation feeds signatures, bands, and the
    * audit.
    */
  def minhashAccuracy(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val base = spread(spark, documents(spark, dir))
      .select(col("doc_id"), shingleHashesFrom(tokenHashes(col("text"))).as("hs"))
      .select(col("doc_id"), array_distinct(col("hs")).as("hs"))
      .select(col("doc_id"), col("hs"), minhashSignatureFrom(col("hs")).as("sig"))
      .localCheckpoint() // one shingle pass feeds bands AND exact sets
    val pairs = lshPairsFromSigs(base.select(col("doc_id"), col("sig")), threshold)
    pairs
      .join(base.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
          (size(col("ha")) + size(col("hb")) -
            size(array_intersect(col("ha"), col("hb")))).cast("double"), 6)
          .as("exact_jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
  }

  /** Threshold-sensitivity histogram over the est-vs-exact audit table:
    * candidate-pair counts per 0.05-wide EXACT-similarity bin with the
    * estimator's mean absolute error in that bin — the evidence a
    * pipeline owner reads before choosing the dedup cut (how many pairs
    * does moving the threshold 0.05 add/drop, and can the estimator be
    * trusted at that operating point). Composes entirely on
    * [[minhashAccuracy]]; the new work is one tens-of-rows aggregate.
    */
  def thresholdHist(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame =
    minhashAccuracy(spark, dir, threshold)
      .select((floor(col("exact_jaccard") * 20) / 20.0).as("bin"),
        col("abs_err").cast("decimal(28,10)").as("err"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("err")).cast("double") / count(lit(1)), 6).as("mean_abs_err"))

  /** Corpus-clean capstone: drop every document that near-duplicates a
    * lower-id survivor (single-pass canonicalization: for each LSH pair
    * keep the smaller doc_id; the greater side is removed). Exact dups are
    * a special case (est_jaccard = 1). Output: surviving doc ids.
    */
  def corpusClean(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val dupes = minhashLsh(spark, dir, threshold)
      .select(col("doc_b").as("dup_id")).distinct()
    documents(spark, dir)
      .join(dupes, col("doc_id") === col("dup_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** Near-dup clusters: connected components over the LSH pair graph,
    * labels = min doc_id per component (the canonical representative a
    * corpus-dedup keeps). Iterative min-label propagation, restricted to
    * the edge-induced subgraph — singletons never enter the loop and are
    * stamped `cluster_id = doc_id` by the final left join, so each
    * iteration joins only O(|pairs|) rows however large the corpus is.
    * Lineage is truncated per iteration (`localCheckpoint`), the standard
    * Spark iterative-graph pattern; iteration count is bounded by the
    * component diameter (near-dup clusters are shallow).
    */
  def corpusClusters(spark: SparkSession, dir: String, threshold: Double = 0.5,
                     maxIters: Int = 20): DataFrame = {
    val pairs = minhashLsh(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    clusterLabels(pairs, documents(spark, dir).select(col("doc_id")), maxIters)
  }

  /** Iteration count of the most recent `clusterLabels` convergence loop
    * in this JVM, surfaced so the bench can record it alongside the wall
    * time — convergence drift and rig noise are indistinguishable from the
    * timing alone (the label-propagation loop is the suite's most
    * variance-exposed query).
    */
  @volatile var lastClusterIterations: Int = 0

  /** Core component labeling: `pairs(doc_a, doc_b)` is the undirected edge
    * list, `docs(doc_id)` the full node universe; returns
    * (doc_id, cluster_id = component-min doc_id), singletons self-labeled.
    */
  def clusterLabels(pairsIn: DataFrame, docs: DataFrame, maxIters: Int = 50): DataFrame = {
    val pairs = pairsIn.localCheckpoint()
    // Key-repartition (no explicit count → AQE coalesces by BYTES) before
    // pinning the edge table: the raw union inherits the pair frame's
    // partitioning ×2 (measured r14: 64 near-empty partitions at sf0.1,
    // re-scanned by 64 tasks in EVERY convergence round — ~0.65 s/round of
    // pure task overhead; guide §2.2 "fewer, larger partitions"). The
    // coalesced checkpoint scales with the edge bytes: a handful of
    // partitions here, advisory-sized thousands at corpus scale.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0) {
      // never exit silently un-converged — labels would diverge from the
      // transitive-closure oracle; with pointer-jumping below, rounds are
      // O(log diameter), so this bound covers any real graph
      iter += 1
      require(iter <= maxIters, s"corpusClusters: no convergence in $maxIters rounds")
      val nbrMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("lab")).as("nbr_lab"))
      // old label carried through the round: the convergence check below
      // is then a filter over the checkpointed frame, not another
      // join-against-previous-labels shuffle per iteration
      val prop = labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(col("id"), col("lab").as("old_lab"),
          least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("lab"))
      // pointer-jumping: lab ← lab(lab) halves the remaining propagation
      // distance each round (a 2^50-hop chain converges in ~50 rounds).
      // Skipped in round 1: near-dup clusters are usually shallow enough
      // that plain propagation converges immediately, and the jump join
      // would be pure overhead there. (r15: a DOUBLE jump per round —
      // log₄ contraction — was measured and REVERTED: every registry
      // graph converges in 2-4 rounds, so the second self-join's plan
      // growth cost 10-28% on all nine consumers while saving no rounds;
      // OPTIMIZATION_r15.md.)
      // LAZY checkpoint (r15): the eager form ran one materialization job
      // and THEN the convergence count — two jobs per round; the lazy mark
      // lets the count job itself materialize (and pin) the full frame, so
      // each round pays exactly ONE job (the loop was profiled r14 as ~45
      // driver-bound 10-80 ms jobs/run — per-job fixed overhead, guide §5)
      val jumped = (if (iter == 1) prop
        else prop.as("p")
          .join(prop.select(col("id").as("jid"), col("lab").as("jlab")).as("j"),
            col("p.lab") === col("jid"), "left")
          .select(col("p.id").as("id"), col("p.old_lab").as("old_lab"),
            least(col("p.lab"), coalesce(col("jlab"), col("p.lab"))).as("lab")))
        .localCheckpoint(false)
      changed = jumped.filter(col("lab") =!= col("old_lab")).count()
      labels = jumped.select(col("id"), col("lab"))
    }
    lastClusterIterations = iter
    docs
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster_id"))
  }

  /** Near-dup cluster REPRESENTATIVE selection: one surviving document per
    * cluster, chosen by QUALITY (unique-token ratio, ties to the lower
    * doc_id) rather than the arbitrary min-id `corpusClean` keeps — what a
    * production dedup actually retains (drop the scraped mirror, keep the
    * clean original). Composes the connected-components labels with the
    * quality score and takes a per-cluster argmax window — parallel across
    * clusters; singletons pass through as their own representative.
    */
  def keepBestOfCluster(spark: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = corpusClusters(spark, dir, threshold)
    val q = documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), uniqueTokenRatioFrom(col("toks")).as("quality"))
    labels.join(q, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id").asc)))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"), col("quality"))
  }

  /** Leakage-free train/val/test split: the split hash is computed on the
    * near-dup CLUSTER label, not the document id, so every member of a
    * near-duplicate cluster lands in the SAME split — the standard
    * eval-contamination guard (a near-copy of a validation doc in train
    * inflates the score exactly like a leaked doc). Permille cuts over the
    * same engine-portable md5 used by every sampler here: any worker in
    * any language recomputes the assignment. Scale shape: one extra
    * map-side projection over the `corpusClusters` labels.
    */
  def leakageFreeSplit(spark: SparkSession, dir: String, threshold: Double = 0.5,
                       testPermille: Int = 10, valPermille: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix64
    corpusClusters(spark, dir, threshold)
      .select(col("doc_id"), col("cluster_id"),
        pmod(md5Prefix64(col("cluster_id").cast("string")), lit(1000L)).as("h"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("h") < testPermille, lit("test"))
          .when(col("h") < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")).as("split"))
  }

  /** The leakage audit that justifies `leakageFreeSplit`: count near-dup
    * pairs whose endpoints land in DIFFERENT splits under (a) the naive
    * per-DOCUMENT hash split everyone writes first, and (b) the
    * cluster-aware split. Straddling pairs are train→test leakage — the
    * eval set contains near-copies of training documents and the benchmark
    * number is inflated. The cluster-aware row must audit to ZERO by
    * construction (both endpoints share a cluster_id, so they share a
    * split); the naive row is the measured cost of skipping clustering.
    *
    * Scale: the pair set is the already-bounded LSH output; both audits
    * join it against id→split maps — id-only shuffles, two 1-row
    * aggregates. Nothing here adds corpus-scale work beyond the dedup
    * pipeline the split already runs.
    */
  def splitLeakageAudit(spark: SparkSession, dir: String, threshold: Double = 0.5,
                        testPermille: Int = 10, valPermille: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix64
    val pairs = minhashLsh(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val naive = documents(spark, dir)
      .select(col("doc_id"),
        pmod(md5Prefix64(col("doc_id").cast("string")), lit(1000L)).as("h"))
      .select(col("doc_id"),
        when(col("h") < testPermille, lit("test"))
          .when(col("h") < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")).as("split"))
    val cluster = leakageFreeSplit(spark, dir, threshold, testPermille, valPermille)
      .select(col("doc_id"), col("split"))
    def audit(splits: DataFrame, method: String): DataFrame =
      pairs
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
        .agg(
          coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)), lit(0L))
            .as("straddling_pairs"),
          count(lit(1)).as("total_pairs"))
        .select(lit(method).as("method"), col("straddling_pairs"), col("total_pairs"))
    audit(naive, "naive_doc_hash").unionAll(audit(cluster, "cluster_aware"))
  }

  /** Benchmark-contamination check: flag corpus documents (doc_id ≥
    * `benchBound`) sharing at least one distinct word 5-gram with the
    * benchmark set (doc_id < `benchBound`), with the shared-gram count.
    * The benchmark gram set is small by construction → broadcast join;
    * the corpus side only ever shuffles its distinct grams.
    */
  /** Per-doc DISTINCT word n-grams — shared by the exact contamination
    * check and its Bloom-filter rendering. Gram arrays materialized
    * BEFORE the explode: Generate re-evaluates its generator input per
    * OUTPUT row, which would re-run the whole array construction once
    * per emitted gram.
    */
  private def wordGrams(spark: SparkSession, dir: String, n: Int): DataFrame =
    spread(spark, documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // graft_ngrams (r15): same grams in the same order as the old
      // transform(sequence)/concat_ws tree (KernelSpec-asserted), minus
      // the interpreted CodegenFallback per-element allocation; < n
      // tokens → empty array, exactly the old when/otherwise branch
      .select(col("doc_id"),
        array_distinct(call_function("graft_ngrams", col("toks"), lit(n))).as("gram_arr"))
      .localCheckpoint()
      .select(col("doc_id"), explode(col("gram_arr")).as("gram"))

  def contamination(spark: SparkSession, dir: String, benchBound: Long = 50,
                    n: Int = 5): DataFrame = {
    val grams = wordGrams(spark, dir, n)
    val bench = grams.filter(col("doc_id") < benchBound).select(col("gram")).distinct()
    grams.filter(col("doc_id") >= benchBound)
      .join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-filter contamination screen: the benchmark gram set compiled
    * into kHash·mBits md5 bit positions (a FIXED 2 KB bitmap at the
    * defaults, vs the exact check's gram-string broadcast), corpus docs
    * scored by how many of their grams test bloom-positive (all kHash
    * bits set). One-sided by construction: a gram actually in the
    * benchmark always tests positive, so `n_bloom_pos ≥ n_shared` per
    * doc and a zero here clears a doc with NO exact check needed — the
    * membership analog of the CMS frequency sketch, and the screen a
    * 100 TB decontamination pass runs before the exact verify (the
    * bitmap ships to every executor no matter how large the benchmark
    * suite grows; false-positive rate is the classic (1−e^{−kn/m})^k).
    *
    * The bit table is built as DISTINCT set positions (≤ mBits rows)
    * and broadcast; the probe is explode(kHash)→join→count==kHash, all
    * md5-portable so the oracle reproduces every bit.
    */
  def bloomContamination(spark: SparkSession, dir: String, benchBound: Long = 50,
                         n: Int = 5, kHash: Int = 3, mBits: Int = 16384): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix64
    val grams = wordGrams(spark, dir, n)
    val js = explode(array((0 until kHash).map(lit(_)): _*)).as("j")
    def bit = pmod(md5Prefix64(concat_ws("_", col("j"), col("gram"))), lit(mBits.toLong))
    val bits = grams.filter(col("doc_id") < benchBound)
      .select(col("gram")).distinct()
      .select(col("gram"), js)
      .select(bit.as("bit")).distinct()
    grams.filter(col("doc_id") >= benchBound)
      .select(col("doc_id"), col("gram"), js)
      .select(col("doc_id"), col("gram"), bit.as("bit"))
      .join(broadcast(bits), "bit")
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === kHash)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bloom_pos"))
  }

  /** Exact-substring duplicate spans (the removal semantics of
    * suffix-array training-data dedup, rendered distributable): per doc,
    * the maximal contiguous token ranges covered by word `k`-grams that
    * occur ≥2 times corpus-wide. Any such range is verbatim-repeated
    * text (every k-window inside it exists elsewhere) — the spans a
    * dedup pass would cut. The suffix array is replaced by positional
    * k-shingle hashing + gaps-and-islands: (doc, pos, hash64) rows,
    * global occurrence counts, covered positions merged into islands by
    * a per-doc window (break when the next seed starts past the running
    * coverage end). All shuffles key on hash or doc_id; the only sort is
    * per-doc.
    */
  def duplicateSpans(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    duplicateSpansFrom(spread(spark, documents(spark, dir)), k)

  /** `duplicateSpans` over an arbitrary (doc_id, text) frame — the entry
    * point the scale sweep feeds with replicated corpora.
    */
  def duplicateSpansFrom(docs: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix60
    import org.apache.spark.sql.expressions.Window
    // gram-hash arrays materialized BEFORE the explode (Generate
    // re-evaluates its generator input per output row). 60-bit gram
    // fingerprints: the 32-bit prefix the samplers use collides often
    // enough to manufacture false duplicate spans at bench scale already
    // (caught by BenchScaleSubstr's exact-multiple gate).
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), transform(
          sequence(lit(1), size(col("toks")) - (k - 1)),
          i => md5Prefix60(concat_ws(" ",
            (0 until k).map(o => element_at(col("toks"), i + o)): _*))).as("harr"))
      .localCheckpoint()
      .select(col("doc_id"), posexplode(col("harr")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(dup, "h")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > k, lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_seeds"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_seeds"))
  }

  /** Exact-substring strip — the consumer of `duplicateSpans`: removes
    * every token position inside a duplicate span and re-joins the
    * survivors into `clean_text` (the actual corpus edit exact-substring
    * dedup performs). Per-doc span lists are tiny (bounded by doc
    * length / k), carried back by one left join; the position mask is a
    * per-row higher-order filter, output-shaping, not a join hot path.
    */
  def duplicateSpanStrip(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val spans = duplicateSpans(spark, dir, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("spans"))
    spread(spark, documents(spark, dir))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("spans"), array().cast("array<struct<s:bigint,e:bigint>>")).as("spans"))
      .select(col("doc_id"), col("toks"), when(size(col("toks")) > 0,
          filter(sequence(lit(1), size(col("toks"))),
            p => !exists(col("spans"),
              sp => sp.getField("s") <= p && p <= sp.getField("e"))))
          .otherwise(array().cast("array<int>")).as("kept"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("kept"),
          p => element_at(col("toks"), p))).as("clean_text"))
  }

  /** Decontaminated corpus: the filter-form consumer of `contamination` —
    * corpus documents (doc_id ≥ `benchBound`) that share NO word n-gram
    * with the benchmark set, i.e. what a training run would actually read.
    * Anti-join against the flagged ids; the flagged side is a per-doc
    * aggregate bounded by the contaminated subset, so it broadcasts at any
    * realistic contamination rate and degrades to a shuffled anti-join
    * past the gate.
    */
  def decontaminate(spark: SparkSession, dir: String, benchBound: Long = 50,
                    n: Int = 5): DataFrame =
    documents(spark, dir).filter(col("doc_id") >= benchBound)
      .join(contamination(spark, dir, benchBound, n).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))

  // ---- SimHash -------------------------------------------------------------

  /** 32-bit SimHash over the distinct-token set: per bit position, +1/-1
    * votes from each token's md5-derived hash; bit set iff the vote sum is
    * positive. Native `graft_simhash32` kernel over `graft_hash_tokens`.
    */
  def simhash(text: Column): Column =
    call_function("graft_simhash32", call_function("graft_hash_tokens", tokenSet(text)))

  def simhashTable(spark: SparkSession, dir: String): DataFrame =
    spread(spark, documents(spark, dir))
      .select(col("doc_id"), simhash(col("text")).as("simhash"))

  /** SimHash near-dup pairs: block on the 4 8-bit bytes of the signature
    * then verify Hamming distance ≤ maxDist inside blocks. maxDist
    * defaults to 3, the largest distance for which 4-byte blocking is
    * COMPLETE (pigeonhole: ≤3 differing bits leave at least one byte
    * intact); larger maxDist would silently lose recall.
    *
    * Candidate generation runs over DISTINCT simhash values, not documents:
    * near-duplicate corpora collapse many docs onto few hash values, so the
    * value-level block join is orders of magnitude smaller than a doc-level
    * one; doc pairs are expanded only for value pairs that already passed
    * the Hamming check.
    */
  def simhashPairs(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    val t = simhashTable(spark, dir).localCheckpoint()
    val values = t.select(col("simhash")).distinct()
    val blocked = values.select(col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 8) % 256): _*)))
      .withColumnRenamed("pos", "block").withColumnRenamed("col", "block_key")
    // popcount of the XOR — bit_count is a codegen'd builtin, replacing a
    // 32-term when-chain
    val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    val hashPairs = blocked.as("x").join(blocked.as("y"),
        col("x.block") === col("y.block") && col("x.block_key") === col("y.block_key") &&
          col("x.simhash") <= col("y.simhash"))
      .select(col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", hamming.cast("int"))
      .filter(col("hamming") <= maxDist)
    hashPairs
      .join(t.select(col("simhash").as("sh_a"), col("doc_id").as("id_x")), "sh_a")
      .join(t.select(col("simhash").as("sh_b"), col("doc_id").as("id_y")), "sh_b")
      .filter((col("sh_a") < col("sh_b")) || (col("id_x") < col("id_y")))
      .select(least(col("id_x"), col("id_y")).as("doc_a"),
        greatest(col("id_x"), col("id_y")).as("doc_b"), col("hamming"))
  }

  // ---- N-gram (bag) Jaccard ------------------------------------------------

  /** Token-bag Jaccard within blocking groups (same `source`): Jaccard =
    * Σ min(tf_a, tf_b) / (|A| + |B| − Σ min). Integer arithmetic until the
    * final rounded ratio → hash-stable. The blocking key keeps the
    * self-join out of cross-join territory at scale.
    */
  /** Prefix-filtered bag-Jaccard join (PPJoin-style, Chaudhuri et al.
    * ICDE'06 / Xiao et al. WWW'08), replacing the exhaustive
    * all-shared-tokens self-join:
    *
    *  1. order every document's token OCCURRENCES rarest-token-first
    *     (global df order — hot tokens like "the" sort last);
    *  2. a pair with J ≥ t has bag overlap I ≥ ⌈t·|A|⌉, so by the prefix
    *     lemma its (|A| − ⌈t·|A|⌉ + 1)-prefixes must share a token —
    *     candidates are generated from PREFIX rows only, which excludes
    *     the high-df tokens that explode a naive token join;
    *  3. candidates (plus the min ≥ t·max length band, also necessary for
    *     J ≥ t) are verified EXACTLY with a two-pointer merge over the
    *     run-length BAGS (`graft_bag_jaccard`), not a token-row
    *     aggregation — O(distinct_a + distinct_b) per pair.
    *
    * Identical output to the exhaustive join (property-tested; gated by
    * the same DuckDB oracle as `dedup_ngram_jaccard`). At scale the wins
    * compound: the candidate shuffle carries only rare-token prefix rows,
    * and verification is per-pair in-row with no shuffle — measured 2.3×
    * faster than the exhaustive join at 50k docs, gap widening with size.
    */
  /** Default rendering for blocked, moderate-cardinality corpora: the
    * exhaustive token join (one shuffle, one agg) has the fewest stages
    * and wins while per-block candidate volume stays manageable. At
    * full-corpus scale switch to `ngramJaccardPrefix` — identical output
    * (property-tested + same oracle), sub-quadratic candidates.
    */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    ngramJaccardExhaustiveFrom(spread(spark, documents(spark, dir)), threshold)

  def ngramJaccardPrefix(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    // no spread: bagTable hash-partitions by doc_id itself
    ngramJaccardPrefixFrom(documents(spark, dir), threshold)

  /** The registry's `dedup_ngram_adaptive` entry, kept under its name: the
    * prefix rendering, which beats the exhaustive one in both recorded
    * sweep regimes (`BENCH_SCALE_linear.json`, `BENCH_SCALE_quadratic.json`).
    */
  def ngramJaccardAdaptive(spark: SparkSession, dir: String,
                           threshold: Double = 0.5): DataFrame =
    ngramJaccardPrefixFrom(documents(spark, dir), threshold)

  /** Exact threshold-kNN over token-bag Jaccard: for every document, its
    * top-`k` most similar neighbors among pairs with similarity ≥
    * `threshold` — the "find me this document's near-duplicates, ranked"
    * retrieval shape (duplicate triage UIs, canonical-selection review).
    *
    * Built on the prefix-filtered pair join, which is EXACT for a
    * threshold query (the prefix lemma prunes only pairs that cannot
    * reach `threshold`), so the ranked lists are exact too — this is not
    * an ANN: recall is 1.0 by construction. Pairs are symmetrized (each
    * direction ranks independently) and cut per doc by a rank window the
    * optimizer renders as WindowGroupLimit — each map task keeps its
    * local top-k before the exchange, so the ranking shuffle carries
    * O(k·partitions) rows per doc, never the full candidate fan-out.
    * Ties break on neighbor id; similarity is the same 6-dp-rounded
    * value the pair oracle gates, so ranking is engine-deterministic.
    */
  def jaccardKnn(spark: SparkSession, dir: String, k: Int = 3,
                 threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = ngramJaccardPrefix(spark, dir, threshold).localCheckpoint()
    val sym = pairs.unionByName(pairs.select(
      col("doc_b").as("doc_a"), col("doc_a").as("doc_b"), col("jaccard")))
    val w = Window.partitionBy(col("doc_a"))
      .orderBy(col("jaccard").desc, col("doc_b").asc)
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_a").as("doc_id"), col("rank").cast("long").as("rank"),
        col("doc_b").as("neighbor"), col("jaccard"))
  }

  /** (doc_id, source, text) → the checkpointed per-doc run-length bag frame
    * every prefix join starts from: (doc_id, source, total, bag). Tokenize +
    * sort + run-length encode ONCE per doc. localCheckpoint rather than
    * persist: its MATERIALIZED size statistics are what lets the byte gate
    * broadcast the small sides downstream (a lazy persist only has
    * estimates, which disables the broadcasts and regresses every
    * downstream join to SMJ — measured 20% slower end-to-end).
    * Hash-partitioned by doc_id so a doc's candidate rows stay physically
    * clustered — the pair dedup's map-side partial aggregation then
    * collapses a pair's duplicate candidates inside one partition before
    * the exchange.
    */
  private def bagTable(docsIn: DataFrame): DataFrame = {
    val spark = docsIn.sparkSession
    docsIn
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("source"), array_sort(tokens(col("text"))).as("st"))
      .select(col("doc_id"), col("source"),
        size(col("st")).cast("long").as("total"),
        call_function("graft_bag_counts", col("st")).as("bag"))
      .localCheckpoint()
  }

  /** Adaptive exhaustive-vs-prefix crossover (see `Scale.PrefixCrossoverConf`):
    * below the byte bound the exhaustive token join — fewer stages, no
    * df machinery — is the measured winner; above it the prefix join's
    * sub-quadratic candidate generation pays for its fixed stages many
    * times over (measured 2.3× at 50k docs, widening). The decision reads
    * Catalyst's plan-stats estimate of the input: driver-side metadata,
    * no job, same statistic the broadcast gate consults.
    */
  private def belowPrefixCrossover(docsIn: DataFrame): Boolean = {
    val bound = docsIn.sparkSession.conf
      .get(graft.operators.Scale.PrefixCrossoverConf,
        graft.operators.Scale.PrefixCrossoverDefault.toString).toLong
    docsIn.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(bound)
  }

  /** Prefix probe rows (doc_id, source, total, tok) for a PPJoin-style
    * candidate join: one SKINNY row per PREFIX token of each doc — no
    * payload rides along, so the candidate join and its map-side pair
    * dedup move nothing but ids, lengths, and tokens. (A variant carrying
    * the bags through the join for fused in-join verification was measured:
    * it wins only while the fattened build side still fits the broadcast
    * gate, and collapses to a pathological many-duplicate-key SMJ the
    * moment it doesn't — exactly at the scale the prefix path exists for.)
    *
    * df attachment is adaptive on vocab size, same byte gate as the
    * broadcast decisions:
    *  - small vocab (the common case — even web-scale corpora have
    *    vocabularies orders of magnitude below the corpus): ONE sorted
    *    (tok, df) vocab row is cross-joined by broadcast and the prefix
    *    sliced in-row by `graft_prefix_tokens_vocab` (binary-search df
    *    lookup). No per-occurrence df join, no collect-back aggregation.
    *  - above the gate: per-token df join + collect-back groupBy, the
    *    shuffle rendering that never materializes the vocab in one row.
    */
  private def prefixProbe(base: DataFrame, pruneT: Double): DataFrame = {
    val dfreq = base
      .select(explode(col("bag")).as("b")).select(col("b.tok").as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val limit = col("total") - ceil(col("total") * lit(pruneT)) + 1
    val gate = graft.operators.Scale.broadcastGate(base.sparkSession)
    if (dfreq.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(gate)) {
      // vocab as one sorted row; localCheckpoint: (a) the dfreq aggregation
      // runs once however many times the probe plan is consumed, and (b)
      // the checkpointed row gives the probe plan MATERIALIZED stats, which
      // the byte gate needs to broadcast the pair join's build side
      // (measured: without it the gate loses the estimate and the pair
      // join regresses to SMJ — 4.0 s vs 2.3 s)
      val vocab = dfreq
        .agg(sort_array(collect_list(struct(col("tok"), col("df")))).as("vocab"))
        .localCheckpoint()
      base.join(broadcast(vocab))
        .select(col("doc_id"), col("source"), col("total"),
          explode(call_function("graft_prefix_tokens_vocab",
            col("bag"), col("vocab"), limit)).as("tok"))
    } else {
      val bagRows = base
        .select(col("doc_id"), col("source"), col("total"), explode(col("bag")).as("b"))
        .select(col("doc_id"), col("source"), col("total"),
          col("b.tok").as("tok"), col("b.tf").as("tf"))
      bagRows.join(dfreq, "tok")
        .groupBy(col("doc_id"), col("source"), col("total"))
        .agg(collect_list(struct(col("df"), col("tok"), col("tf"))).as("pairs"))
        .select(col("doc_id"), col("source"), col("total"),
          explode(call_function("graft_prefix_tokens", col("pairs"), limit)).as("tok"))
    }
  }

  /** Core prefix-filtered join over any (doc_id, source, text) frame.
    *
    * The prefix is computed IN-ROW, not with a `Window.partitionBy(doc_id)`
    * pass: the old rendering paid a full-corpus sort-shuffle of every token
    * OCCURRENCE row just to rank each doc's tokens by global df. Here the
    * per-doc (tok, tf) bag is a run-length pass over the already-sorted
    * token array (`graft_bag_counts` — no tf shuffle at all), global df is
    * attached with one join (map-side below the broadcast gate), and the
    * prefix slice — sort the doc's DISTINCT tokens by (df, tok), keep
    * occurrences while cum < L — happens inside one codegen'd projection
    * (`graft_prefix_tokens`). Shuffles: dfreq agg (+ df join above the
    * gate) + the collect-back groupBy, vs tf agg + df join + window sort
    * before; and the window sorted all occurrence rows where the kernel
    * sorts each doc's distinct tokens.
    */
  def ngramJaccardPrefixFrom(docsIn: DataFrame, threshold: Double = 0.5): DataFrame = {
    val spark = docsIn.sparkSession
    // toy-scale crossover: identical output through the exhaustive plan
    // (spread first — a toy input is typically one parquet split, and the
    // exhaustive tokenize stage must still run on all cores)
    if (belowPrefixCrossover(docsIn))
      return ngramJaccardExhaustiveFrom(spread(spark, docsIn), threshold)
    val base = bagTable(docsIn)
    // The final filter (and the oracle) gate on round(J, 6), which admits
    // J down to threshold - 5e-7 — every PRUNING bound must therefore use
    // the slackened threshold or boundary pairs the oracle kept would be
    // dropped before verification.
    val pruneT = threshold - 1e-6
    val probe = prefixProbe(base, pruneT)
    // skinny candidate join → map-side-collapsed pair dedup (a doc's
    // candidate rows are physically clustered by bagTable's partitioning,
    // so the distinct's partial aggregate removes the per-shared-token
    // duplicates before the exchange; the exchange then carries each
    // candidate pair once, as two longs)
    val cand = probe.as("x")
      .join(maybeBroadcast(probe).as("y"),
        col("x.source") === col("y.source") && col("x.tok") === col("y.tok") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.total"), col("y.total")).cast("double") >=
            greatest(col("x.total"), col("y.total")).cast("double") * lit(pruneT))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // exact verification by the fused `graft_bag_jaccard` two-pointer merge
    // over the run-length BAGS — O(distinct_a + distinct_b) per pair, once
    // per deduped pair. Explicit fan-out first: the deduped candidate set
    // is BYTE-small (two longs per row) so AQE coalesces it to ~1
    // partition, but each row costs a bag merge — CPU the byte heuristic
    // can't see.
    val sorted = base.select(col("doc_id"), col("bag"), col("total"))
    val sortedSmall = maybeBroadcast(sorted)
    spread(spark, cand)
      .join(sortedSmall.select(col("doc_id").as("doc_a"), col("bag").as("bag_a"),
        col("total").as("total_a")), "doc_a")
      .join(sortedSmall.select(col("doc_id").as("doc_b"), col("bag").as("bag_b"),
        col("total").as("total_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        call_function("graft_bag_jaccard", col("bag_a"), col("bag_b"),
          col("total_a"), col("total_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The shared-token pair join both exhaustive renderings run: probe ⋈
    * build on the (source, tok) block key with `extraCond` (role/band
    * predicates) on top, output renamed to x_- and y_-prefixed columns.
    */
  private def sharedTokenJoin(tf: DataFrame, extraCond: Column): DataFrame = {
    val xSide = spread(tf.sparkSession, tf).select(
      col("doc_id").as("x_doc_id"), col("source").as("x_source"),
      col("total").as("x_total"), col("tok").as("x_tok"), col("tf").as("x_tf"))
    val ySide = tf.select(
      col("doc_id").as("y_doc_id"), col("source").as("y_source"),
      col("total").as("y_total"), col("tok").as("y_tok"), col("tf").as("y_tf"))
    xSide.join(maybeBroadcast(ySide),
      col("x_source") === col("y_source") && col("x_tok") === col("y_tok") && extraCond)
  }

  /** The exhaustive all-shared-tokens rendering. */
  def ngramJaccardExhaustiveFrom(docsIn: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pruneT = threshold - 1e-6 // see ngramJaccardPrefixFrom: round(J,6) slack
    val tf = docsIn
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("total"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("source"), col("total"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val inter = sharedTokenJoin(tf,
        col("x_doc_id") < col("y_doc_id") &&
          least(col("x_total"), col("y_total")).cast("double") >=
            greatest(col("x_total"), col("y_total")).cast("double") * lit(pruneT))
      .groupBy(col("x_doc_id").as("doc_a"), col("y_doc_id").as("doc_b"))
      .agg(sum(least(col("x_tf"), col("y_tf"))).as("inter"),
        max(col("x_total")).as("total_a"), max(col("y_total")).as("total_b"))
    inter
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("total_a") + col("total_b") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Bag-overlap (containment) near-dup pairs: overlap = Σ min(tf) /
    * min(|A|, |B|) ≥ t within `source` blocks — the asymmetric companion
    * to Jaccard that catches a small document CONTAINED in a larger one
    * (quote inclusion, benchmark leakage), which a Jaccard threshold
    * misses because the union is dominated by the larger doc. No
    * length-band prune: small-inside-large is exactly the signal.
    */
  def bagOverlap(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    bagOverlapFrom(spread(spark, documents(spark, dir)), threshold)

  /** Core containment join over any (doc_id, source, text) frame. */
  def bagOverlapFrom(docsIn: DataFrame, threshold: Double = 0.8): DataFrame = {
    val tf = docsIn
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("total"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("source"), col("total"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    sharedTokenJoin(tf, col("x_doc_id") < col("y_doc_id"))
      .groupBy(col("x_doc_id").as("doc_a"), col("y_doc_id").as("doc_b"))
      .agg(sum(least(col("x_tf"), col("y_tf"))).as("inter"),
        max(col("x_total")).as("total_a"), max(col("y_total")).as("total_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          least(col("total_a"), col("total_b")).cast("double"), 6).as("overlap"))
      .filter(col("overlap") >= threshold)
  }

  def bagOverlapPrefix(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    // no spread: bagTable hash-partitions by doc_id itself
    bagOverlapPrefixFrom(documents(spark, dir), threshold)

  /** Prefix-filtered containment join — the 100 TB rendering of
    * `bagOverlapFrom`, identical output (property-tested, same oracle).
    *
    * For a qualifying pair with |A| ≤ |B|: inter ≥ ⌈t·|A|⌉, so by the
    * prefix lemma the SMALLER doc's (|A| − ⌈t·|A|⌉ + 1)-prefix (global
    * rarest-first df order) must share a token with B — B's side is
    * unrestricted, but is joined at DISTINCT-token granularity (the
    * run-length bag rows), not per occurrence. Roles are fixed by
    * (total, doc_id) order so each unordered pair generates once; exact
    * verification is the fused `graft_bag_overlap` bag merge. Same in-row
    * prefix machinery as `ngramJaccardPrefixFrom`.
    */
  def bagOverlapPrefixFrom(docsIn: DataFrame, threshold: Double = 0.8): DataFrame = {
    // toy-scale crossover: identical output through the exhaustive plan
    // (spread: see ngramJaccardPrefixFrom)
    if (belowPrefixCrossover(docsIn))
      return bagOverlapFrom(spread(docsIn.sparkSession, docsIn), threshold)
    val spark = docsIn.sparkSession
    val pruneT = threshold - 1e-6 // round(·,6) slack, see ngramJaccardPrefixFrom
    val base = bagTable(docsIn)
    // smaller-doc prefix probes larger-doc DISTINCT-token rows (the prefix
    // lemma applies to the smaller side only: inter ≥ ⌈t·min(|A|,|B|)⌉);
    // roles fixed by (total, doc_id) so each unordered pair generates once
    // per shared token; both sides skinny (see prefixProbe)
    val probe = prefixProbe(base, pruneT)
    val tokSet = base
      .select(col("doc_id"), col("source"), col("total"), explode(col("bag")).as("b"))
      .select(col("doc_id"), col("source"), col("total"), col("b.tok").as("tok"))
    val cand = probe.as("x")
      .join(maybeBroadcast(tokSet).as("y"),
        col("x.source") === col("y.source") && col("x.tok") === col("y.tok") &&
          (col("x.total") < col("y.total") ||
            (col("x.total") === col("y.total") && col("x.doc_id") < col("y.doc_id"))))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    val sorted = base.select(col("doc_id"), col("bag"), col("total"))
    val sortedSmall = maybeBroadcast(sorted)
    // explicit verify fan-out: byte-small input, CPU-heavy per row
    spread(spark, cand)
      .join(sortedSmall.select(col("doc_id").as("doc_a"), col("bag").as("bag_a"),
        col("total").as("total_a")), "doc_a")
      .join(sortedSmall.select(col("doc_id").as("doc_b"), col("bag").as("bag_b"),
        col("total").as("total_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        call_function("graft_bag_overlap", col("bag_a"), col("bag_b"),
          col("total_a"), col("total_b")).as("overlap"))
      .filter(col("overlap") >= threshold)
  }

  // ---- Embedding cosine near-dup --------------------------------------------

  /** Embedding-cosine near-dup pairs, blocked on `label` (stand-in for a
    * coarse quantizer/IVF cell): pairwise cosine only within a block.
    */
  def embeddingNearDup(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    // norms once per vector (own projection), not once per pair
    val e = spread(spark, embeddings(spark, dir))
      .select(col("vec_id"), col("label"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("nrm"))
      .localCheckpoint()
    val a = e.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineRFromNorms(col("emb_a"), col("emb_b"),
          col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
