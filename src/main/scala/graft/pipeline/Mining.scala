package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.Scale

/** Corpus-mining operators for multilingual training data: margin-based
  * bitext pair mining (Artetxe & Schwenk, "Margin-based Parallel Corpus
  * Mining with Multilingual Sentence Embeddings") and blocked entity
  * resolution (record linkage via blocking + edit-distance verify).
  *
  * Neither exists in the reference (bigdataBC/FlinkProject is a
  * click-stream warehouse); both are staples of an LLM-data curation
  * stack.
  */
object Mining {

  /** Margin-based bitext mining: for every non-`pivotLang` document, the
    * best `pivotLang` neighbor by embedding cosine plus the MARGIN over the
    * runner-up (absolute margin `cos1 - cos2`; a confident pair is not just
    * close, it is clearly closer than the next candidate — raw-cosine
    * thresholds over-fire in dense hubs of the embedding space).
    *
    * Scale shape: the pivot-language side rides the size-gated broadcast
    * (`Scale.maybeBroadcast`) — at test SF it broadcasts, at corpus scale
    * the gate falls back to a shuffled join; there the candidate
    * generation belongs on the ANN index paths (`Similarity.lshBucket` /
    * IVF cells) with this exact scoring applied per candidate bucket, the
    * same composition `Dedup.embeddingNearDup` uses. Norms are computed
    * once per vector in their own projection, never per pair.
    */
  def bitextMarginPairs(spark: SparkSession, dir: String,
                        pivotLang: String = "en", cosMin: Double = 0.3): DataFrame = {
    val normed = Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("lang"), col("embedding"), col("nrm"))
      .localCheckpoint() // scored twice (src + tgt legs) off one computation
    val src = normed.filter(col("lang") =!= pivotLang)
      .select(col("vec_id").as("src_id"), col("lang").as("src_lang"),
        col("embedding").as("s_emb"), col("nrm").as("s_nrm"))
    val tgt = normed.filter(col("lang") === pivotLang)
      .select(col("vec_id").as("tgt_id"),
        col("embedding").as("t_emb"), col("nrm").as("t_nrm"))
    // measured gate: tgt comes off the checkpoint and this join has no
    // equi keys — the estimate-based gate read the origin JOIN's
    // size-product stats (GBs for a KB frame) and declined, planning a
    // CartesianProduct (caught by PlanAudit)
    val scored = src.join(Scale.maybeBroadcastMeasured(tgt))
      .select(col("src_id"), col("src_lang"), col("tgt_id"),
        cosineRFromNorms(col("s_emb"), col("t_emb"), col("s_nrm"), col("t_nrm")).as("cos"))
    val w = Window.partitionBy(col("src_id")).orderBy(col("cos").desc, col("tgt_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .withColumn("margin", round(col("cos") - lead(col("cos"), 1).over(w), 6))
      .filter(col("rnk") === 1 && col("cos") >= cosMin)
      .select(col("src_id"), col("src_lang"), col("tgt_id"), col("cos"), col("margin"))
  }

  /** Blocked entity resolution over customer names: candidate pairs share
    * a block (here the nation key — in production a q-gram or phonetic
    * key), verified by Levenshtein distance ≤ `maxDist`. The
    * blocking-then-verify shape is what makes ER tractable at scale: the
    * edit-distance kernel runs on within-block pairs only, never on the
    * full cross product; a skewed block is left to AQE's skew-join split.
    */
  def erBlockedPairs(spark: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    // spread the probe leg: the block join fans ~|block|²/2 candidates out
    // of byte-small inputs, exactly the cheap-bytes-expensive-CPU shape
    // AQE's size-based coalescing misjudges (the winnowing lesson,
    // PLANS.md round 7) — without it the whole Levenshtein bill lands on
    // a handful of tasks
    val c = Tables.spread(spark, Tables.customer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val a = c.select(col("c_custkey").as("a_key"), col("c_name").as("a_name"),
      col("c_nationkey").as("block"))
    val b = c.select(col("c_custkey").as("b_key"), col("c_name").as("b_name"),
      col("c_nationkey").as("block_b"))
    // the LENGTH filter rides the join condition: |len(a)−len(b)| ≤ d is
    // implied by lev ≤ d, so it prunes candidates for free (cheap ints)
    // before the O(len²) edit-distance kernel runs — result unchanged
    a.join(b, col("block") === col("block_b") && col("a_key") < col("b_key") &&
        abs(length(col("a_name")) - length(col("b_name"))) <= maxDist)
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"), col("dist"))
  }

  /** The 100 TB rendering of [[bitextMarginPairs]]: candidates come from
    * multi-probe sign-LSH buckets (own bucket + every one-bit flip — the
    * same probe discipline as `Similarity.lshMultiProbeTopK`) instead of
    * the full cross product, so each source doc scores only the
    * pivot-language vectors its buckets contain. Semantics are therefore
    * ANN-best-match: top-1 and margin are over the CANDIDATE set (margin
    * null when a source finds exactly one candidate). Both sides shuffle
    * on bucket when the size gate closes — the banded-join shape every
    * dedup path here uses.
    */
  def bitextMarginPairsLsh(spark: SparkSession, dir: String,
                           pivotLang: String = "en", cosMin: Double = 0.3,
                           nPlanes: Int = 8): DataFrame = {
    val base = Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("lang"), col("embedding"), col("nrm"))
      .localCheckpoint()
    val dim = base.select(size(col("embedding"))).head(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    val bucketed = base.withColumn("bucket",
      Similarity.lshBucket(col("embedding"), nPlanes, dim))
    val src = bucketed.filter(col("lang") =!= pivotLang)
      .select(col("vec_id").as("src_id"), col("lang").as("src_lang"),
        col("embedding").as("s_emb"), col("nrm").as("s_nrm"),
        explode(array((lit(-1) +: (0 until nPlanes).map(lit(_))): _*)).as("flip"),
        col("bucket").as("own"))
      .select(col("src_id"), col("src_lang"), col("s_emb"), col("s_nrm"),
        when(col("flip") === -1, col("own"))
          .otherwise(expr("own ^ (CAST(1 AS BIGINT) << flip)")).as("bucket"))
    val scored = bucketed.filter(col("lang") === pivotLang)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("t_emb"),
        col("nrm").as("t_nrm"), col("bucket"))
      .join(Scale.maybeBroadcast(src), Seq("bucket"))
      .select(col("src_id"), col("src_lang"), col("tgt_id"),
        cosineRFromNorms(col("s_emb"), col("t_emb"), col("s_nrm"), col("t_nrm")).as("cos"))
    val w = Window.partitionBy(col("src_id")).orderBy(col("cos").desc, col("tgt_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .withColumn("margin", round(col("cos") - lead(col("cos"), 1).over(w), 6))
      .filter(col("rnk") === 1 && col("cos") >= cosMin)
      .select(col("src_id"), col("src_lang"), col("tgt_id"), col("cos"), col("margin"))
  }

  /** Sorted-neighborhood ER — the complementary blocking discipline to
    * [[erBlockedPairs]]: records are globally ordered by the sort key
    * (name, id tie-break) and each record is compared with its `window−1`
    * successors, catching matches a hard blocking key splits (here:
    * same-name typos in DIFFERENT nations). The global rank comes from
    * `Scale.distributedPrefixSum` (range-partition + broadcast offsets),
    * NOT a single-partition `Window.orderBy`; the neighbor join is an
    * explode of `window−1` rank offsets + one equi join on rank — both
    * scale-shaped. Σ work is n·(window−1) verifications, independent of
    * block skew.
    */
  def erSortedNeighborhood(spark: SparkSession, dir: String,
                           window: Int = 5, maxDist: Int = 2): DataFrame = {
    val c = Tables.spread(spark, Tables.customer(spark, dir))
      .select(col("c_custkey"), col("c_name"))
      .withColumn("__one", lit(1L))
    val ranked = Scale.distributedPrefixSum(c,
        Seq(col("c_name"), col("c_custkey")), "__one", "__cum", rankCol = Some("rnk"))
      .drop("__cum", "__one")
      .localCheckpoint() // both join legs read it; pin one computation
    val a = ranked.select(col("c_custkey").as("a_key"), col("c_name").as("a_name"),
      col("rnk"))
    val b = ranked.select(col("c_custkey").as("b_key"), col("c_name").as("b_name"),
      col("rnk").as("rnk_b"))
    a.withColumn("off", explode(sequence(lit(1), lit(window - 1))))
      .withColumn("rnk_b", col("rnk") + col("off"))
      .select(col("a_key"), col("a_name"), col("rnk_b"))
      .join(b, Seq("rnk_b"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"), col("dist"))
  }

  /** ER capstone: collapse the verified match pairs into ENTITIES — the
    * transitive closure of [[erBlockedPairs]], labeled by the minimum
    * member key. Rides the same pointer-jumping label propagation as the
    * dedup cluster capstone (`Dedup.clusterLabels` — O(log diameter)
    * rounds, edge-induced subgraph only), because match graphs and
    * near-dup graphs are the same object at scale. Singleton records keep
    * their own key as entity id.
    */
  def erEntities(spark: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    val pairs = erBlockedPairs(spark, dir, maxDist)
      .select(col("a_key").as("doc_a"), col("b_key").as("doc_b"))
    Dedup.clusterLabels(pairs,
      Tables.customer(spark, dir).select(col("c_custkey").as("doc_id")))
      .select(col("doc_id").as("c_custkey"), col("cluster_id").as("entity_id"))
  }

  /** Survivorship ("golden record") construction — the step after entity
    * resolution: collapse each matched cluster to ONE canonical record
    * with per-field merge rules. Rules here: canonical key = MIN member
    * key (stable, re-runnable), best_name = the name of the
    * highest-balance member (richest record wins, custkey-asc tie-break —
    * rendered as one max(struct(...)) argmax aggregate, no window, no
    * self-join), total_balance = exact-decimal sum across members,
    * n_segments = how many distinct market segments the cluster spans (a
    * merge audit column: >1 flags records that matched on name but
    * disagree on profile — the blocking key already pins nation).
    *
    * Scale: composes on `erEntities`' audited label machinery; the new
    * work is ONE custkey-keyed join to attach attributes and ONE
    * entity-keyed aggregate where every rule is an algebraic
    * (map-side-combinable) min/max/sum — the standard way survivorship
    * stays a single shuffle at any corpus size. The balance argmax
    * compares exact decimals (a double compare could tie-break
    * differently across engines).
    */
  def erGoldenRecords(spark: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    val labels = erEntities(spark, dir, maxDist)
    val members = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"), col("c_mktsegment"))
      .join(labels, "c_custkey")
    members.groupBy(col("entity_id"))
      .agg(
        count(lit(1)).as("n_members"),
        min(col("c_custkey")).as("canonical_key"),
        max(struct(col("bal").as("b"), (-col("c_custkey")).as("k"),
          col("c_name").as("nm"))).getField("nm").as("best_name"),
        sum(col("bal")).cast("double").as("total_balance"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
  }

  /** Contrastive training-triplet construction — the dataset shape an
    * embedding model (SimCSE/E5-style) trains on: for every near-dup
    * pair, an (anchor, positive, negative) row where the positive is the
    * anchor's near-duplicate (exact prefix-join pairs, both directions)
    * and the negative is a DETERMINISTIC same-source non-neighbor —
    * argmin of md5(anchor:candidate) over the anchor's source block
    * minus itself and its neighbor set. Same-source negatives are the
    * "hard" kind (topically close, lexically distinct); the md5 argmin
    * replaces RNG so any engine reproduces the identical dataset.
    *
    * Scale: positives ride the audited prefix join; the negative pick is
    * one source-blocked join + left_anti + an argmin aggregate keyed by
    * anchor. Block size bounds the candidate fan-out; at corpus scale
    * the pool swaps to the per-source bottom-k md5 sample
    * (`TextPipeline.bottomKSample`'s growth-stable pool) so the join is
    * anchors × k instead of anchors × block. Anchors whose whole block
    * is neighbors drop out (no honest negative exists).
    */
  def contrastiveTriplets(spark: SparkSession, dir: String,
                          threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .localCheckpoint()
    val pairs = Dedup.ngramJaccardPrefix(spark, dir, threshold).localCheckpoint()
    val sym = pairs.unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b"), col("jaccard")))
      // key-repartition before pinning (AQE sizes the partition count by
      // BYTES): the raw union doubles the pair frame's partition count
      // with near-empty partitions, and all three consumers re-scan them
      // (r14; the clusterLabels edge-checkpoint fix, guide §2.2)
      .repartition(col("doc_a"))
      .localCheckpoint() // feeds anchors, the anti side, and the final join
    val anchors = sym.select(col("doc_a")).distinct()
      .join(docs, col("doc_a") === col("doc_id"))
      .select(col("doc_a"), col("source"))
    // deterministic pseudo-random negative = the candidate with the
    // lexicographically smallest md5("doc_a:cand") (ties → smaller cand).
    // Rendered as a row_number window rather than the r14
    // `min(struct(k, c))` aggregate: Min over a struct has no mutable
    // aggregation buffer, so the whole aggregate fell back to
    // SortAggregate with interpreted struct comparisons, while the window
    // gets WindowGroupLimit — map-side top-1 pruning BEFORE the exchange
    // (the r14 lesson, OPTIMIZATION_r14.md "measurement lessons").
    // Equivalence: rank 1 under (k asc, cand asc) IS the lexicographic
    // min of struct(k, cand) — same binary UTF8 string ordering, and cand
    // is unique per doc_a (distinct doc ids), so the selected row is the
    // one the aggregate's .getField("c") returned, bit-for-bit.
    val negatives = anchors
      .join(docs.select(col("doc_id").as("cand"), col("source")), Seq("source"))
      .filter(col("cand") =!= col("doc_a"))
      .join(sym.select(col("doc_a"), col("doc_b").as("cand")),
        Seq("doc_a", "cand"), "left_anti")
      .withColumn("__nk", md5(concat_ws(":", col("doc_a"), col("cand"))))
      .withColumn("__nrk", row_number().over(
        Window.partitionBy(col("doc_a")).orderBy(col("__nk").asc, col("cand").asc)))
      .filter(col("__nrk") === 1)
      .select(col("doc_a"), col("cand").as("negative"))
    sym.join(negatives, Seq("doc_a"))
      .select(col("doc_a").as("anchor"), col("doc_b").as("positive"),
        col("negative"), col("jaccard").as("pos_jaccard"))
  }

  /** Association rules over order baskets (market-basket mining, the
    * FP-growth-lite pairs pass): for co-purchased part pairs with support
    * ≥ `minSupport` baskets, both directed rules a→b and b→a with
    * confidence = P(b|a) and lift = P(a,b)/(P(a)·P(b)).
    *
    * Scale shape: the within-basket pair explode is bounded by max basket
    * size (≤7 lines, same bound as `Graph.triangles`); item supports are
    * one map-side-combinable aggregate; the support filter cuts the pair
    * table BEFORE the two item-support joins, and those attach via the
    * size gate. Probabilities divide exact longs in double at the end.
    */
  def assocRules(spark: SparkSession, dir: String, minSupport: Long = 3): DataFrame = {
    val pl = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .localCheckpoint() // feeds baskets, pairs, and item supports
    val nBaskets = pl.select(col("o")).distinct().count()
    val supp = pl.groupBy(col("p")).agg(count(lit(1)).as("supp"))
    val pairs = pl.as("x").join(pl.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("pa"), col("y.p").as("pb"))
      .agg(count(lit(1)).as("pair_ct"))
      .filter(col("pair_ct") >= minSupport)
      .localCheckpoint() // the a→b / b→a union projects this twice — without
                         // materialization each branch re-runs the pair join
    val rules = pairs.select(col("pa").as("ante"), col("pb").as("cons"), col("pair_ct"))
      .unionByName(pairs.select(col("pb").as("ante"), col("pa").as("cons"), col("pair_ct")))
    rules
      .join(Scale.maybeBroadcast(supp.select(col("p").as("ante"), col("supp").as("supp_a"))), "ante")
      .join(Scale.maybeBroadcast(supp.select(col("p").as("cons"), col("supp").as("supp_c"))), "cons")
      .select(col("ante"), col("cons"), col("pair_ct"),
        round(col("pair_ct").cast("double") / col("supp_a").cast("double"), 6).as("confidence"),
        round(col("pair_ct").cast("double") * lit(nBaskets.toDouble) /
          (col("supp_a").cast("double") * col("supp_c").cast("double")), 6).as("lift"))
  }

  /** Gap-window sequential rules — the ORDER-aware complement of
    * `assocRules` (co-occurrence within a basket) and the generalization
    * of a20's lag-1 transition matrix: count every A→B where B occurs
    * within `gap` events after A in the same user's timeline;
    * confidence = pairs / occurrences(A). All `gap` leads share ONE
    * user-keyed window node (plan-asserted), the pair fan-out is bounded
    * at gap per event, and the output is catalog² rows. At scale: the
    * per-user window exchange — the same shared shape a20/a21 ride — is
    * the only corpus-sized movement; the antecedent-support table is a
    * broadcast of |catalog| rows.
    */
  def seqRules(spark: SparkSession, dir: String, gap: Int = 3): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(spark, dir)
    val pairs = ev
      .select(col("event_type").as("ante"),
        array((1 to gap).map(i => lead(col("event_type"), i).over(w)): _*).as("nexts"))
      .select(col("ante"), explode(col("nexts")).as("cons"))
      .filter(col("cons").isNotNull)
      .groupBy(col("ante"), col("cons"))
      .agg(count(lit(1)).as("pair_ct"))
    val anteSup = ev.groupBy(col("event_type").as("a2"))
      .agg(count(lit(1)).as("ante_ct"))
    pairs.join(broadcast(anteSup), col("ante") === col("a2")) // catalog-bounded
      .select(col("ante"), col("cons"), col("pair_ct"),
        round(col("pair_ct").cast("double") / col("ante_ct").cast("double"), 6)
          .as("confidence"))
  }
}
