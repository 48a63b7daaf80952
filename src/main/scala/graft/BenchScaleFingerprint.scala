package graft

import org.apache.spark.sql.functions._

/** Scale-sweep for the perceptual-fingerprint near-dup family
  * (`multimodal_phash_pairs` / `multimodal_afp_pairs`): the 10× evidence
  * that the byte-block candidate join scales with the number of genuine
  * collisions, not with corpus², when duplication structure is held
  * fixed.
  *
  * Construction: replica `i` shifts doc ids by `i·SHIFT` with SHIFT a
  * multiple of the variant-group width 5, so every replica reproduces the
  * base corpus's GROUP structure while its base-image/clip ids (and
  * therefore hashes) differ per replica. Two enforced gates:
  *
  *  1. copy-0 identity — the scaled output restricted to ids < SHIFT
  *     must equal the base output EXACTLY (replication may not perturb
  *     the work it contains);
  *  2. per-replica recall — every replica must recover planted pairs
  *     (a replica with zero within-group pairs means hashing broke under
  *     id shifting).
  *
  * Cross-replica pairs are legitimate (different bases can collide
  * within the Hamming radius) and are RECORDED, not gated. Artifact
  * `BENCH_SCALE_fingerprint.json` is written before the gates throw, so
  * an invalid run's numbers cannot be silently cited.
  */
object BenchScaleFingerprint extends Sweep.SingleLeg {

  private val Shift = 10000000L // multiple of 5: groups never straddle replicas

  def enforceCopy0(base: Set[(Long, Long, Long)], copy0: Set[(Long, Long, Long)]): Unit =
    if (base.isEmpty || base != copy0)
      throw new IllegalStateException(
        s"fingerprint sweep invalid: copy-0 pairs (${copy0.size}) != base pairs " +
          s"(${base.size}) — replication perturbed the contained work")

  def enforceReplicaRecall(pairs: Seq[(Long, Long, Long)], factor: Int): Unit = {
    // same replica AND same planted variant group (width-5 id blocks,
    // Shift % 5 == 0 so p/5 identifies the group globally): a
    // within-replica cross-group false positive must not satisfy the
    // planted-pair gate
    val byReplica = pairs.filter(p => p._1 / Shift == p._2 / Shift && p._1 / 5 == p._2 / 5)
      .groupBy(_._1 / Shift).view.mapValues(_.size).toMap
    val empty = (0 until factor).filterNot(i => byReplica.getOrElse(i.toLong, 0) > 0)
    if (empty.nonEmpty)
      throw new IllegalStateException(
        s"fingerprint sweep invalid: replicas $empty recovered no planted pairs")
  }

  val metric = "scale_sweep_fingerprint"
  val artifactFile = "BENCH_SCALE_fingerprint.json"

  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg = {
    val spark = c.spark
    val sfDir = c.sfDir

    def ids(n: Int) = (0 until n).map(i =>
        Tables.documents(spark, sfDir)
          .select((col("doc_id") + lit(i.toLong * Shift)).as("doc_id")))
      .reduce(_ union _)

    def collect(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    c.warm(pipeline.Multimodal.phashPairsFrom(ids(1).limit(50)))
    def timed(mk: => org.apache.spark.sql.DataFrame) = c.timed(collect(mk))

    val (phB, phBase) = timed(pipeline.Multimodal.phashPairsFrom(ids(1)))
    val (phS, phScaled) = timed(pipeline.Multimodal.phashPairsFrom(ids(factor)))
    val (afB, afBase) = timed(pipeline.Multimodal.afpPairsFrom(ids(1)))
    val (afS, afScaled) = timed(pipeline.Multimodal.afpPairsFrom(ids(factor)))
    // the multi-index scale forms: 16-bit substrings, tighter radius
    val (pmB, pmBase) = timed(pipeline.Multimodal.phashPairsFrom(ids(1), 3, 16))
    val (pmS, pmScaled) = timed(pipeline.Multimodal.phashPairsFrom(ids(factor), 3, 16))
    val (amB, amBase) = timed(pipeline.Multimodal.afpPairsFrom(ids(1), 1, 16))
    val (amS, amScaled) = timed(pipeline.Multimodal.afpPairsFrom(ids(factor), 1, 16))
    // probed-MIH: SAME radius as the byte-block forms (1-bit probe
    // expansion keeps pigeonhole recall exact) — the route the registry's
    // `multimodal_*_pairs` entries run, gated pair-set EQUAL below.
    val (ppB, _) = timed(pipeline.Multimodal.phashPairsProbedFrom(ids(1)))
    val (ppS, ppScaled) = timed(pipeline.Multimodal.phashPairsProbedFrom(ids(factor)))
    val (apB, _) = timed(pipeline.Multimodal.afpPairsProbedFrom(ids(1)))
    val (apS, apScaled) = timed(pipeline.Multimodal.afpPairsProbedFrom(ids(factor)))

    def cross(ps: Seq[(Long, Long, Long)]) = ps.count(p => p._1 / Shift != p._2 / Shift)
    def pairs(b: Double, s: Double, bp: Seq[(Long, Long, Long)], sp: Seq[(Long, Long, Long)]) =
      Sweep.obj("base_sec" -> b, "scaled_sec" -> s, "base_pairs" -> bp.size,
        "scaled_pairs" -> sp.size, "cross_replica" -> cross(sp))
    Sweep.Leg(s"x$factor", Seq(
      "phash" -> pairs(phB, phS, phBase, phScaled),
      "afp" -> pairs(afB, afS, afBase, afScaled),
      "phash_mih" -> pairs(pmB, pmS, pmBase, pmScaled),
      "afp_mih" -> pairs(amB, amS, amBase, amScaled),
      "phash_probed" -> Sweep.obj("base_sec" -> ppB, "scaled_sec" -> ppS, "scaled_pairs" -> ppScaled.size),
      "afp_probed" -> Sweep.obj("base_sec" -> apB, "scaled_sec" -> apS, "scaled_pairs" -> apScaled.size)),
      () => {
        enforceCopy0(phBase.toSet, phScaled.filter(p => p._1 < Shift && p._2 < Shift).toSet)
        enforceCopy0(afBase.toSet, afScaled.filter(p => p._1 < Shift && p._2 < Shift).toSet)
        enforceCopy0(pmBase.toSet, pmScaled.filter(p => p._1 < Shift && p._2 < Shift).toSet)
        enforceCopy0(amBase.toSet, amScaled.filter(p => p._1 < Shift && p._2 < Shift).toSet)
        enforceReplicaRecall(phScaled, factor)
        enforceReplicaRecall(afScaled, factor)
        enforceReplicaRecall(pmScaled, factor)
        enforceReplicaRecall(amScaled, factor)
        // radius containment: the scale form may never invent a pair the
        // high-recall form lacks (mih ⊆ byte-block at the wider radius)
        if (!pmScaled.map(p => (p._1, p._2)).toSet.subsetOf(phScaled.map(p => (p._1, p._2)).toSet))
          throw new IllegalStateException("fingerprint sweep invalid: phash_mih ⊄ phash")
        if (!amScaled.map(p => (p._1, p._2)).toSet.subsetOf(afScaled.map(p => (p._1, p._2)).toSet))
          throw new IllegalStateException("fingerprint sweep invalid: afp_mih ⊄ afp")
        // and the scale form must actually be cheaper at 10× — that's its job
        if (pmS >= phS || amS >= afS)
          throw new IllegalStateException(
            s"fingerprint sweep invalid: mih not faster at ${factor}× (phash $pmS vs $phS, afp $amS vs $afS)")
        // probed-MIH is a same-radius rendering: its pair set must EQUAL the
        // byte-block one (not just ⊆ like the tighter-radius mih forms)
        if (ppScaled.map(p => (p._1, p._2)).toSet != phScaled.map(p => (p._1, p._2)).toSet)
          throw new IllegalStateException("fingerprint sweep invalid: phash_probed != phash")
        if (apScaled.map(p => (p._1, p._2)).toSet != afScaled.map(p => (p._1, p._2)).toSet)
          throw new IllegalStateException("fingerprint sweep invalid: afp_probed != afp")
      })
  }
}
