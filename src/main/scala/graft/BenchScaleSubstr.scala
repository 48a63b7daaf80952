package graft

import org.apache.spark.sql.functions._

/** Scale-sweep for the exact-substring span family: the 10× evidence that
  * the suffix-array replacement (positional shingle hashes +
  * gaps-and-islands, `pipeline/Dedup.scala` `duplicateSpansFrom`) scales
  * linearly in corpus size when duplication structure is held fixed.
  *
  * Construction: every replica's TOKENS are salted with a replica suffix,
  * so grams never match across replicas — each replica reproduces exactly
  * the base corpus's duplication structure. Under that construction the
  * span output MUST be exactly `factor ×` the base span count; the sweep
  * enforces that invariant the same way `BenchScale` enforces pair-set
  * equality (artifact written first, nonzero exit on violation — numbers
  * from an invalid run cannot be cited). Wall-clock growing ~linearly
  * with the factor is then honest evidence the plan has no super-linear
  * stage: blocks stay fixed, covered rows and pairs grow ×factor.
  *
  * Writes `BENCH_SCALE_substr.json`; prints the JSON as the last line.
  */
object BenchScaleSubstr extends Sweep.Legs {

  /** Validity gate: salted replication must reproduce the base span
    * structure exactly `factor` times; a deviation means cross-replica
    * gram collisions or a broken island merge — either invalidates the
    * scaling claim.
    */
  def enforce(baseSpans: Long, scaledSpans: Long, factor: Int): Unit =
    if (baseSpans <= 0 || scaledSpans != factor * baseSpans)
      throw new IllegalStateException(
        s"substr sweep invalid: base=$baseSpans scaled=$scaledSpans factor=$factor " +
          "(expected scaled == factor * base > 0) — artifact written but the run's " +
          "timings must not be cited")

  val metric = "scale_sweep_substr"
  val artifactFile = "BENCH_SCALE_substr.json"

  /** One factor leg: span + passage timings and exact ×factor gates. */
  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg = {

    // replica i: ids shifted past any real id; every token salted with
    // "ri" so gram hashes never collide across replicas
    def replica(i: Int) =
      Tables.documents(c.spark, c.sfDir).select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1r$i").as("text"))
    def base = Tables.spread(c.spark, replica(0))
    def scaled = Tables.spread(c.spark, (0 until factor).map(replica).reduce(_ union _))

    c.warm(pipeline.Dedup.duplicateSpansFrom(base))
    val (baseSec, baseSpans) = c.timed(Sweep.exec(pipeline.Dedup.duplicateSpansFrom(base)))
    val (scaledSec, scaledSpans) = c.timed(Sweep.exec(pipeline.Dedup.duplicateSpansFrom(scaled)))

    // passage-dedup leg under the SAME salted construction: passages never
    // collide across replicas, so doc count, total passages, and total
    // survivors must each be exactly ×factor — a broken first-occurrence
    // window or a cross-replica fingerprint collision breaks the multiple
    def passageTotals(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("n_passages")), sum(col("n_kept")))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (pBaseSec, (pbDocs, pbPass, pbKept)) =
      c.timed(passageTotals(pipeline.Dedup.passageDedupStripFrom(base)))
    val (pScaledSec, (psDocs, psPass, psKept)) =
      c.timed(passageTotals(pipeline.Dedup.passageDedupStripFrom(scaled)))
    val passageExact = psDocs == factor * pbDocs && psPass == factor * pbPass &&
      psKept == factor * pbKept && pbKept > 0

    Sweep.Leg(s"x$factor", Seq(
      "factor" -> factor, "base_sec" -> baseSec, "scaled_sec" -> scaledSec,
      "base_spans" -> baseSpans, "scaled_spans" -> scaledSpans,
      "spans_exact_multiple" -> (scaledSpans == factor.toLong * baseSpans),
      "passage" -> Sweep.obj(
        "base_sec" -> pBaseSec, "scaled_sec" -> pScaledSec,
        "base_docs" -> pbDocs, "base_passages" -> pbPass, "base_kept" -> pbKept,
        "scaled_docs" -> psDocs, "scaled_passages" -> psPass, "scaled_kept" -> psKept,
        "exact_multiple" -> passageExact)),
      () => {
        enforce(baseSpans, scaledSpans, factor)
        if (!passageExact)
          throw new IllegalStateException(
            s"passage sweep invalid: docs $pbDocs→$psDocs passages $pbPass→$psPass " +
              s"kept $pbKept→$psKept factor=$factor — timings must not be cited")
      })
  }
}
