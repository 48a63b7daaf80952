package graft

import org.apache.spark.sql.functions._

/** Scale-sweep benchmark: the 10× corpus evidence for the prefix-filtered
  * dedup joins, recorded as a first-class artifact instead of prose.
  *
  * Replicates the sf `documents` table `SPARK_GRAFT_SCALE_FACTOR` times
  * (default 10 → ~50k docs at sf0.1) with doc_ids shifted per replica —
  * same construction as the round-3 one-off smoke — then times the
  * prefix-filtered joins against their exhaustive twins and asserts the
  * output pair sets are IDENTICAL (count + two-way `except`). Writes
  * `BENCH_SCALE.json` to the working directory and prints the same JSON
  * as the last stdout line.
  *
  * Why this exists: the exhaustive joins are the documented winners at toy
  * SF, the prefix joins at corpus scale. sf0.1 sits near the crossover, so
  * a single-SF number cannot show the design property that matters at
  * 100 TB — sub-quadratic candidate growth. This sweep does.
  */
object BenchScale extends Sweep.SingleLeg {

  /** The sweep's validity gate: a speedup is only evidence if the prefix
    * and exhaustive plans produced IDENTICAL pair sets. Called after the
    * artifact is written so a diverging run still leaves its (flagged)
    * record on disk — but the process exits nonzero, so the numbers cannot
    * be cited from a run that silently passed.
    */
  def enforcePairEquality(jaccardEqual: Boolean, containEqual: Boolean): Unit =
    if (!jaccardEqual || !containEqual)
      throw new IllegalStateException(
        s"prefix/exhaustive pair sets diverge (jaccard_pairs_equal=$jaccardEqual, " +
          s"containment_pairs_equal=$containEqual): artifact written but the run is " +
          "INVALID — its speedups must not be cited")

  private val regime = sys.env.getOrElse("SPARK_GRAFT_SCALE_REGIME", "linear")
  val metric = "scale_sweep"
  val artifactFile = s"BENCH_SCALE_$regime.json"

  override def extra(done: Seq[Sweep.Leg]): Sweep.Fields = Seq("regime" -> regime)

  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg = {
    // the sweep measures the prefix MACHINERY: disable the toy-scale
    // crossover so the prefix path never silently re-routes to the
    // exhaustive plan it is being compared against
    c.spark.conf.set(operators.Scale.PrefixCrossoverConf, "0")

    // Two scaling regimes, SPARK_GRAFT_SCALE_REGIME:
    //  - "linear" (default): each replica gets its own source suffix, so
    //    the corpus grows 10× while BLOCK sizes stay fixed — the realistic
    //    ingest model (new sources arrive over time; qualifying pairs grow
    //    linearly).
    //  - "quadratic": replicas share the original sources, so every block
    //    grows 10× and the qualifying pair set grows ~100× — the worst-case
    //    block-blowup stress.
    // Replica doc_ids shifted far past any real id in both regimes.
    def scaledDocs = {
      val docs = Tables.documents(c.spark, c.sfDir).select(col("doc_id"), col("source"), col("text"))
      (0 until factor)
        .map { i =>
          val src = if (regime == "quadratic") col("source")
            else concat(col("source"), lit(s"_r$i"))
          docs.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            src.as("source"), col("text"))
        }
        .reduce(_ union _)
    }

    val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ngram_prefix"        -> (() => pipeline.Dedup.ngramJaccardPrefixFrom(scaledDocs)),
      "ngram_exhaustive"    -> (() => pipeline.Dedup.ngramJaccardExhaustiveFrom(scaledDocs)),
      "containment_prefix"  -> (() => pipeline.Dedup.bagOverlapPrefixFrom(scaledDocs)),
      "containment_exhaustive" -> (() => pipeline.Dedup.bagOverlapFrom(scaledDocs)))
    c.warm(variants.map(_._2()): _*)

    val times = variants.map { case (name, fn) => name -> c.time(fn()) }

    // pair-set equality prefix vs exhaustive, both families: the speedup is
    // only evidence if the outputs are the same set. One family at a time,
    // blocks released between, so the four pair sets (and their lineage
    // checkpoints) are never all pinned at once.
    // DISK_ONLY, not localCheckpoint: the quadratic-regime pair sets run to
    // ~20M rows × two families, and pinning them deserialized on a default
    // 8g driver heap OOMs the equality phase (observed). The equality
    // checks are off the clock, so disk-backed materialization costs
    // nothing that matters and keeps the sweep runnable at any regime.
    def pairs(df: org.apache.spark.sql.DataFrame) = {
      val p = df.select(col("doc_a"), col("doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      p.count() // materialize once; both excepts below read the disk copy
      p
    }
    def family(prefix: => org.apache.spark.sql.DataFrame,
               exhaustive: => org.apache.spark.sql.DataFrame): (Long, Boolean) = {
      val p = pairs(prefix)
      val e = pairs(exhaustive)
      val n = e.count()
      val eq = p.count() == n && p.except(e).isEmpty && e.except(p).isEmpty
      p.unpersist(blocking = true)
      e.unpersist(blocking = true)
      c.drop()
      (n, eq)
    }
    val (jaccardPairs, jaccardEqual) = family(
      pipeline.Dedup.ngramJaccardPrefixFrom(scaledDocs),
      pipeline.Dedup.ngramJaccardExhaustiveFrom(scaledDocs))
    val (containPairs, containEqual) = family(
      pipeline.Dedup.bagOverlapPrefixFrom(scaledDocs),
      pipeline.Dedup.bagOverlapFrom(scaledDocs))

    Sweep.Leg(s"x$factor", Seq(
      "times_sec" -> Sweep.obj(times: _*),
      "jaccard_pairs" -> jaccardPairs, "containment_pairs" -> containPairs,
      "jaccard_pairs_equal" -> jaccardEqual, "containment_pairs_equal" -> containEqual),
      () => enforcePairEquality(jaccardEqual, containEqual))
  }
}
