package graft

import org.apache.spark.sql.functions._

/** Scale-sweep for the triangle/clustering-coefficient operator — the
  * registry's single most expensive query (`graph_triangles`, ~13 s at
  * sf0.1) and the one whose cost model (degree-oriented wedge join,
  * O(√|E|) fan-out bound) most needs scaled evidence: a wedge join that
  * silently went quadratic would still pass the sf0.01 oracle.
  *
  * Construction: f disjoint key-shifted replicas of `lineitem` (orderkey
  * and partkey both shifted, so replica graphs share no vertices and no
  * orders). A uniform id shift preserves the (degree, id) orientation
  * order within each replica, so every replica's triangle structure is
  * bit-identical to the base — the output MUST satisfy exact ×factor
  * relations: result rows (parts), total triangle count, and the whole
  * per-(degree, tri_ct, clust_coeff) histogram all scale by the factor.
  * The histogram gate subsumes the scalar ones but the scalars are
  * recorded for the artifact's readability.
  *
  * Default legs are 10× and 100× — the factor the other families run,
  * reachable since the closing join's declined-broadcast path became a
  * shuffled-hash build (round 13): sort-merge SORTED the wedge stream
  * (billions of rows past ~40×) and was the binding term that capped the
  * sweep at 30× (round 11) then 60× (round 12, via spill-aware partition
  * scaling + DISK_ONLY checkpoints). Run at the pinned 20 g sweep heap —
  * a larger heap measurably SLOWS these legs on this rig (recorded
  * `heap_gb`).
  *
  * Each scaled input is WRITTEN AS PARQUET and read through the same
  * dir-based entry point as production (full scan-to-result timing).
  * Artifact first, nonzero exit on any gate violation (the `BenchScale`
  * contract), so timings from an invalid run cannot be cited.
  *
  * Writes `BENCH_SCALE_graph.json`; prints the JSON as the last line.
  */
object BenchScaleGraph extends Sweep.Legs {

  val metric = "scale_sweep_graph"
  val artifactFile = "BENCH_SCALE_graph.json"

  override def extra(done: Seq[Sweep.Leg]): Sweep.Fields = Seq(
    "legs_done" -> done.size,
    // heap geometry moves these scan-bound walls (runbook: 81 s at
    // 20g vs 159 s at 32g for the same 10× leg) — self-describe it
    "heap_gb" -> (Runtime.getRuntime.maxMemory() >> 30),
    "closing_join" -> ("shuffled-hash past the broadcast gate (round-13: the SMJ " +
      "wedge-stream sort was the term that capped earlier rounds at 30x/60x)"))

  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg =
    SweepTmp.withDir(s"graft_sweep_graph_x$factor") { scaledDir =>
      val spark = c.spark
      Sweep.replicate(c, scaledDir, "lineitem", factor,
        "l_orderkey" -> 1000000000L, "l_partkey" -> 1000000000L)
      val mk = SparkEntry.queries("graph_triangles")

      // spill-aware partition sizing (the 100 TB posture: partitions sized to
      // executor memory, not the other way round): the wedge table grows
      // linearly in the factor, so a ≥40× leg at 32 shuffle partitions puts
      // >1 GB of sort state on each of 32 concurrent tasks and OOMs a 20 g
      // heap — scale the partition count with the factor instead of the heap
      // (a bigger heap measurably SLOWS this rig: 159 s at 32 g vs ~81–108 s
      // at 20 g for the same 10× leg). AQE coalesces the small ones back.
      val partKey = "spark.sql.shuffle.partitions"
      val basePartitions = spark.conf.get(partKey)
      val scaledPartitions = 32 * math.max(1, factor / 10)
      def withScaledPartitions[T](body: => T): T = {
        spark.conf.set(partKey, scaledPartitions.toString)
        // the reused edge tables go DISK_ONLY at sweep scale: their default
        // deserialized in-memory checkpoint blocks (2 × ~70M rows at 60×)
        // pin the heap the wedge join's sorts need (Scale.checkpointed doc)
        if (factor >= 40)
          spark.conf.set(graft.operators.Scale.CheckpointLevelConf, "DISK_ONLY")
        try body finally {
          spark.conf.set(partKey, basePartitions)
          spark.conf.unset(graft.operators.Scale.CheckpointLevelConf)
        }
      }

      c.warm(mk(spark, c.sfDir))
      val baseSec = c.time(mk(spark, c.sfDir))
      val scaledSec = withScaledPartitions(c.time(mk(spark, scaledDir)))

      // ---- exact ×factor gates, off the timed path ----------------------
      // per-(degree, tri_ct, clust_coeff) histogram: each cell's part count
      // must scale exactly; clust_coeff is derived from (d, tri) so including
      // it gates the coefficient arithmetic too
      def hist(dir: String): Map[(Long, Long, Double), Long] =
        mk(spark, dir).groupBy(col("degree"), col("tri_ct"), col("clust_coeff"))
          .agg(count(lit(1)).as("ct")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)) -> r.getLong(3)).toMap
      val hb = hist(c.sfDir)
      val hs = withScaledPartitions(hist(scaledDir))
      val histExact = Sweep.exactMultiple(hb, hs, factor)
      val rowsB = hb.values.sum
      val rowsS = hs.values.sum
      val trisB = hb.map { case ((_, t, _), ct) => t * ct }.sum / 3
      val trisS = hs.map { case ((_, t, _), ct) => t * ct }.sum / 3

      Sweep.Leg(s"x$factor", Seq(
        "factor" -> factor, "scaled_shuffle_partitions" -> scaledPartitions,
        "times" -> Sweep.obj("graph_triangles" ->
          Sweep.obj("base_sec" -> baseSec, "scaled_sec" -> scaledSec)),
        "rows" -> Sweep.obj("base" -> rowsB, "scaled" -> rowsS),
        "triangles" -> Sweep.obj("base" -> trisB, "scaled" -> trisS),
        "hist_cells" -> hb.size, "hist_exact_multiple" -> histExact),
        () => if (!histExact) throw new IllegalStateException(
          s"graph sweep invalid at x$factor: (degree, tri_ct, coeff) histogram not an " +
            s"exact ×$factor multiple (base ${hb.size} cells / $rowsB rows, scaled " +
            s"${hs.size} / $rowsS) — artifact written but timings must not be cited"))
    }
}
