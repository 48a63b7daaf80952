package graft

import org.apache.spark.sql.functions._

/** Scale-sweep for the blocked-ER family (`er_blocked_pairs` →
  * `er_entities` → `er_golden_records`) — after the triangles fix this is
  * the registry's heaviest family, and its cost model (within-block
  * Levenshtein fan-out + iterative label propagation + one survivorship
  * aggregate) deserves the same scaled evidence as the dedup joins: a
  * blocking key that silently stopped blocking would still pass the
  * sf0.01 oracle.
  *
  * Construction: f replicas of `customer` with BOTH c_custkey and
  * c_nationkey shifted per replica (names untouched). The ER ops block on
  * the nation key alone, so replica blocks are disjoint while every
  * within-replica name distance is bit-identical to the base — the
  * outputs MUST satisfy exact ×factor relations: the match-pair count and
  * its distance histogram, the entity-size histogram, and the
  * golden-record histogram over (n_members, n_segments, total_balance)
  * all scale by the factor. Entity IDS shift with the keys (min member
  * key), so gates compare replica-invariant histograms, never raw ids.
  *
  * Default legs are 10× and 100× (the brief's "survive a 100× scale-up"
  * bar): 100× of sf0.1 `customer` is 1.5M rows — in-RAM, so the only cost
  * is wall-clock.
  *
  * Each scaled input is WRITTEN AS PARQUET and read through the same
  * dir-based entry points as production. Artifact first, nonzero exit on
  * any gate violation (the `BenchScale` contract).
  *
  * Writes `BENCH_SCALE_er.json`; prints the JSON as the last line.
  */
object BenchScaleEr extends Sweep.Legs {

  val metric = "scale_sweep_er"
  val artifactFile = "BENCH_SCALE_er.json"

  override def extra(done: Seq[Sweep.Leg]): Sweep.Fields = Seq("legs_done" -> done.size)

  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg =
    SweepTmp.withDir(s"graft_sweep_er_x$factor") { scaledDir =>
      val spark = c.spark
      Sweep.replicate(c, scaledDir, "customer", factor,
        "c_custkey" -> 1000000000L, "c_nationkey" -> 1000L)

      val family = Seq("er_blocked_pairs", "er_entities", "er_golden_records")
        .map(n => n -> SparkEntry.queries(n))
      c.warm(family.map(_._2(spark, c.sfDir)): _*)

      val times = family.map { case (name, mk) =>
        name -> Sweep.obj("base_sec" -> c.time(mk(spark, c.sfDir)),
          "scaled_sec" -> c.time(mk(spark, scaledDir)))
      }

      // ---- exact ×factor gates over replica-invariant histograms --------
      def hist(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Long] =
        df.collect().map { r =>
          (0 until r.length - 1).map(r.get) -> r.getLong(r.length - 1)
        }.toMap
      def exactMultiple(mkHist: String => org.apache.spark.sql.DataFrame): Boolean =
        Sweep.exactMultiple(hist(mkHist(c.sfDir)), hist(mkHist(scaledDir)), factor)
      // match pairs: per-distance counts
      val pairsExact = exactMultiple(d =>
        SparkEntry.queries("er_blocked_pairs")(spark, d)
          .groupBy(col("dist")).agg(count(lit(1)).as("ct")))
      // entities: cluster-size histogram (sizes are replica-invariant)
      val entitiesExact = exactMultiple(d =>
        SparkEntry.queries("er_entities")(spark, d)
          .groupBy(col("entity_id")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("ct")))
      // golden records: full survivorship histogram — balances and segment
      // spans are identical per replica, so every cell must scale exactly
      val goldenExact = exactMultiple(d =>
        SparkEntry.queries("er_golden_records")(spark, d)
          .groupBy(col("n_members"), col("n_segments"),
            round(col("total_balance"), 2).as("bal"))
          .agg(count(lit(1)).as("ct")))

      Sweep.Leg(s"x$factor", Seq(
        "factor" -> factor, "times" -> Sweep.obj(times: _*),
        "pairs_exact_multiple" -> pairsExact, "entities_exact_multiple" -> entitiesExact,
        "golden_exact_multiple" -> goldenExact),
        () => {
          def gate(ok: Boolean, what: String): Unit =
            if (!ok) throw new IllegalStateException(
              s"ER sweep invalid at x$factor: $what — artifact written but timings " +
                "must not be cited")
          gate(pairsExact, "pair distance histogram not an exact multiple")
          gate(entitiesExact, "entity-size histogram not an exact multiple")
          gate(goldenExact, "golden-record histogram not an exact multiple")
        })
    }
}
