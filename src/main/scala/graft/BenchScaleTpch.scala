package graft

import org.apache.spark.sql.functions._

/** Scale-sweep for the TPC-H-shape completion family (q6 scan aggregate,
  * q8 market share, q9 product profit, q12 ship-lag counts, q16
  * distinct+anti, q19 disjunctive predicates, q20 nested share threshold,
  * q21 existence self-joins): scaled evidence that these plan shapes
  * scale near-linearly in fact volume when per-entity structure is held
  * fixed. Default legs are 10× AND 100× (the brief's "survive a 100×
  * scale-up" bar) — q21's triple self-join was the honest worst at
  * 3.8× wall for 10× facts, and 100× facts is the test of whether its
  * id-pair shuffles stay near-linear.
  *
  * Construction mirrors `BenchScaleRelational`: replica i shifts every
  * entity key past any real id; nation/region stay fixed. Each replica is
  * a disjoint copy of the base population, so outputs MUST satisfy exact
  * ×factor relations: q6/q19 line counts, q9 per-(nation, year) line
  * counts, q12 per-bucket priority counts, q16 per-(brand, type, size)
  * distinct-supplier counts (supplier sets of different replicas are
  * disjoint), q20's dominant-supplier row count, and q21's total sole-late
  * pair population (gated pre-LIMIT, the q18 discipline). q8's market
  * share is REPLICATION-INVARIANT (both sums scale ×f in exact decimal),
  * so the per-year share must agree to 1e-9 after the 6dp round.
  *
  * Each scaled input is WRITTEN AS PARQUET and read through the same
  * `SparkEntry.queries` dir-based entry points as production. Artifact
  * first, nonzero exit on any gate violation (the `BenchScale` contract).
  * Scaled trees are deleted per leg (a 100× lineitem copy is tens of GB).
  *
  * Writes `BENCH_SCALE_tpch.json`; prints the JSON as the last line.
  */
object BenchScaleTpch extends Sweep.Legs {

  val metric = "scale_sweep_tpch"
  val artifactFile = "BENCH_SCALE_tpch.json"

  override def extra(done: Seq[Sweep.Leg]): Sweep.Fields = Seq("legs_done" -> done.size)

  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg =
    SweepTmp.withDir(s"graft_sweep_tpch_x$factor") { scaledDir =>
      val spark = c.spark
      val sfDir = c.sfDir
      BenchScaleRelational.writeScaledTpch(c, scaledDir, factor)
      val family = Seq("q6_forecast_revenue", "q8_market_share", "q9_product_profit",
        "q12_ship_lag", "q16_supplier_cnt", "q19_disjunctive_rev",
        "q20_excess_supp", "q21_waiting_supp")
        .map(n => n -> SparkEntry.queries(n))

      // warm BOTH dir variants: unreadable scaled parquet must fail here too
      c.warm(family.flatMap { case (_, mk) => Seq(mk(spark, sfDir), mk(spark, scaledDir)) }: _*)

      val times = family.map { case (name, mk) =>
        name -> Sweep.obj("base_sec" -> c.time(mk(spark, sfDir)),
          "scaled_sec" -> c.time(mk(spark, scaledDir)))
      }

      // ---- exact ×factor gates, off the timed path ------------------------
      import operators.{Relational => R}
      val q6b = R.q6ForecastRevenue(spark, sfDir).collect().head.getLong(1)
      val q6s = R.q6ForecastRevenue(spark, scaledDir).collect().head.getLong(1)
      val q6Exact = q6s == factor * q6b && q6b > 0

      def shareMap(dir: String): Map[Long, Double] =
        R.q8MarketShare(spark, dir).collect()
          .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      val q8b = shareMap(sfDir)
      val q8s = shareMap(scaledDir)
      val q8Invariant = q8b.nonEmpty && q8s.keySet == q8b.keySet &&
        q8b.forall { case (k, v) => math.abs(q8s(k) - v) < 1e-9 }

      def q9Map(dir: String): Map[(String, Long), Long] =
        R.q9ProductProfit(spark, dir).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      val q9Exact = Sweep.exactMultiple(q9Map(sfDir), q9Map(scaledDir), factor)

      def q12Map(dir: String): Map[String, (Long, Long)] =
        R.q12ShipLag(spark, dir).collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val q12b = q12Map(sfDir)
      val q12s = q12Map(scaledDir)
      val q12Exact = q12b.nonEmpty && q12s.keySet == q12b.keySet &&
        q12b.forall { case (k, (h, l)) => q12s(k) == ((factor * h, factor * l)) }

      def q16Map(dir: String): Map[(String, String, Int), Long] =
        R.q16SupplierCnt(spark, dir).collect()
          .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3)).toMap
      val q16Exact = Sweep.exactMultiple(q16Map(sfDir), q16Map(scaledDir), factor)

      val q19b = R.q19DisjunctiveRev(spark, sfDir).collect().head.getLong(1)
      val q19s = R.q19DisjunctiveRev(spark, scaledDir).collect().head.getLong(1)
      val q19Exact = q19s == factor * q19b && q19b > 0

      val q20b = R.q20ExcessSupp(spark, sfDir).count()
      val q20s = R.q20ExcessSupp(spark, scaledDir).count()
      val q20Exact = q20s == factor * q20b && q20b > 0

      // q21's top-20 LIMIT does not scale; gate the sole-late population
      // itself (the q18 discipline), using the SAME helper the query
      // aggregates — one definition of the ship-lag proxy (round-7 advice)
      def soleLateCount(dir: String): Long = R.q21SoleLatePairs(spark, dir).count()
      val q21b = soleLateCount(sfDir)
      val q21s = soleLateCount(scaledDir)
      val q21Exact = q21s == factor * q21b && q21b > 0

      Sweep.Leg(s"x$factor", Seq(
        "factor" -> factor, "times" -> Sweep.obj(times: _*),
        "q6_line_ct" -> Sweep.obj("base" -> q6b, "scaled" -> q6s), "q6_exact_multiple" -> q6Exact,
        "q8_share_invariant" -> q8Invariant,
        "q9_exact_multiple" -> q9Exact, "q12_exact_multiple" -> q12Exact,
        "q16_exact_multiple" -> q16Exact,
        "q19_line_ct" -> Sweep.obj("base" -> q19b, "scaled" -> q19s), "q19_exact_multiple" -> q19Exact,
        "q20_suppliers" -> Sweep.obj("base" -> q20b, "scaled" -> q20s), "q20_exact_multiple" -> q20Exact,
        "q21_sole_late" -> Sweep.obj("base" -> q21b, "scaled" -> q21s), "q21_exact_multiple" -> q21Exact),
        () => {
          def gate(ok: Boolean, what: String): Unit =
            if (!ok) throw new IllegalStateException(
              s"tpch sweep invalid at x$factor: $what — artifact written but timings " +
                "must not be cited")
          gate(q6Exact, s"q6 line count $q6b -> $q6s")
          gate(q8Invariant, "q8 per-year shares not replication-invariant")
          gate(q9Exact, "q9 per-(nation, year) counts not exact multiples")
          gate(q12Exact, "q12 per-bucket counts not exact multiples")
          gate(q16Exact, "q16 per-group distinct-supplier counts not exact multiples")
          gate(q19Exact, s"q19 line count $q19b -> $q19s")
          gate(q20Exact, s"q20 dominant suppliers $q20b -> $q20s")
          gate(q21Exact, s"q21 sole-late population $q21b -> $q21s")
        })
    }
}
