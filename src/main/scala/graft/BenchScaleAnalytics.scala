package graft

import org.apache.spark.sql.functions._

/** Scale-sweep for the warehouse-analytics family (SCD2 history, ordered
  * funnel, cohort retention, rolling active users): the 10× evidence that
  * the shared shuffle-once-by-user plan shape scales linearly in event
  * volume when per-user structure is held fixed.
  *
  * Construction: replica i shifts user_id and event_id past any real id
  * (same timestamps, same per-user event sequences), so every replica
  * reproduces the base population exactly and NO user crosses replicas.
  * Under that construction the outputs MUST satisfy exact ×factor
  * relations — SCD2 history rows, each funnel stage count, every cohort
  * retention cell, and each day's DAU/WAU scale by the factor while
  * stickiness ratios are unchanged. The sweep enforces all four the same
  * way `BenchScale` enforces pair-set equality: artifact written first,
  * nonzero exit on violation, so timings from an invalid run cannot be
  * cited. Wall-clock growing ~linearly is then honest evidence no stage
  * is super-linear: the user partitioning fans out, the rollup key
  * spaces (event-type catalog, days², calendar days) stay fixed.
  *
  * Writes `BENCH_SCALE_analytics.json`; prints the JSON as the last line.
  */
object BenchScaleAnalytics extends Sweep.Legs {

  def enforce(name: String, base: Long, scaled: Long, factor: Int): Unit =
    if (base <= 0 || scaled != factor * base)
      throw new IllegalStateException(
        s"analytics sweep invalid: $name base=$base scaled=$scaled factor=$factor " +
          "(expected scaled == factor * base > 0) — artifact written but the run's " +
          "timings must not be cited")

  val metric = "scale_sweep_analytics"
  val artifactFile = "BENCH_SCALE_analytics.json"

  /** One factor leg: timings + exact ×factor gates. */
  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg = {

    def replica(i: Int) =
      Tables.events(c.spark, c.sfDir).select(
        (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * 1000000000L)).as("user_id"),
        col("event_type"), col("value"))
    def base = Tables.spread(c.spark, replica(0))
    def scaled = Tables.spread(c.spark, (0 until factor).map(replica).reduce(_ union _))

    import operators.LogPipeline._
    val family: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "scd2_history" -> (ev => scd2Transform(ev)),
      "event_funnel" -> (ev => a13FunnelTransform(ev)),
      "cohort_retention" -> (ev => a14CohortTransform(ev)),
      "active_users" -> (ev => a18ActiveTransform(ev)))
    c.warm(family.map(_._2(base)): _*)

    val times = family.map { case (name, mk) =>
      name -> Sweep.obj("base_sec" -> c.time(mk(base)), "scaled_sec" -> c.time(mk(scaled)))
    }

    // exact ×factor gates, computed OFF the timed path. History rows and
    // funnel stage counts are scalar relations; cohort cells and per-day
    // actives are checked cell-by-cell so a compensating error can't hide.
    val baseHist = Sweep.exec(scd2Transform(base))
    val scaledHist = Sweep.exec(scd2Transform(scaled))
    val bf = a13FunnelTransform(base).collect().head
    val sf = a13FunnelTransform(scaled).collect().head
    val funnelExact = (0 to 2).forall(i => sf.getLong(i) == factor * bf.getLong(i))
    def cellMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val bc = cellMap(a14CohortTransform(base))
    val sc = cellMap(a14CohortTransform(scaled))
    val cohortExact = Sweep.exactMultiple(bc, sc, factor)
    def dayMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bd = dayMap(a18ActiveTransform(base))
    val sd = dayMap(a18ActiveTransform(scaled))
    val activeExact = bd.nonEmpty && sd.keySet == bd.keySet &&
      bd.forall { case (k, (dau, wau)) => sd(k) == ((factor * dau, factor * wau)) }

    Sweep.Leg(s"x$factor", Seq(
      "factor" -> factor, "times" -> Sweep.obj(times: _*),
      "base_hist_rows" -> baseHist, "scaled_hist_rows" -> scaledHist,
      "hist_exact_multiple" -> (scaledHist == factor.toLong * baseHist),
      "funnel_exact_multiple" -> funnelExact,
      "cohort_cells_exact_multiple" -> cohortExact,
      "active_days_exact_multiple" -> activeExact),
      () => {
        enforce("scd2_history", baseHist, scaledHist, factor)
        if (!funnelExact) throw new IllegalStateException(
          s"analytics sweep invalid at x$factor: funnel counts not exact multiples")
        if (!cohortExact) throw new IllegalStateException(
          s"analytics sweep invalid at x$factor: cohort cells not exact multiples")
        if (!activeExact) throw new IllegalStateException(
          s"analytics sweep invalid at x$factor: per-day actives not exact multiples")
      })
  }
}
