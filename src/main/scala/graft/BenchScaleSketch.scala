package graft

import org.apache.spark.sql.functions._

/** Scale-sweep for the ONE-SWITCH 100 TB profile (`Scale.scaleMode`):
  * the recorded 10× evidence that the Catalyst sketch rewrites — exact
  * distinct counts → HLL (`approx_count_distinct`), exact interpolated
  * percentiles → t-digest (`percentile_approx`) — hold their DOCUMENTED
  * error bounds while removing the exact operators' scale hazards (the
  * per-group set materialization of `collect_set`, the full sort of
  * `percentile`). Closes the loop on the scale-mode claims: until this
  * sweep the switch was plan-asserted and timed, but its accuracy
  * contract was never enforced anywhere (round-8 stretch directive).
  *
  * Construction mirrors the other sweeps: replica i shifts every entity
  * key past any real id (events.user_id/event_id, orders.o_orderkey/
  * o_custkey, customer.c_custkey; nation fixed), so per-key structure is
  * held fixed and EXACT-mode outputs must satisfy exact ×factor
  * relations — a2 per-(window, type) user counts and a3 per-(window,
  * nation) order counts scale by the factor, a8's exact percentiles are
  * replication-INVARIANT. Those exactness gates validate the corpus;
  * the sketch gates then bound the approximation against the exact run
  * ON THE SAME corpus at BOTH scales:
  *
  *  - HLL distinct counts: per-row relative error ≤ 0.15 (default rsd
  *    0.05; 3σ margin), row keys identical, and the NON-rewritten
  *    columns (sums, plain counts) bit-equal to the exact run — the
  *    rewrite touched only the distinct aggregate;
  *  - t-digest percentiles: quantile-RANK error ≤ 0.05 — for reported
  *    value v at target quantile q, |rank(v) − q| where rank(v) =
  *    |{x ≤ v}| / n per group (the principled sketch metric: value-space
  *    error is unbounded on skewed data, rank error is what t-digest
  *    guarantees).
  *
  * Artifact first (`BENCH_SCALE_sketch.json`), nonzero exit on any gate
  * violation — the `BenchScale` contract.
  */
object BenchScaleSketch extends Sweep.Legs {

  val metric = "scale_sweep_sketch"
  val artifactFile = "BENCH_SCALE_sketch.json"

  /** One factor leg: exact-mode ×factor validity gates, sketch error
    * bounds at both scales, timings. The gates here run inside the leg; a
    * violation ends the leg early, which then records only the violation
    * in the artifact and re-throws it from its deferred gate.
    */
  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg =
    try SweepTmp.withDir("graft_sweep_sketch") { scaledDir =>
      val spark = c.spark
      val sfDir = c.sfDir
      val shift = 1000000000L
      Sweep.replicate(c, scaledDir, "events", factor, "event_id" -> shift, "user_id" -> shift)
      Sweep.replicate(c, scaledDir, "orders", factor, "o_orderkey" -> shift, "o_custkey" -> shift)
      Sweep.replicate(c, scaledDir, "customer", factor, "c_custkey" -> shift)
      Sweep.replicate(c, scaledDir, "nation", 1)

      val family = Seq("a2_product_stats", "a3_province_stats", "a8_percentiles")
        .map(n => n -> SparkEntry.queries(n))

      def sketched[A](body: => A): A = {
        operators.Scale.scaleMode(spark)
        try body finally operators.Scale.scaleMode(spark, on = false)
      }

      // warm-up, both dirs, both modes
      family.foreach { case (_, mk) =>
        c.warm(mk(spark, sfDir), mk(spark, scaledDir))
        sketched(c.warm(mk(spark, sfDir), mk(spark, scaledDir)))
      }

      val times = family.map { case (name, mk) =>
        (name,
          c.time(mk(spark, sfDir)), c.time(mk(spark, scaledDir)),
          sketched(c.time(mk(spark, sfDir))), sketched(c.time(mk(spark, scaledDir))))
      }

      // ---- accuracy + exactness gates, off the timed path ---------------
      // NOTE: the collect() must happen INSIDE the `sketched` scope — the
      // rewrite rule reads the conf when the plan is optimized at action
      // time, so collecting a lazily-built frame after switching the mode
      // off would silently gate the exact plan against itself
      import org.apache.spark.sql.Row
      def rowsOf(dir: String, idx: Int, sketch: Boolean): Seq[Row] = {
        val mk = family(idx)._2
        if (sketch) sketched(mk(spark, dir).collect().toSeq)
        else mk(spark, dir).collect().toSeq
      }

      // a2: key (stt, edt, event_type) → (user_ct, amount, ct)
      def a2Map(dir: String, sketch: Boolean): Map[(String, String, String), (Long, Double, Long)] =
        rowsOf(dir, 0, sketch).map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
          ((r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
      // a3: key (stt, edt, n_name) → (order_count, order_amount)
      def a3Map(dir: String, sketch: Boolean): Map[(String, String, String), (Long, Double)] =
        rowsOf(dir, 1, sketch).map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
          ((r.getLong(3), r.getDouble(4)))).toMap
      // a8: event_type → (p50, p95, p99)
      def a8Map(dir: String, sketch: Boolean): Map[String, (Double, Double, Double)] =
        rowsOf(dir, 2, sketch).map(r => r.getString(0) ->
          ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap

      def gate(ok: Boolean, what: String): Unit =
        if (!ok) throw new IllegalStateException(
          s"sketch sweep invalid: $what — artifact written but timings must not be cited")

      // corpus validity: exact-mode ×factor / invariance relations
      val a2b = a2Map(sfDir, sketch = false); val a2s = a2Map(scaledDir, sketch = false)
      gate(a2b.nonEmpty && a2s.keySet == a2b.keySet && a2b.forall { case (k, (u, a, c)) =>
        val (us, as_, cs) = a2s(k)
        us == factor * u && cs == factor * c && math.abs(as_ - factor * a) < 1e-4
      }, "a2 exact rows not exact ×factor multiples")
      val a3b = a3Map(sfDir, sketch = false); val a3s = a3Map(scaledDir, sketch = false)
      gate(a3b.nonEmpty && a3s.keySet == a3b.keySet && a3b.forall { case (k, (u, a)) =>
        a3s(k)._1 == factor * u && math.abs(a3s(k)._2 - factor * a) < 1e-4
      }, "a3 exact rows not exact ×factor multiples")
      // exact interpolated percentiles are only NEAR-invariant under
      // replication: the interpolation position is q·(n−1), so ×f
      // replication shifts it by O(1/n) of the local quantile density —
      // bound the drift at 2% relative, not bit-equality
      val a8b = a8Map(sfDir, sketch = false); val a8s = a8Map(scaledDir, sketch = false)
      def relClose(x: Double, y: Double): Boolean =
        math.abs(x - y) <= 0.02 * math.max(math.abs(x), math.abs(y)).max(1e-9)
      gate(a8b.nonEmpty && a8s.keySet == a8b.keySet && a8b.forall { case (k, (x, y, z)) =>
        val (xs, ys, zs) = a8s(k)
        relClose(x, xs) && relClose(y, ys) && relClose(z, zs)
      }, "a8 exact percentiles drifted > 2% under replication")

      // HLL error bounds at both scales + untouched-column equality
      def hllGates(dir: String, tag: String): Double = {
        val ex2 = a2Map(dir, sketch = false); val sk2 = a2Map(dir, sketch = true)
        gate(sk2.keySet == ex2.keySet, s"a2 $tag sketch row keys differ")
        val errs2 = ex2.map { case (k, (u, a, c)) =>
          val (us, as_, cs) = sk2(k)
          gate(as_ == a && cs == c, s"a2 $tag non-rewritten columns changed at $k")
          math.abs(us - u).toDouble / u.max(1L)
        }
        val ex3 = a3Map(dir, sketch = false); val sk3 = a3Map(dir, sketch = true)
        gate(sk3.keySet == ex3.keySet, s"a3 $tag sketch row keys differ")
        val errs3 = ex3.map { case (k, (u, a)) =>
          gate(sk3(k)._2 == a, s"a3 $tag non-rewritten columns changed at $k")
          math.abs(sk3(k)._1 - u).toDouble / u.max(1L)
        }
        val maxErr = (errs2 ++ errs3).max
        gate(maxErr <= 0.15, s"HLL $tag max relative error $maxErr > 0.15")
        maxErr
      }
      val hllErrBase = hllGates(sfDir, "base")
      val hllErrScaled = hllGates(scaledDir, "scaled")

      // t-digest rank error at both scales
      def rankErr(dir: String): Double = {
        val sk = a8Map(dir, sketch = true)
        val errs = sk.flatMap { case (et, (p50, p95, p99)) =>
          val vals = Tables.events(spark, dir).filter(col("event_type") === et)
            .agg(count(lit(1)).as("n"),
              sum(when(col("value") <= p50, 1L).otherwise(0L)).as("r50"),
              sum(when(col("value") <= p95, 1L).otherwise(0L)).as("r95"),
              sum(when(col("value") <= p99, 1L).otherwise(0L)).as("r99"))
            .collect()(0)
          val n = vals.getLong(0).toDouble
          Seq(math.abs(vals.getLong(1) / n - 0.50),
            math.abs(vals.getLong(2) / n - 0.95),
            math.abs(vals.getLong(3) / n - 0.99))
        }
        errs.max
      }
      val rankErrBase = rankErr(sfDir)
      val rankErrScaled = rankErr(scaledDir)

      gate(rankErrBase <= 0.05, s"t-digest base rank error $rankErrBase > 0.05")
      gate(rankErrScaled <= 0.05, s"t-digest scaled rank error $rankErrScaled > 0.05")

      // Per-op MEASURED verdict (round-10 verdict item 5): the swap rule is
      // measurement-backed, not an assumed "sketches always win".
      // "sketch" only when the sketch run is
      // >1.2× faster at the scaled point (outside same-plan noise);
      // "either" inside the band; "exact" when exact wins — the x100
      // recording showed a8's t-digest ~1.8× SLOWER than exact and a3's
      // HLL tying it, so the honest verdict is per-op and per-scale.
      def verdictOf(es: Double, ss: Double): String =
        if (ss * 1.2 < es) "sketch" else if (es * 1.2 < ss) "exact" else "either"
      val timeFields = times.map { case (n, eb, es, sb, ss) =>
        n -> Sweep.obj("exact_base_sec" -> eb, "exact_scaled_sec" -> es,
          "sketch_base_sec" -> sb, "sketch_scaled_sec" -> ss,
          "recommended_mode" -> verdictOf(es, ss))
      }
      Sweep.Leg(s"x$factor", Seq(
        "factor" -> factor, "times" -> Sweep.obj(timeFields: _*),
        "hll_max_rel_err" -> Sweep.obj("base" -> hllErrBase, "scaled" -> hllErrScaled, "bound" -> 0.15),
        "tdigest_max_rank_err" -> Sweep.obj("base" -> rankErrBase, "scaled" -> rankErrScaled,
          "bound" -> 0.05)))
    } catch {
      case e: IllegalStateException =>
        Sweep.Leg(s"x$factor", Seq("factor" -> factor, "gate_error" -> e.getMessage), () => throw e)
    }
}
