package graft

import org.apache.spark.sql.functions._

/** Scale-sweep for the warehouse-relational subquery family (q4 EXISTS,
  * q7 nation trade, q17 correlated scalar AVG, q18 IN-over-HAVING, q22
  * NOT-EXISTS + scalar) plus the transaction-graph PageRank: the 10×
  * evidence that the decorrelated join shapes scale linearly in fact
  * volume when per-entity structure is held fixed.
  *
  * Construction: replica i shifts every entity key (orderkey, custkey,
  * partkey, suppkey) past any real id; nation/region stay fixed (they are
  * fixed-cardinality dims). Each replica is an exact disjoint copy of the
  * base population, so the outputs MUST satisfy exact ×factor relations:
  * q4's per-priority order counts, q7's per-nation-pair line counts,
  * q17's qualifying line count, q18's qualifying-order count, and q22's
  * per-nation customer counts all scale by the factor (q22's global
  * positive-balance average is REPLICATION-INVARIANT — same balances,
  * f× the weight — so the filter keeps exactly the same per-replica
  * population). PageRank's graph is f disjoint copies sharing one global
  * N, so node count scales exactly and total rank mass stays ≈1.
  *
  * The scaled input is WRITTEN AS PARQUET to a temp dir and read through
  * the same `SparkEntry.queries` dir-based entry points as production —
  * the sweep times the full scan-to-result pipeline, not a cached frame.
  * Artifact first, nonzero exit on any gate violation (the `BenchScale`
  * contract), so timings from an invalid run cannot be cited.
  *
  * Writes `BENCH_SCALE_relational.json`; prints the JSON as the last line.
  */
object BenchScaleRelational extends Sweep.SingleLeg {

  val metric = "scale_sweep_relational"
  val artifactFile = "BENCH_SCALE_relational.json"

  def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg =
    SweepTmp.withDir("graft_sweep_rel") { scaledDir =>
      val spark = c.spark
      val sfDir = c.sfDir
      // ---- build the scaled dir: f disjoint key-shifted replicas --------
      writeScaledTpch(c, scaledDir, factor)

      val family = Seq("q4_order_priority", "q7_nation_trade", "q17_small_qty",
        "q18_large_orders", "q22_idle_balance", "graph_pagerank")
        .map(n => n -> SparkEntry.queries(n))
      c.warm(family.map(_._2(spark, sfDir)): _*)

      val times = family.map { case (name, mk) =>
        name -> Sweep.obj("base_sec" -> c.time(mk(spark, sfDir)),
          "scaled_sec" -> c.time(mk(spark, scaledDir)))
      }

      // ---- exact ×factor gates, off the timed path ----------------------
      def exactMultiple[K](cells: String => Map[K, Long]): Boolean =
        Sweep.exactMultiple(cells(sfDir), cells(scaledDir), factor)
      // q4: (priority) -> order_ct; q7 keys (cust_nation, supp_nation) but
      // the count column sits at position 3 — project counts explicitly
      val q4Exact = exactMultiple(d => SparkEntry.queries("q4_order_priority")(spark, d)
        .collect().map(r => r.get(0) -> r.getLong(1)).toMap)
      val q7Exact = exactMultiple(d => operators.Relational.q7NationTrade(spark, d)
        .select(col("cust_nation"), col("supp_nation"), col("line_ct")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
      def q17LineCount(dir: String) =
        operators.Relational.q17SmallQty(spark, dir).collect().head.getLong(1)
      val q17b = q17LineCount(sfDir)
      val q17s = q17LineCount(scaledDir)
      // q18's top-20 LIMIT does not scale; gate the HAVING population itself
      def bigOrderCount(dir: String): Long =
        Tables.lineitem(spark, dir).groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
          .filter(col("q") > lit(250).cast("decimal(18,2)")).count()
      val q18b = bigOrderCount(sfDir)
      val q18s = bigOrderCount(scaledDir)
      val q22Exact = exactMultiple(d => operators.Relational.q22IdleBalance(spark, d)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
      val prB = pipeline.Graph.pageRank(spark, sfDir).collect()
      val prS = pipeline.Graph.pageRank(spark, scaledDir).collect()
      val prNodesExact = prS.length == factor * prB.length && prB.nonEmpty
      val prMass = prS.map(_.getDouble(1)).sum
      // micro-unit quantization drifts mass by ≤ ~0.5µ per node per rounding
      // step (3 iterations + init) — the bound scales with node count
      val prMassOk = math.abs(prMass - 1.0) < 2.0e-6 * prS.length
      val q17Exact = q17s == factor * q17b && q17b > 0
      val q18Exact = q18s == factor * q18b && q18b > 0

      Sweep.Leg(s"x$factor", Seq(
        "times" -> Sweep.obj(times: _*),
        "q4_exact_multiple" -> q4Exact, "q7_exact_multiple" -> q7Exact,
        "q17_line_ct" -> Sweep.obj("base" -> q17b, "scaled" -> q17s),
        "q17_exact_multiple" -> q17Exact,
        "q18_big_orders" -> Sweep.obj("base" -> q18b, "scaled" -> q18s),
        "q18_exact_multiple" -> q18Exact,
        "q22_exact_multiple" -> q22Exact,
        "pagerank_nodes_exact" -> prNodesExact, "pagerank_mass" -> prMass),
        () => {
          def gate(ok: Boolean, what: String): Unit =
            if (!ok) throw new IllegalStateException(
              s"relational sweep invalid: $what — artifact written but timings must not be cited")
          gate(q4Exact, "q4 per-priority counts not exact multiples")
          gate(q7Exact, "q7 per-nation-pair counts not exact multiples")
          gate(q17Exact, s"q17 line count $q17b -> $q17s")
          gate(q18Exact, s"q18 big-order count $q18b -> $q18s")
          gate(q22Exact, "q22 per-nation counts not exact multiples")
          gate(prNodesExact, s"pagerank nodes ${prB.length} -> ${prS.length}")
          gate(prMassOk, s"pagerank mass $prMass")
        })
    }

  /** The TPC-H tables as `factor` disjoint replicas under `dir`: every
    * entity key shifted per replica, nation/region copied once (fixed-
    * cardinality dims). Shared with `BenchScaleTpch`.
    */
  def writeScaledTpch(c: Sweep.Ctx, dir: String, factor: Int): Unit = {
    val shift = 1000000000L
    Sweep.replicate(c, dir, "orders", factor, "o_orderkey" -> shift, "o_custkey" -> shift)
    Sweep.replicate(c, dir, "lineitem", factor,
      "l_orderkey" -> shift, "l_partkey" -> shift, "l_suppkey" -> shift)
    Sweep.replicate(c, dir, "customer", factor, "c_custkey" -> shift)
    Sweep.replicate(c, dir, "part", factor, "p_partkey" -> shift)
    Sweep.replicate(c, dir, "supplier", factor, "s_suppkey" -> shift)
    Seq("nation", "region").foreach(Sweep.replicate(c, dir, _, 1))
  }
}
