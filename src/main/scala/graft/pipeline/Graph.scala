package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Graph analytics over relationship structures mined from the warehouse —
  * the iterative-computation family (connected components lives in
  * `Dedup.clusterLabels`; this adds weighted-importance propagation).
  *
  * No reference twin (bigdataBC/FlinkProject has no graph jobs); standard
  * corpus/warehouse tooling at scale — entity importance over transaction
  * or citation networks is the canonical "many small iterations over one
  * big edge table" workload, and its Spark rendering is the template for
  * any fixed-point computation the engine hosts.
  */
object Graph {

  /** PageRank over the customer↔supplier transaction graph: nodes are the
    * trading entities, with a directed edge each way for every (customer,
    * supplier) pair connected by an order line (symmetric by construction,
    * so no dangling-mass correction is needed). `iters` damped iterations
    * (d = 0.85) from a uniform start.
    *
    * Scale shape: the edge list (+ out-degrees) is built in one
    * distinct/agg pass and CHECKPOINTED — iterations reuse the
    * materialized table and truncate lineage every round (the
    * `clusterLabels` discipline, = persisted intermediates at cluster
    * scale). Each iteration is exactly one src-keyed join of the rank
    * vector to the edges and one dst-keyed aggregate — both map-side
    * combinable, both O(|E|) — so K iterations cost K small jobs, never a
    * growing plan.
    *
    * Numeric policy: the rank vector lives in INTEGER PICO-UNITS
    * (pr·10¹² as BIGINT). Every per-iteration update is exact integer
    * arithmetic — contribution `pr_u/od` and the two damped-update terms
    * `(100−p)·U/n` and `p·Σ/100` as HALF_UP integer divisions
    * `(2·num + den) DIV (2·den)` — so the aggregation is
    * order-independent and engine/oracle agree bit-for-bit at every
    * iteration. A double rendering diverged on exact half-boundary ulps
    * (pr/outdeg with even degrees — the two engines' double rounding
    * legally disagrees); integers cannot. Unit choice is a SCALE
    * decision: the first micro-unit (10⁶) rendering drowned at 160k
    * nodes (1/n ≈ 6µ ⇒ contributions rounded to 0 and total mass
    * collapsed to 0.16 — caught by the sweep's mass gate); pico-units
    * keep ≥6 significant digits out to ~10⁷ nodes while every
    * intermediate (85·Σ ≤ 8.5·10¹³) stays far inside BIGINT. The damped
    * update is evaluated as TWO rounded terms rather than one fused
    * fraction precisely so the `p·n·Σ` product that would overflow at
    * this resolution never forms.
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3,
               dampingPct: Int = 85): DataFrame = {
    val pairs = lineitem(spark, dir)
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    val edges = pairs.select(concat(lit("c"), col("c")).as("src"),
        concat(lit("s"), col("s")).as("dst"))
      .union(pairs.select(concat(lit("s"), col("s")).as("src"),
        concat(lit("c"), col("c")).as("dst")))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val edgesD = edges.join(outdeg, "src").transform(graft.operators.Scale.checkpointed)
    // node universe from the MATERIALIZED edge table, not the raw edge
    // lineage: the old `edges.distinct()` re-ran the whole pairs build
    // (lineitem⋈orders + distinct) a second time just to list node ids —
    // reading edgesD's checkpoint blocks gets the same set for one cheap
    // aggregate (r14, guide §2.4/§5: reuse the persisted intermediate)
    val nodes = edgesD.select(col("src").as("node")).distinct()
      .transform(graft.operators.Scale.checkpointed)
    val n = nodes.count()
    val p = dampingPct
    val U = 1000000000000L // pico-units
    val teleport = (2L * (100L - p) * U / 100L + n) / (2L * n) // HALF_UP((1−d)·U/n)
    var pr = nodes.select(col("node"),
        lit((2L * U + n) / (2L * n)).as("pr_u")) // HALF_UP(U/n)
      .transform(graft.operators.Scale.checkpointed)
    // Broadcast decision measured ONCE (r15): the rank vector's byte size
    // is |V|-stable across iterations (same node set, fixed-width
    // pico-unit longs), so the per-iteration measure job of
    // maybeBroadcastMeasured was iters−1 redundant jobs. Same gate, same
    // shuffled-hash fallback past it (the 100 TB posture where |V|
    // outgrows the driver).
    val prSmall =
      graft.operators.Scale.measuredBytes(pr) <= graft.operators.Scale.broadcastGate(spark)
    for (_ <- 1 to iters) {
      // ONE exchange per iteration (r14, guide §2.4). The rank vector is
      // |V| rows off its own checkpoint, so the edge attach broadcasts
      // under the measured gate above: edgesD is never re-shuffled per
      // round (the r13 plan SMJ'd the 10.75 MB edge checkpoint every
      // iteration — 2 exchanges + sorts × iters). The old
      // `nodes LEFT JOIN contribs` (+2 more exchanges) was a structural
      // no-op: edges hold BOTH directions of every pair, so src-set ==
      // dst-set == node-set and every node receives ≥1 contribution —
      // proven by the unchanged oracle hash. Each round's checkpoint is
      // LAZY (r15): the next round's broadcast build (or the final
      // output) is the frame's one consumer and materializes it in the
      // same job — the eager form paid one materialization job per round.
      val ranked = if (prSmall) broadcast(pr) else pr.hint("shuffle_hash")
      pr = edgesD
        .join(ranked, edgesD("src") === pr("node"))
        .select(col("dst"), expr("(2 * pr_u + od) DIV (2 * od)").as("contrib_u"))
        .groupBy(col("dst")).agg(sum(col("contrib_u")).as("su"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr(s"(2 * $p * su + 100) DIV 200")).as("pr_u"))
        .transform(graft.operators.Scale.checkpointedLazy)
    }
    pr.select(col("node"), (col("pr_u").cast("double") / 1e12).as("pagerank"))
  }

  /** Per-part triangle count + local clustering coefficient over the
    * co-purchase graph (parts are adjacent when one order contains both).
    *
    * Edge build: within-order pair explosion is bounded by the max order
    * size (≤7 lines), so the self-join per orderkey is a constant-factor
    * expansion, never corpus-quadratic; DISTINCT collapses repeat
    * co-purchases.
    *
    * Triangle enumeration uses DEGREE ORIENTATION — each undirected edge
    * points from its (degree, id)-smaller endpoint to the larger. Every
    * wedge is then built at its LOWEST-degree vertex, which bounds
    * per-vertex wedge fan-out by O(√|E|) even under power-law skew: the
    * celebrity node with degree 10⁶ builds no wedges because almost all
    * its edges point INTO it. Each triangle materializes exactly once
    * ((u,v,w) rank-ordered), then fans its +1 to all three corners.
    * Clustering coefficient = 2·tri / d·(d−1), the closed-wedge fraction.
    *
    * At 100 TB: two shuffles build edges+degrees, the wedge join and the
    * closing-edge join are both keyed equi-joins on oriented endpoints —
    * no unbounded product anywhere.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val pl = lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    // y-side hinted SHUFFLE_HASH (r14): the within-order self-join planned
    // as SMJ — two sorts of the same co-purchase table on both sides of
    // one exchange pair; hashing one side's partitions (bounded by
    // |pl|/partitions under the same spill-aware partition scaling the
    // sweeps size) skips both sorts. Measured in the r14 global
    // preferSortMergeJoin=false probe as part of triangles' −1.1 s.
    val edges = pl.as("x").join(pl.as("y").hint("shuffle_hash"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("pa"), col("y.p").as("pb")).distinct()
      .transform(graft.operators.Scale.checkpointed) // reused 4×: degrees, orientation, wedge, closing
    // checkpointed: consumed FOUR times (orientation ×2 key joins, the
    // rank broadcast, the final histogram join) — each re-ran the degree
    // aggregate over the edge checkpoint before r14
    val deg = edges.select(col("pa").as("v"))
      .unionAll(edges.select(col("pb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .transform(graft.operators.Scale.checkpointed)
    // orient by (degree, id): src = smaller endpoint under that order.
    // Degree attaches measured-broadcast (r14, same SPARK-39748 reasoning
    // as the rank attach below: deg flows off a checkpoint whose stats are
    // inflated, so Catalyst planned BOTH attaches as full SMJs — four
    // sorts of the edge table; deg is |V| (v, d) rows, KBs at sf0.1)
    val withDeg = edges
      .join(graft.operators.Scale.maybeBroadcastMeasured(
        deg.select(col("v").as("pa"), col("d").as("da")), elseHint = "shuffle_hash"), "pa")
      .join(graft.operators.Scale.maybeBroadcastMeasured(
        deg.select(col("v").as("pb"), col("d").as("db")), elseHint = "shuffle_hash"), "pb")
    val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("pa") < col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst")))
          .otherwise(struct(col("pb").as("src"), col("pa").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .transform(graft.operators.Scale.checkpointed)
    // wedges at the orientation-lowest corner; deterministic (v, w) order
    // by the same rank so each candidate forms once
    val rank = deg.select(col("v"), struct(col("d"), col("v")).as("rk"))
    // rank attach is MEASURED-broadcast (shuffled-hash past the gate): deg
    // flows off the checkpointed edge table whose plan stats are inflated
    // (SPARK-39748), so Catalyst planned this attach as a full SMJ — two
    // exchanges + two sorts, paid TWICE (the probe copy and the broadcast
    // wedge copy below re-derive o1 independently). Broadcast makes o1 a
    // map over the edge checkpoint (r14; measured: rank is |V| (v, d)
    // rows — KBs at sf0.1, ~50 MB at the 100× sweep).
    val o1 = oriented.join(
      graft.operators.Scale.maybeBroadcastMeasured(
        rank.select(col("v").as("dst"), col("rk").as("rkd")), elseHint = "shuffle_hash"),
      "dst")
    // Wedge self-join input co-partitioned ONCE on `src` (r14): with o1
    // now a broadcast map over the edge checkpoint, the self-join would
    // otherwise plan its own exchange and AQE coalesces the byte-small
    // (~19 MB) exchange to ~6 tasks while the stage explodes
    // quadratically-per-vertex (cheap-bytes-expensive-CPU — the
    // erBlockedPairs lesson). The explicit repartition pins the full core
    // count; both join children consume the SAME exchange (ReusedExchange)
    // so the wedge stream is exchanged once and never sorted. A
    // broadcast-probe wedge variant was measured and REVERTED: it ran
    // 32-way but inflated total CPU 7× (182 s vs 26 s sumTask) — the
    // per-probe hash lookup costs more than the co-partitioned stream.
    // With no skew (uniform ~4 s tasks), the remaining wedge stage is
    // memory-bandwidth-bound — the honest cost of the fan-out.
    val o1p = o1.repartition(spark.sessionState.conf.numShufflePartitions, col("src"))
    val wedges = o1p.as("w1").join(o1p.as("w2"),
        col("w1.src") === col("w2.src") && col("w1.rkd") < col("w2.rkd"))
      .select(col("w1.src").as("u"), col("w1.dst").as("v"), col("w2.dst").as("w"))
    // closing-edge probe: the build side is the ORIENTED EDGE SET (|E|
    // rows of two longs — 19 MB at sf0.1), the stream side the wedge
    // fan-out (34× larger here; only ~4.6% close). Measured-broadcast the
    // edges so the wedge table is NEVER exchanged or sorted — checkpointed
    // frames keep their inflated origin estimates (SPARK-39748), so the
    // byte gate must measure, not trust stats. Past the gate the fallback
    // is a SHUFFLED-HASH build of the edge side, not sort-merge: SMJ
    // would SORT the wedge stream (billions of rows at sweep factors —
    // the dominant term of the 60× leg), while hashing |E|/partitions
    // edges per task is bounded by the same spill-aware partition scaling
    // that sizes the sweep. This is also the 100 TB shape: exchange the
    // wedge stream once, never sort it.
    val tris = wedges.join(
        graft.operators.Scale.maybeBroadcastMeasured(oriented, elseHint = "shuffle_hash"),
        col("v") === col("src") && col("w") === col("dst"))
      .select(col("u"), col("v"), col("w"))
    // ONE corner-exploding pass: a unionAll of three projections plans
    // three INDEPENDENT branches — the whole wedge+closing enumeration
    // executed 3× (read in the round-9 plan dump; ReusedExchange shares
    // only the exchanges, not the join work). explode(array(...)) fans
    // the materialized join output in-row instead
    val triPerV = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("tri_ct"))
      // checkpointed so the measured-broadcast below reads the |V|-bounded
      // aggregate instead of re-running the whole wedge+closing
      // enumeration as its measure pass (r14)
      .transform(graft.operators.Scale.checkpointed)
    // histogram attach measured-broadcast (r14): both sides are
    // checkpoint-fed (inflated stats), so this |V|-row left-outer planned
    // as one more SMJ pair — the last two sorts in the triangles plan
    deg.join(graft.operators.Scale.maybeBroadcastMeasured(
        triPerV, elseHint = "shuffle_hash"), col("v") === col("x"), "left_outer")
      .select(col("v").as("part_id"), col("d").as("degree"),
        coalesce(col("tri_ct"), lit(0L)).as("tri_ct"),
        round(when(col("d") >= 2,
            lit(2.0) * coalesce(col("tri_ct"), lit(0L)).cast("double") /
              (col("d").cast("double") * (col("d") - lit(1)).cast("double")))
          .otherwise(lit(0.0)), 6).as("clust_coeff"))
  }
}
