package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Whole-registry executed-plan audit: runs EVERY SparkEntry query at the
  * given SF and records per-query plan-health counters into
  * `PLAN_AUDIT.json` — the automated successor of per-round manual plan
  * spot checks (`graft.PlanDump` still dumps named queries' plans).
  *
  * Counters per query (from the AQE-final executed plan):
  *  - `exchanges`           shuffle exchanges (corpus reshuffle points).
  *                          Counted with a non-letter boundary so
  *                          `BroadcastExchange` (not a shuffle) never
  *                          inflates the number.
  *  - `single_partition`    `Exchange SinglePartition` occurrences — the
  *                          scale smell WHEN its input is corpus-sized.
  *                          Benign occurrences exist by design: group-less
  *                          final aggregates (one row per partial),
  *                          bounded P-row offset windows
  *                          (`Scale.distributedPrefixSum`), TakeOrdered
  *                          final merges, 1-row scalar attaches — so the
  *                          COUNT is a record to diff across rounds, while
  *                          the VOLUME is gated (below).
  *  - `sp_max_rows`         the largest `shuffle records written` of any
  *                          SinglePartition shuffle in the query —
  *                          HARD-GATED against `SPARK_GRAFT_SP_MAX_ROWS`
  *                          (default 4000 at the sf0.001 audit grain,
  *                          where the largest table is 6000 rows): a
  *                          whole-corpus funnel into one partition (e.g.
  *                          an unpartitioned `Window`) trips the gate,
  *                          while per-partial reducers and catalog/fit
  *                          tables stay orders of magnitude below it.
  *  - `cartesian`           `CartesianProduct` nodes — HARD-GATED to zero
  *                          registry-wide: every intentional small-side
  *                          cross join must plan as a BROADCAST nested
  *                          loop, never a shuffled cartesian.
  *  - `bnlj`                BroadcastNestedLoopJoin (the documented 1-row
  *                          / catalog-row scalar attaches)
  *  - `codegen_spans`       WholeStageCodegen regions
  *
  * The artifact is written BEFORE the gates throw, so a violating run
  * still ships its evidence (the BenchScale convention). Run with the
  * usual Spark-jars + classes classpath: `java -cp &lt;spark jars&gt;
  * graft.PlanAudit`.
  */
object PlanAudit {

  /** Every node of the AQE-final physical plan, descending into adaptive
    * roots, materialized query stages, and (scalar/in) subquery plans.
    */
  def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val deeper = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case q: QueryStageExec        => collectAll(q.plan)
      case _                        => p.children.flatMap(collectAll)
    }
    (p +: deeper) ++ p.subqueries.flatMap(collectAll)
  }

  /** Number of SUBSTANTIVE predicates pushed into file scans: entries
    * inside non-empty `PushedFilters: [...]` metadata lists, excluding
    * `IsNotNull(...)` — Catalyst infers and pushes IsNotNull for every
    * null-intolerant predicate even when the predicate itself stopped
    * pushing (e.g. a cast on the column), so counting it would mask
    * exactly the regression this gate exists to trip. The scan metadata
    * line TRUNCATES past ~100 chars (trailing "..."), so the count is a
    * lower bound — the gate below only needs ≥ 1. Exposed for the
    * PlanAuditSpec probe that breaks pushdown on purpose.
    */
  def pushedFilterCount(plan: String): Int =
    raw"PushedFilters: \[([^\]\n]+)".r.findAllMatchIn(plan)
      .map(_.group(1).split(",").map(_.trim)
        // a trailing truncation fragment ("...", "IsNotN...", "GreaterTh...")
        // is never counted — it could be the tail of an IsNotNull entry, and
        // counting it would let an all-IsNotNull-but-truncated list pass
        .count(s => s.nonEmpty && !s.endsWith("...") && !s.startsWith("IsNotNull(")))
      .sum

  /** Queries whose plan is a scan-bound filter — if their predicates ever
    * stop reaching the parquet scan (e.g. a cast silently defeating
    * pushdown), the 100 TB cost model breaks without any result changing.
    * HARD-GATED to pushed_filters ≥ 1.
    */
  val MustPushFilters: Seq[String] = Seq(
    "q6_forecast_revenue", "q19_disjunctive_rev", "q14_promo_share")
  // q12_ship_lag is NOT in the list: this engine's q12 rendering buckets the
  // whole join output (no source predicate), so it has nothing to push.

  /** Max `shuffle records written` across the query's SinglePartition
    * shuffles (0 when there are none) — the post-execution measure of how
    * much data actually funneled through a parallelism-1 stage.
    */
  def maxSinglePartitionRows(root: SparkPlan): Long = {
    val sps = collectAll(root).collect {
      case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => s
    }
    val counts = sps.flatMap(_.metrics.collectFirst {
      case (k, m) if k.equalsIgnoreCase("shuffleRecordsWritten") => m.value
    })
    if (counts.isEmpty) 0L else counts.max
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spMaxRows = sys.env.getOrElse("SPARK_GRAFT_SP_MAX_ROWS", "4000").toLong
    val spark = GraftSession.get()
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val counts =
        try {
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.count() // execute so AQE finalizes
          // the AQE toString appends an "== Initial Plan ==" section that
          // would double-count every node: audit the FINAL plan only
          val plan = df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==").head
          def n(marker: String): Int =
            plan.sliding(marker.length).count(_ == marker)
          // shuffle exchanges print as "Exchange <partitioning>"; anchor on
          // a preceding non-letter so "BroadcastExchange "/"ReusedExchange "
          // tails don't count
          val shuffleExchanges =
            raw"(?<![A-Za-z])Exchange ".r.findAllMatchIn(plan).size
          // whole-stage regions print as "*(k)" prefixes in tree mode —
          // count DISTINCT region ids, not occurrences
          val codegenIds = raw"\*\((\d+)\)".r.findAllMatchIn(plan)
            .map(_.group(1)).toSet.size
          val spRows = maxSinglePartitionRows(df.queryExecution.executedPlan)
          Map(
            "exchanges" -> shuffleExchanges.toLong,
            "single_partition" -> n("Exchange SinglePartition").toLong,
            "sp_max_rows" -> spRows,
            "cartesian" -> n("CartesianProduct").toLong,
            "bnlj" -> n("BroadcastNestedLoopJoin").toLong,
            "codegen_spans" -> codegenIds.toLong,
            "pushed_filters" -> pushedFilterCount(plan).toLong)
        } catch {
          case e: Throwable =>
            System.err.println(s"[audit] $name failed: ${e.getMessage}")
            Map("failed" -> 1L)
        }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      name -> counts
    }
    val failed = rows.collect { case (n, c) if c.contains("failed") => n }
    val cartesianOffenders = rows.collect {
      case (n, c) if c.getOrElse("cartesian", 0L) > 0 => n
    }
    val spOffenders = rows.collect {
      case (n, c) if c.getOrElse("sp_max_rows", 0L) > spMaxRows =>
        n -> c("sp_max_rows")
    }
    val spTotal = rows.map(_._2.getOrElse("single_partition", 0L)).sum
    val byName = rows.toMap
    val pushdownOffenders = MustPushFilters.filter(n =>
      byName.get(n).exists(c => !c.contains("failed") && c.getOrElse("pushed_filters", 0L) == 0L))
    def js(m: Map[String, Long]) =
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"plan_audit","sf":"$sfDir","queries":${rows.size},""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""cartesian_offenders":${cartesianOffenders.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""single_partition_total":$spTotal,""" +
        s""""sp_max_rows_gate":$spMaxRows,""" +
        s""""sp_offenders":${spOffenders.map { case (n, v) => "\"" + n + "\":" + v }.mkString("{", ",", "}")},""" +
        s""""pushdown_gate":${MustPushFilters.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""pushdown_offenders":${pushdownOffenders.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""per_query":${rows.map { case (k, v) => "\"" + k + "\":" + js(v) }.mkString("{", ",", "}")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("PLAN_AUDIT.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(s"""{"metric":"plan_audit","queries":${rows.size},"failed":${failed.size},""" +
      s""""cartesian_offenders":${cartesianOffenders.size},"single_partition_total":$spTotal,""" +
      s""""sp_offenders":${spOffenders.size}}""")
    if (failed.nonEmpty)
      throw new IllegalStateException(s"plan audit: ${failed.size} queries failed: $failed")
    if (cartesianOffenders.nonEmpty)
      throw new IllegalStateException(
        s"plan audit: CartesianProduct in ${cartesianOffenders.mkString(", ")} — " +
          "every cross join must broadcast")
    if (spOffenders.nonEmpty)
      throw new IllegalStateException(
        s"plan audit: corpus-sized SinglePartition stage in " +
          spOffenders.map { case (n, v) => s"$n ($v rows)" }.mkString(", ") +
          s" — exceeds $spMaxRows rows; partition the window/sort or pre-aggregate")
    if (pushdownOffenders.nonEmpty)
      throw new IllegalStateException(
        s"plan audit: scan-bound queries with ZERO pushed filters: " +
          s"${pushdownOffenders.mkString(", ")} — a filter stopped reaching the " +
          "parquet scan (check for casts/wrappers on the filter column)")
  }
}
