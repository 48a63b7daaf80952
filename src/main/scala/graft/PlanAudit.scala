package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import scala.collection.immutable.ListMap

/** The one registry walker: a [[Sweep.Family]] whose legs are the
  * `SparkEntry` queries, sorted by name. Each query is built and warmed
  * off the clock, then built and run `reps` times (`Sweep.Ctx.timed`);
  * `PLAN_AUDIT.json` is rewritten after every query and the gates run once
  * it holds them all. A query that fails is recorded as `{"failed":1}` and
  * the walk goes on.
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
  * and `attrib`, from the job log of the last rep: its wall, jobs, stages,
  * tasks, shuffle bytes, max and summed task ms, and the driver gap (the
  * wall minus the union of the query's job intervals) — the fixed
  * per-query cost of a sub-second query.
  *
  * Env, beyond [[Sweep.ctx]]'s (`SPARK_GRAFT_SF_DIR`, here default sf0.001,
  * where the `sp_max_rows` gate is calibrated; `SPARK_GRAFT_BENCH_REPS`):
  *   SPARK_GRAFT_SP_MAX_ROWS  the `sp_max_rows` gate (default 4000)
  *   SPARK_GRAFT_PLAN_ONLY    comma-separated query names (default: all);
  *                            an unknown name fails the run at start. Each
  *                            named query's record also holds its job rows
  *                            and top stages, and its plans are written to
  *                            `<SPARK_GRAFT_PLAN_DIR>/<query>.txt`: the
  *                            formatted plan of every SQL execution its
  *                            build ran (construction-time checkpoints
  *                            included), then the final frame's formatted
  *                            plan, taken before it runs.
  *   SPARK_GRAFT_PLAN_DIR     the plan dir (default `plans`)
  *
  * Run with `tools/javarun.sh graft.PlanAudit`; the artifact lands in the
  * working directory.
  */
object PlanAudit {
  import Sweep.Ctx

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

  /** The seven counters of an executed plan. */
  def counters(root: SparkPlan): ListMap[String, Long] = {
    // the AQE toString appends an "== Initial Plan ==" section that would
    // double-count every node: audit the FINAL plan only
    val plan = root.toString.split("== Initial Plan ==").head
    def n(marker: String): Long = plan.sliding(marker.length).count(_ == marker).toLong
    ListMap(
      // shuffle exchanges print as "Exchange <partitioning>"; anchor on a
      // preceding non-letter so "BroadcastExchange "/"ReusedExchange " tails
      // don't count
      "exchanges" -> raw"(?<![A-Za-z])Exchange ".r.findAllMatchIn(plan).size.toLong,
      "single_partition" -> n("Exchange SinglePartition"),
      "sp_max_rows" -> maxSinglePartitionRows(root),
      "cartesian" -> n("CartesianProduct"),
      "bnlj" -> n("BroadcastNestedLoopJoin"),
      // whole-stage regions print as "*(k)" prefixes in tree mode — count
      // DISTINCT region ids, not occurrences
      "codegen_spans" -> raw"\*\((\d+)\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size.toLong,
      "pushed_filters" -> pushedFilterCount(plan).toLong)
  }

  /** One walked query: its counters (`failed` alone when it threw) and the
    * attribution of its last rep.
    */
  final case class Row(name: String, counts: ListMap[String, Long], attrib: Sweep.Fields = Nil)

  /** The walk over the queries in `only` (every query when empty). */
  final case class Walk(only: Seq[String], planDir: String, spMaxRows: Long)
      extends Sweep.Family[Row] {
    val artifactFile = "PLAN_AUDIT.json"
    override def defaultFactors: Seq[Int] = Seq(1)
    override def defaultSfDir: String = "/root/testdata/sf0.001"

    def legs(c: Ctx): Iterator[Row] = {
      val unknown = only.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"plan audit: unknown query names: ${unknown.mkString(", ")}")
      if (only.nonEmpty) Files.createDirectories(Paths.get(planDir))
      val names = if (only.isEmpty) SparkEntry.queries.keys.toSeq else only.distinct
      names.sorted.iterator.map(walk(c, _))
    }

    private def walk(c: Ctx, name: String): Row = {
      val build = () => SparkEntry.queries(name)(c.spark, c.sfDir)
      try {
        c.log.reset()
        val df = build()
        if (only.nonEmpty) dump(c, name, df)
        c.warm(df)
        var window = (0L, 0L)
        val (_, ran) = c.timed {
          c.log.reset()
          val t0 = System.currentTimeMillis()
          val df = build()
          Sweep.exec(df)
          window = (t0, System.currentTimeMillis())
          df
        }
        c.log.settle()
        Row(name, counters(ran.queryExecution.executedPlan), attrib(c, window._1, window._2))
      } catch {
        case e: Throwable =>
          System.err.println(s"[audit] $name failed: ${e.getMessage}")
          c.drop()
          Row(name, ListMap("failed" -> 1L))
      }
    }

    /** The build's SQL executions in order, then the final frame unrun. */
    private def dump(c: Ctx, name: String, df: DataFrame): Unit = {
      c.log.settle()
      val execs = c.log.executions.zipWithIndex.map { case (x, i) =>
        s"==== build execution ${i + 1}: ${x.desc} ====\n${x.plan}\n"
      }
      val last = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(planDir, s"$name.txt"),
        (execs.mkString + s"==== final frame ====\n$last").getBytes(UTF_8))
    }

    private def attrib(c: Ctx, t0: Long, t1: Long): Sweep.Fields = {
      val jobs = c.log.jobs
      val stages = c.log.stages
      val spans = jobs.filter(_.ms >= 0)
        .map(j => (j.start max t0, (j.start + j.ms) min t1)).sortBy(_._1)
      val busy = spans.foldLeft((0L, t0)) { case ((b, end), (s, e)) =>
        if (e <= end) (b, end) else (b + e - (s max end), e)
      }._1
      Seq("wall_ms" -> (t1 - t0), "jobs" -> jobs.size, "stages" -> stages.size,
        "tasks" -> jobs.map(_.tasks).sum,
        "shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum,
        "shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum,
        "max_task_ms" -> (0L +: stages.map(_.maxTaskMs)).max,
        "sum_task_ms" -> stages.map(_.sumTaskMs).sum,
        "driver_gap_ms" -> (t1 - t0 - busy)) ++
        (if (only.isEmpty) Nil
         else Seq(
           "job_rows" -> jobs.map(j => Sweep.obj("id" -> j.id, "ms" -> j.ms,
             "stages" -> j.stageIds.size, "tasks" -> j.tasks,
             "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
             "desc" -> j.desc)),
           "top_stages" -> stages.sortBy(-_.sumTaskMs).take(12).map(s => Sweep.obj(
             "id" -> s.id, "tasks" -> s.tasks, "max_task_ms" -> s.maxTaskMs,
             "sum_task_ms" -> s.sumTaskMs, "shuffle_read_bytes" -> s.shuffleRead,
             "shuffle_write_bytes" -> s.shuffleWrite, "name" -> s.name))))
    }

    private def count(r: Row, k: String): Long = r.counts.getOrElse(k, 0L)
    private def failed(done: Seq[Row]) = done.collect { case r if r.counts.contains("failed") => r.name }
    private def cartesian(done: Seq[Row]) = done.collect { case r if count(r, "cartesian") > 0 => r.name }
    private def spOffenders(done: Seq[Row]) =
      done.collect { case r if count(r, "sp_max_rows") > spMaxRows => r.name -> count(r, "sp_max_rows") }
    private def pushdown(done: Seq[Row]) = MustPushFilters.filter(n => done.exists(r =>
      r.name == n && !r.counts.contains("failed") && count(r, "pushed_filters") == 0L))

    def artifact(c: Ctx, done: Seq[Row]): Sweep.Fields =
      Seq("metric" -> "plan_audit", "sf" -> c.sfDir, "queries" -> done.size,
        "failed" -> failed(done), "cartesian_offenders" -> cartesian(done),
        "single_partition_total" -> done.map(count(_, "single_partition")).sum,
        "sp_max_rows_gate" -> spMaxRows, "sp_offenders" -> Sweep.obj(spOffenders(done): _*),
        "pushdown_gate" -> MustPushFilters, "pushdown_offenders" -> pushdown(done),
        "per_query" -> Sweep.obj(done.map(r => r.name ->
          (if (r.attrib.isEmpty) r.counts else r.counts + ("attrib" -> Sweep.obj(r.attrib: _*)))): _*))

    def gates(done: Seq[Row]): Unit = {
      val (f, cart, sp, push) = (failed(done), cartesian(done), spOffenders(done), pushdown(done))
      if (f.nonEmpty)
        throw new IllegalStateException(s"plan audit: ${f.size} queries failed: $f")
      if (cart.nonEmpty)
        throw new IllegalStateException(
          s"plan audit: CartesianProduct in ${cart.mkString(", ")} — " +
            "every cross join must broadcast")
      if (sp.nonEmpty)
        throw new IllegalStateException(
          s"plan audit: corpus-sized SinglePartition stage in " +
            sp.map { case (n, v) => s"$n ($v rows)" }.mkString(", ") +
            s" — exceeds $spMaxRows rows; partition the window/sort or pre-aggregate")
      if (push.nonEmpty)
        throw new IllegalStateException(
          s"plan audit: scan-bound queries with ZERO pushed filters: " +
            s"${push.mkString(", ")} — a filter stopped reaching the " +
            "parquet scan (check for casts/wrappers on the filter column)")
    }
  }

  def main(args: Array[String]): Unit =
    Walk(sys.env.getOrElse("SPARK_GRAFT_PLAN_ONLY", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans"),
      sys.env.getOrElse("SPARK_GRAFT_SP_MAX_ROWS", "4000").toLong).main(args)
}
