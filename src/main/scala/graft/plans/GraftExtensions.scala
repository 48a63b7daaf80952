package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet, Complete, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst extension: scale-mode rewrite of exact set-based distinct
  * counts into HyperLogLog++ sketches.
  *
  * The reference computes windowed distinct counts by accumulating
  * `HashSet`s inside its reduce functions and sizing them at finalize
  * (`app/dws/ProductStatsApp.java:225-256`) — exact, but O(distinct keys)
  * state per group. The engine mirrors that exactly with
  * `size(collect_set(x))` (oracle-verified). At 100 TB the exact set is the
  * wrong trade: this rule rewrites `size(collect_set(x))` aggregates to
  * `approx_count_distinct(x)` when `spark.graft.scaleMode=true`,
  * turning per-group state from O(n) to O(1) sketch registers without
  * touching query code.
  *
  * Registered via `SparkSessionExtensions` (config
  * `spark.sql.extensions=graft.plans.GraftExtensions`) or
  * programmatically: `GraftSession.builder().withExtensions(...)`.
  */
class ApproxDistinctRule extends Rule[LogicalPlan] {

  private def hll(child: Expression, filter: Option[Expression]): Expression =
    AggregateExpression(HyperLogLogPlusPlus(child), Complete, isDistinct = false, filter)

  private object SizeOfCollectSet {
    def unapply(e: Expression): Option[(Expression, Option[Expression])] = e match {
      case Size(AggregateExpression(CollectSet(child, _, _), _, false, filter, _), _) =>
        Some((child, filter))
      case _ => None
    }
  }

  private def rewrite(e: Expression): Expression = e match {
    // HLL already yields LongType: collapse an enclosing cast-to-long rather
    // than stacking Cast(Cast(hll, int), long) — the Int hop would overflow
    // (or throw under ANSI) at the >2^31-distinct group sizes this
    // scale-mode rule exists for.
    case Cast(SizeOfCollectSet(child, filter), LongType, _, _) => hll(child, filter)
    case Cast(SizeOfCollectSet(child, filter), dt, tz, ansi) => Cast(hll(child, filter), dt, tz, ansi)
    case Cast(inner, dt, tz, ansi) => Cast(rewrite(inner), dt, tz, ansi)
    // Bare size(collect_set) consumers require IntegerType — narrow only here.
    case SizeOfCollectSet(child, filter) =>
      Cast(hll(child, filter), org.apache.spark.sql.types.IntegerType)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.scaleMode", "false").toBoolean) plan
    else plan.transformUp {
      case agg @ Aggregate(_, aggExprs, _, _) =>
        val rewritten = aggExprs.map { ne =>
          ne match {
            case a @ Alias(child, name) =>
              val r = rewrite(child)
              if (r fastEquals child) a
              else Alias(r, name)(a.exprId, a.qualifier, a.explicitMetadata,
                a.nonInheritableMetadataKeys)
            case other => other
          }
        }
        agg.copy(aggregateExpressions = rewritten)
    }
}

/** Scale-mode rewrite of exact interpolated percentiles into t-digest
  * sketches: `percentile(x, p)` keeps O(n) per-group state (it buffers
  * every value), the wrong trade at 100 TB; under
  * `spark.graft.scaleMode=true` it becomes
  * `approx_percentile(x, p)` (bounded sketch state, same result shape) —
  * the same swap pattern as `ApproxDistinctRule` for distinct counts.
  * Only frequency-1 percentiles (the common form) are rewritten.
  */
class ApproxPercentileRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Percentile}
  import org.apache.spark.sql.catalyst.expressions.Literal

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.scaleMode", "false").toBoolean) plan
    else plan.transformUp {
      case agg: Aggregate =>
        agg.transformExpressions {
          case ae @ AggregateExpression(
              Percentile(child, pct, Literal(1L, _), _, _, false), _, false, _, _) =>
            ae.copy(aggregateFunction = new ApproximatePercentile(child, pct,
              Literal(ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY)))
        }
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import graft.plans.expr.GraftKernel

  private def fn(name: String, arity: Int, build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects $arity argument(s), got ${args.length}")
        build(args)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => new ApproxDistinctRule)
    ext.injectOptimizerRule(_ => new ApproxPercentileRule)
    // Native codegen kernels (see graft.plans.expr.GraftKernel) as SQL
    // functions, so both the column API (call_function) and spark.sql can
    // use them.
    GraftKernel.table.foreach(k =>
      ext.injectFunction(fn(k.name, k.args.size, GraftKernel(k.name, _))))
    // Spark's own runtime-filter bloom expressions, surfaced as callable
    // functions so an explicit semi-join reduction can build/apply the
    // filter where the optimizer's injection heuristics don't reach
    // (Relational.bloomPruneSemiJoin). Pure re-exposure — the sketch,
    // aggregation, and codegen'd membership probe are Spark's.
    ext.injectFunction(fn("graft_bloom_agg", 2,
      a => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        a(0), a(1))))
    ext.injectFunction(fn("graft_bloom_might_contain", 2,
      a => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(a(0), a(1))))
  }
}
