package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Physical-layout and table-management operators — the jobs a 100 TB
  * deployment runs around its queries, not inside them: column profiling
  * (stats collection for planning/monitoring) and Z-order clustering keys
  * (multi-dimensional data layout so correlated range predicates prune
  * files instead of scanning them).
  *
  * Neither has a reference twin (bigdataBC/FlinkProject manages layout by
  * hand in Phoenix/ClickHouse DDL); both are table-stakes for a Spark
  * lakehouse at scale.
  */
object Layout {

  /** Columns profiled by `profileColumns` — a representative mix of id,
    * foreign-key, measure, flag, and timestamp columns.
    */
  private val ProfileCols = Seq("l_orderkey", "l_partkey", "l_quantity",
    "l_returnflag", "l_shipdate")

  /** Single-pass column profiling of `lineitem`: per column, the non-null
    * count, exact distinct count, and min/max (rendered as strings so one
    * schema covers heterogeneous column types).
    *
    * Shape at scale: ONE scan — all per-column aggregates ride the same
    * Aggregate operator (Catalyst plans the multi-distinct via a single
    * Expand, so the file is still read once), then a driver-free unpivot
    * of the 1-row wide result into the long (column, stats) form via
    * `stack`. The exact `count(distinct)` is what the DuckDB oracle can
    * verify; in scale mode the same query under
    * `spark.graft.scaleMode=true` rewrites `size(collect_set)` to
    * HLL — profiling is the textbook consumer of that trade, so the
    * distinct here is written in the rewrite-eligible `size(collect_set)`
    * form rather than `countDistinct`.
    */
  def profileColumns(spark: SparkSession, dir: String): DataFrame =
    profileStats(Tables.lineitem(spark, dir), ProfileCols)

  /** The profiling core as a PURE dual-mode transform: under `readStream`
    * + complete output mode the same plan becomes a live data-quality
    * monitor — micro-batch partials merge into the stateful global
    * aggregate, so the emitted table always profiles everything ingested
    * so far (parity-tested against the batch rendering).
    */
  def profileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        size(collect_set(col(c))).cast("long").as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__mn"),
        max(col(c)).cast("string").as(s"${c}__mx"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = cols.map { c =>
      s"'$c', ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx"
    }.mkString(s"stack(${cols.size}, ", ", ", ")")
    wide.select(expr(
      s"$stackExpr as (col_name, non_null, n_distinct, min_val, max_val)"))
  }

  /** Bits per dimension interleaved into the Z-value. 16 bits/dim keeps
    * the interleave a 32-term bitwise expression (fully codegen'd) and is
    * plenty for bucketing: layout clustering needs the TOP bits of each
    * dimension's rank, not full key fidelity.
    */
  val ZBits = 16

  /** Morton/Z-order interleave of the low `ZBits` bits of two non-negative
    * integral columns: bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Pure shifts/masks/adds — whole-stage codegen, no UDF.
    */
  def zInterleave(a: Column, b: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-order layout key for `lineitem` over (l_partkey, l_suppkey): the
    * two-dimensional clustering a part+supplier range query wants. Emits
    * the Z-value and a 32-way range bucket from its top 5 bits.
    *
    * How it is used at 100 TB (the write side, exercised in the spec, is
    * deliberately outside this deterministic query): sort-within-partitions
    * by `zval` after a range-repartition on it, then write parquet — rows
    * close in BOTH key dimensions land in the same files, so min/max
    * row-group stats prune a 2-D range predicate to a handful of files
    * instead of a full scan. The interleave is the whole trick; everything
    * downstream is stock `repartitionByRange` + parquet stats.
    */
  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      col("l_partkey"), col("l_suppkey"),
      zInterleave(col("l_partkey"), col("l_suppkey")).as("zval"))
      .withColumn("zbucket", shiftright(col("zval"), 2 * ZBits - 5))
  }

  /** The write-side companion of [[zorderKey]]: cluster `df` by the Z-value
    * of (`dimA`, `dimB`) into `buckets` range partitions, each sorted by
    * the Z-value, ready for a stats-pruning parquet write. Returned (not
    * written) so callers choose the sink.
    */
  /** Bucketed-table co-located join — the layout that removes the shuffle
    * from a repeated big-fact join entirely. Both sides are written ONCE as
    * bucketed tables (`bucketBy(n, key)`, one file per bucket via an
    * aligned pre-repartition, in-bucket `sortBy`); every subsequent join on
    * the bucket key reads partitioning-aligned scans and plans a
    * SortMergeJoin with NO Exchange on either side — the only shuffle left
    * in the query is the final small aggregate. This is THE production
    * answer for a fact-to-fact join executed nightly at 100 TB: pay the
    * layout write once, never pay the join shuffle again. The `merge` hint
    * pins SMJ so the demonstration doesn't silently degrade to a broadcast
    * at toy scale; at real scale SMJ is what Catalyst picks anyway.
    *
    * Tables are (re)written once per session per (dir, nBuckets) — marker
    * conf, same idiom as `Serving.registerViews`.
    */
  def bucketedJoin(spark: SparkSession, dir: String, nBuckets: Int = 8): DataFrame = {
    val marker = s"$dir@$nBuckets"
    if (!spark.conf.getOption("graft.layout.bucketedDir").contains(marker)) {
      val base = java.nio.file.Files.createTempDirectory("graft_bkt").toString
      Tables.orders(spark, dir)
        .repartition(nBuckets, col("o_orderkey"))
        .write.mode("overwrite").option("path", s"$base/orders")
        .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_bkt_orders")
      Tables.lineitem(spark, dir)
        .repartition(nBuckets, col("l_orderkey"))
        .write.mode("overwrite").option("path", s"$base/lineitem")
        .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_bkt_lineitem")
      spark.conf.set("graft.layout.bucketedDir", marker)
    }
    val o = spark.table("graft_bkt_orders").select("o_orderkey", "o_orderpriority")
    val l = spark.table("graft_bkt_lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("line_ct"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
  }

  /** Partition-pruned layout — the third leg of the layout family
    * (directory pruning), next to Z-order (file-stats pruning) and
    * bucketing (shuffle elimination): lineitem rewritten ONCE partitioned
    * by ship month (`partitionBy`), so a month-predicate query reads ONE
    * directory and the scan's `PartitionFilters` prove it (spec-asserted
    * `PartitionCount: 1`). At 100 TB this is the difference between
    * scanning a month and scanning seven years; the partition column is
    * derived (yyyy-MM), the standard date-partitioning of every fact
    * table in a lake. Write-once session marker, same idiom as
    * `bucketedJoin`.
    */
  def partitionPrunedMonth(spark: SparkSession, dir: String,
                           month: String = "1997-03"): DataFrame = {
    val marker = s"$dir@month"
    if (!spark.conf.getOption("graft.layout.partitionedDir").map(_.split('#')(0))
         .contains(marker)) {
      val base = java.nio.file.Files.createTempDirectory("graft_part").toString
      Tables.lineitem(spark, dir)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(s"$base/lineitem")
      spark.conf.set("graft.layout.partitionedDir", s"$marker#$base")
    }
    val base = spark.conf.get("graft.layout.partitionedDir").split('#')(1)
    spark.read.parquet(s"$base/lineitem")
      .filter(col("ship_month") === month)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("line_ct"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  /** Data-quality expectation suite — the validation gate a pipeline runs
    * before training or publishing: each rule is one bounded aggregate
    * (range / uniqueness / referential integrity / non-null), emitted as
    * a (rule, violation_ct, checked_ct) report row. Every check is a
    * column-pruned scan with a map-side-combinable count — the whole
    * suite costs one pass per referenced column set, embarrassingly
    * parallel at any scale; the FK check is a left_anti against the
    * (gated-broadcast) key side. Rules that PASS on this corpus (pk
    * unique, fk closed) and rules that FAIL (tight ranges) both appear —
    * a report that can only say "ok" is not a gate.
    */
  /** The rule-check core as a PURE dual-mode transform (the
    * `profileStats` discipline): every rule contributes one conditional
    * sum + one count to a single wide aggregate, stacked back to one
    * report row per rule. Under `readStream` + complete output the same
    * plan is a live expectations monitor — each emission reports
    * everything ingested so far (parity-tested vs this batch rendering).
    */
  def expectationStats(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val aggs: Seq[Column] = rules.zipWithIndex.flatMap { case ((_, cond), i) =>
      Seq(coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).as(s"r${i}__v"),
        count(lit(1)).as(s"r${i}__c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = rules.zipWithIndex.map { case ((name, _), i) =>
      s"'$name', r${i}__v, r${i}__c"
    }.mkString(s"stack(${rules.size}, ", ", ", ")")
    wide.select(expr(s"$stackExpr as (rule, violation_ct, checked_ct)"))
  }

  def expectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    def report(rule: String, checked: DataFrame, violation: Column): DataFrame =
      expectationStats(checked, Seq(rule -> violation))
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val pkDup = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") > 1, col("n"))).as("violation_ct"),
        count(lit(1)).as("checked_ct"))
      .select(lit("orders.o_orderkey.unique").as("rule"),
        coalesce(col("violation_ct"), lit(0L)).as("violation_ct"), col("checked_ct"))
    val fkOrphans = o.select(col("o_custkey"))
      .join(maybeBroadcast(Tables.customer(spark, dir).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violation_ct"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("checked_ct"))))
      .select(lit("orders.o_custkey.fk_customer").as("rule"),
        col("violation_ct"), col("checked_ct"))
    Seq(
      report("lineitem.l_quantity.range_1_50", l.select(col("l_quantity")),
        col("l_quantity") < 1 || col("l_quantity") > 50),
      report("lineitem.l_discount.max_0.07", l.select(col("l_discount")),
        col("l_discount") > 0.07),
      report("supplier.s_acctbal.nonnegative",
        Tables.supplier(spark, dir).select(col("s_acctbal")), col("s_acctbal") < 0),
      report("documents.n_chars.positive",
        Tables.documents(spark, dir).select(col("n_chars")), col("n_chars") <= 0),
      report("events.value.nonnull",
        Tables.events(spark, dir).select(col("value")), col("value").isNull),
      pkDup, fkOrphans
    ).reduce(_ unionByName _)
  }

  /** Dynamic partition pruning — the fourth leg of the layout family: the
    * month predicate is NOT a literal on the fact but lives on a joined
    * calendar dim (filter by quarter), the lake-house norm where facts are
    * date-partitioned and predicates arrive through dimension attributes.
    * Catalyst broadcasts the filtered dim, derives a runtime IN-subquery
    * on the partition column (`dynamicpruningexpression` in the scan's
    * PartitionFilters — spec-asserted), and the fact scan reads only the
    * quarter's three directories. At 100 TB this is static pruning's power
    * without rewriting every consumer to carry literal date bounds.
    * Reuses `partitionPrunedMonth`'s write-once partitioned layout.
    */
  def dppQuarterJoin(spark: SparkSession, dir: String,
                     quarterLabel: String = "1997-Q1"): DataFrame = {
    partitionPrunedMonth(spark, dir) // ensures the partitioned copy exists
    val base = spark.conf.get("graft.layout.partitionedDir").split('#')(1)
    val cal = Tables.orders(spark, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("cal_month"),
        concat(year(col("o_orderdate")), lit("-Q"), quarter(col("o_orderdate")))
          .as("cal_quarter"))
      .distinct()
      .filter(col("cal_quarter") === quarterLabel)
    spark.read.parquet(s"$base/lineitem")
      .join(broadcast(cal), col("ship_month") === col("cal_month"))
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("line_ct"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  def zorderLayout(df: DataFrame, dimA: String, dimB: String,
                   buckets: Int = 32): DataFrame = {
    val keyed = df.withColumn("__z", zInterleave(col(dimA), col(dimB)))
    keyed
      .repartitionByRange(buckets, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Shuffle-key skew profile — the diagnostic that decides WHETHER the
    * scale toolkit's mitigations (salted distinct, AQE skew thresholds)
    * are needed for a key before paying for them: one row
    * of distribution facts for `events.user_id` as a shuffle key. Reports
    * key/row counts, the hottest key's absolute count and share, the Gini
    * coefficient of the per-key count distribution (0 = perfectly even,
    * →1 = one key owns the table), and a recommended salt factor
    * ceil(max_count / mean_count) — the multiplier that levels the
    * hottest reducer back to the average.
    *
    * Gini comes from the rank identity G = 2·Σᵢ i·cᵢ /(n·Σc) − (n+1)/n
    * over counts sorted ascending; the global rank is
    * `Scale.distributedPrefixSum` (never a single-partition window over
    * the key space — at 100 TB the KEY table itself is large). Cost: one
    * map-combined groupBy of the fact table down to key counts, then
    * rank + a one-row aggregate over #keys rows. Integer sums feed the
    * two rounded doubles, so engine and oracle agree exactly.
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val ranked = Scale.distributedPrefixSum(counts,
      Seq(col("c").asc, col("user_id").asc), "c", "cum_c", Some("rnk"))
    ranked.agg(
        count(lit(1)).cast("long").as("n_keys"),
        sum(col("c")).cast("long").as("total_rows"),
        max(col("c")).cast("long").as("max_count"),
        // decimal accumulation: Σ rnk·c can pass 2^63 long before the
        // corpus does (DuckDB's SUM(BIGINT) is HUGEINT-exact; this matches)
        sum(col("rnk").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .cast("double").as("ws"))
      .select(col("n_keys"), col("total_rows"), col("max_count"),
        round(col("max_count").cast("double") / col("total_rows").cast("double"), 6)
          .as("top1_share"),
        round((lit(2.0) * col("ws")) /
            (col("n_keys").cast("double") * col("total_rows").cast("double")) -
          (col("n_keys") + lit(1L)).cast("double") / col("n_keys").cast("double"), 6)
          .as("gini"),
        expr("(max_count * n_keys + total_rows - 1L) DIV total_rows")
          .cast("long").as("salt_factor"))
  }

  /** Benford first-digit audit over `lineitem.l_extendedprice` — the
    * classic synthetic-/fabricated-numeric detector for ingested fact
    * data: naturally-occurring multiplicative amounts follow
    * P(d) = log10(1 + 1/d); uniform-generated or truncated feeds don't,
    * and the per-digit deviation table says so at a glance (the TPC-H-ish
    * uniform price generator here is exactly such a non-conforming feed).
    * One map-combined 9-group aggregate + a broadcast one-row total —
    * nothing scales but the scan.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.lineitem(spark, dir)
      .select(substring(floor(col("l_extendedprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy(col("digit")).agg(count(lit(1)).cast("long").as("n"))
    val tot = digits.agg(sum(col("n")).cast("long").as("total"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit").cast("long").as("digit"), col("n"),
        round(col("n").cast("double") / col("total").cast("double"), 6).as("obs_share"),
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)), 6)
          .as("exp_share"))
      .withColumn("abs_dev", round(abs(col("obs_share") - col("exp_share")), 6))
  }
}
