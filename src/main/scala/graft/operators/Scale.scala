package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: the levers a 100 TB deployment pulls that small-SF
  * correctness tests never force.
  */
object Scale {

  /** Salted equi-join for skewed keys: explode the build side `salt` ways,
    * scatter the probe side across salts, join on (key, salt). Same rows
    * as a plain inner equi-join, but a hot key's rows spread over `salt`
    * reducers instead of one straggler.
    *
    * AQE's skew-join split (enabled in `GraftSession`) handles moderate
    * skew adaptively; explicit salting is for the pathological
    * one-key-dominates case (a viral item in the reference's product
    * stats, a boilerplate dup-cluster in corpus dedup).
    */
  /** @param saltCols columns the salt is derived from; defaults to every
    *                  hashable (non-map) probe column. Pass a
    *                  high-cardinality column (a unique id, an offset) when
    *                  the probe can contain fully IDENTICAL rows under a
    *                  hot key — identical rows hash to the same salt, which
    *                  would re-concentrate them on one reducer. (A salt
    *                  that distinguishes identical rows AND is stable under
    *                  task retry cannot exist without a row identity; the
    *                  caller is the one who knows where that identity is.)
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String, salt: Int,
                 saltCols: Seq[String] = Seq.empty): DataFrame = {
    // Salt must be a deterministic function of the row itself: an id- or
    // rand-based salt recomputes differently on stage retry after a shuffle
    // fetch failure, duplicating/dropping rows against reducers that already
    // consumed the first attempt's output (the SPARK-23207 class of bug).
    val source =
      if (saltCols.nonEmpty) saltCols.map(col)
      else probe.schema.fields // xxhash64 cannot hash MapType columns
        .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
        .map(f => col(f.name)).toSeq
    val saltedProbe = probe.withColumn("__salt",
      pmod(xxhash64(source: _*), lit(salt.toLong)).cast("int"))
    val saltedBuild = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedProbe.join(saltedBuild, Seq(key, "__salt")).drop("__salt")
  }

  /** Broadcast-hint `df` only when Catalyst's own size estimate says it is
    * genuinely small. An explicit `broadcast()` hint BYPASSES the planner's
    * size check — at 100× data it forces a multi-GB collect to the driver
    * and an executor-OOM build side rather than degrading to a shuffled
    * join. So the hint must be conditional on size: below `maxBytes` the
    * plan gets the hint (identical to today at test SF); above it the hint
    * is omitted and Catalyst/AQE plans the join for what the table is.
    *
    * The estimate is `optimizedPlan.stats.sizeInBytes` — the same statistic
    * `autoBroadcastJoinThreshold` consults (file sizes at the scan,
    * propagated through projections/filters/aggregates, and preserved
    * across `localCheckpoint` since SPARK-39748). Reading it is driver-side
    * plan metadata: no job, no action, nothing in the timed query.
    */
  val BroadcastGateConf = "spark.graft.broadcastGateBytes"
  val BroadcastGateDefault: Long = 100L << 20

  /** The session's broadcast gate in bytes (`spark.graft.broadcastGateBytes`). */
  def broadcastGate(spark: SparkSession): Long =
    spark.conf.get(BroadcastGateConf, BroadcastGateDefault.toString).toLong

  def maybeBroadcast(df: DataFrame, maxBytes: Long = -1L): DataFrame = {
    val bound = if (maxBytes > 0) maxBytes else broadcastGate(df.sparkSession)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(bound)) broadcast(df)
    else df
  }

  /** Measured-bytes variant of the gate for frames derived from a
    * MATERIALIZED `localCheckpoint`: the estimate `maybeBroadcast` reads
    * is preserved from the ORIGINATING plan (SPARK-39748), and the
    * size-only join estimator MULTIPLIES child sizes — so a ~26 KB
    * checkpointed join output can report gigabytes and silently decline
    * the hint, leaving a no-key join to plan as CartesianProduct (the
    * registry-wide `PlanAudit` caught exactly this in `mine_bitext`).
    * Here the actual UnsafeRow bytes are summed with one tiny job over
    * the already-materialized partitions — no recompute, milliseconds at
    * broadcast-candidate sizes — and the hint decision uses the REAL
    * figure. Use where the candidate side comes off a checkpoint and the
    * join has no equi keys (estimate-blind cross joins); keep the
    * zero-job `maybeBroadcast` for scan-rooted frames whose estimates
    * are honest.
    *
    * @param elseHint join-strategy hint applied when the gate DECLINES the
    *                  broadcast (e.g. `"shuffle_hash"`); empty = none. The
    *                  degraded path of a declined broadcast defaults to
    *                  sort-merge, which SORTS the probe side — for a probe
    *                  that is a huge generated stream (the triangle wedge
    *                  fan-out: billions of rows at sweep factors) the sort
    *                  dominates the join, while a shuffled-hash build of
    *                  the declined side costs per-partition memory of
    *                  |build|/shufflePartitions — bounded, because the same
    *                  spill-aware sizing that scales partition counts with
    *                  the data scales the per-partition build down.
    */
  def maybeBroadcastMeasured(df: DataFrame, maxBytes: Long = -1L,
                             elseHint: String = ""): DataFrame = {
    val bound = if (maxBytes > 0) maxBytes else broadcastGate(df.sparkSession)
    if (measuredBytes(df) <= bound) broadcast(df)
    else if (elseHint.nonEmpty) df.hint(elseHint)
    else df
  }

  /** The measure job of `maybeBroadcastMeasured`, exposed for callers
    * whose frame's byte size is provably STABLE across an iterative loop
    * (pageRank's |V|-row rank vector: same key set, fixed-width values) —
    * measure once, reuse the broadcast decision every round instead of
    * paying one measure job per iteration (r15, guide §5 per-job fixed
    * overhead).
    */
  def measuredBytes(df: DataFrame): Long =
    df.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(it.map(_.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.UnsafeRow].getSizeInBytes.toLong).sum))
      .fold(0L)(_ + _)

  /** `localCheckpoint` with a conf-selectable storage level
    * (`spark.graft.checkpointStorageLevel`, e.g. `DISK_ONLY`; unset =
    * Spark's default, unchanged behavior). The graph operators checkpoint
    * their reused edge tables; at sweep scale (≥40× replicas) the default
    * deserialized in-memory blocks of a 70M-row edge table pin the whole
    * 20 g heap and OOM the wedge join's sort tasks — `DISK_ONLY` keeps the
    * reuse-without-recompute semantics with O(1) heap, which is also the
    * 100 TB posture (reused frames live in the shuffle/storage service,
    * not executor heap).
    */
  val CheckpointLevelConf = "spark.graft.checkpointStorageLevel"

  def checkpointed(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(CheckpointLevelConf) match {
      case Some(lvl) => df.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.fromString(lvl))
      case None => df.localCheckpoint()
    }

  /** LAZY `checkpointed`: same lineage truncation and pinning, but the
    * materialization rides the NEXT action over the frame instead of its
    * own job — for iterative loops where each round's frame is consumed by
    * exactly one downstream job anyway (pageRank: the next round's
    * broadcast build), so the eager materialization job is pure per-round
    * overhead (r15, guide §5).
    */
  def checkpointedLazy(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(CheckpointLevelConf) match {
      case Some(lvl) => df.localCheckpoint(false,
        org.apache.spark.storage.StorageLevel.fromString(lvl))
      case None => df.localCheckpoint(false)
    }

  /** Skew flag for the exhaustive dedup joins (`Dedup.sharedTokenJoin`):
    * 0/1 = plain blocked join (default); k > 1 = salt the (source, tok)
    * block key k ways through `saltedJoin`, for corpora where ONE block
    * dominates (a single-source corpus is the pathological case) and
    * AQE's skew splitting isn't enough. Output is identical either way
    * (spec-asserted).
    */
  val DedupSaltConf = "spark.graft.dedup.saltBuckets"

  /** Crossover bound for the prefix-filtered dedup joins
    * (`Dedup.ngramJaccardPrefixFrom` / `bagOverlapPrefixFrom`): an input
    * whose plan-stats estimate is at or below this many bytes runs the
    * EXHAUSTIVE token join — at toy corpus sizes its single join+agg beats
    * the prefix machinery's extra fixed stages (df aggregation, candidate
    * dedup, verify joins), while above the bound the prefix path's
    * sub-quadratic candidate generation wins by a widening margin
    * (recorded in BENCH_SCALE.json). Same adaptive-by-size philosophy as
    * the broadcast gate; output is identical on either side of the bound
    * (property-tested + one oracle). Set to 0 to force the prefix
    * machinery (the scale sweep does).
    */
  val PrefixCrossoverConf = "spark.graft.prefixCrossoverBytes"
  val PrefixCrossoverDefault: Long = 2L << 20

  /** Pruning-power bound for the adaptive Jaccard dispatcher
    * (`Dedup.ngramJaccardAdaptiveFrom`): when the prefix rendering's
    * estimated candidate-pair volume is at least this fraction of the
    * exhaustive rendering's, prefix filtering cannot pay for its extra
    * stages and the dispatcher routes to the exhaustive token join.
    * A fully unprunable corpus keeps ~all candidates (ratio → 1); the
    * recorded corpora keep well under half even in the quadratic
    * block-blowup regime (where prefix now measures faster too — see
    * `BENCH_SCALE_quadratic.json`), so 0.5 routes exhaustive only when
    * pruning has genuinely collapsed. The sweep trips nonzero if the
    * chosen route measures ≥2× slower than the alternative.
    */
  val AdaptivePruneRatioConf = "spark.graft.dedup.adaptivePruneRatio"
  val AdaptivePruneRatioDefault: Double = 0.5

  /** The 100 TB configuration as ONE switch (README "Scale mode"):
    * `spark.graft.scaleMode=true` — settable here, per session, or via
    * `spark-submit --conf` — turns on every sketch rewrite at once
    * (`ApproxDistinctRule`: exact `size(collect_set)` → HLL;
    * `ApproxPercentileRule`: exact `percentile` → t-digest). The
    * per-rule flags (`spark.graft.approxDistinct` / `approxPercentile`)
    * still override individually. Oracle-gated runs keep it off — scale
    * mode trades exactness for O(1) per-group state, which is the right
    * trade only at corpus scale.
    */
  def scaleMode(spark: org.apache.spark.sql.SparkSession, on: Boolean = true): Unit =
    spark.conf.set("spark.graft.scaleMode", on.toString)

  /** Scale-adaptive fact-scan spread (r14, guide §2.5 input skew / §1.2):
    * hash-repartition `df` on `key` ONLY when its scan yields fewer
    * splits than half the session's cores. The bench parquet tables are
    * single-row-group files, so every scan is effectively ONE split —
    * an all-broadcast join chain (the TPC-H shapes at test SF, where
    * every dimension fits the 64 MB auto-broadcast bound) then runs its
    * entire scan→join→partial-agg pipeline in one task while 31 cores
    * idle. At production scale the scan has plenty of splits and this is
    * the IDENTITY — no exchange is added, the plan is unchanged (the
    * split count is read from the planned scan RDD, driver-side, no
    * job). Keyed (not round-robin) so the exchange is deterministic
    * under task retry (no SPARK-23207 exposure and no
    * sortBeforeRepartition pass), and keyed ON THE JOIN KEY so a
    * downstream shuffle join can reuse the exchange outright.
    *
    * PRECONDITION (ADVICE r14): `df` must be a pure scan — projections /
    * filters over a leaf relation. Reading the split count finalizes the
    * physical plan via `df.rdd`; under AQE, a plan containing an
    * exchange/join would MATERIALIZE query stages (run real jobs) at
    * query-construction time. Enforced structurally below: anything
    * other than a project/filter/alias chain over a leaf returns the
    * identity without touching `df.rdd` (today every call site passes a
    * bare table scan; the guard keeps a future caller from silently
    * paying construction-time execution).
    */
  def spreadIfNarrow(df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project, SubqueryAlias}
    val spark = df.sparkSession
    def scanChain(p: LogicalPlan): Boolean = p match {
      case _: Project | _: LFilter | _: SubqueryAlias => scanChain(p.children.head)
      case leaf => leaf.children.isEmpty
    }
    if (!scanChain(df.queryExecution.analyzed)) df
    else if (df.rdd.getNumPartitions * 2 < spark.sparkContext.defaultParallelism)
      df.repartition(spark.sessionState.conf.numShufflePartitions, col(key))
    else df
  }

  /** Distributed running sum of `valueCol` over the global `sortCols`
    * ordering, WITHOUT the single-partition `Window.orderBy` trap (which
    * plans an Exchange SinglePartition carrying every row through one
    * task): range-partition on the sort key, aggregate per-partition
    * subtotals (one row each), turn them into prefix OFFSETS with a
    * partition-count-sized window, broadcast the offsets back, and cumsum
    * WITHIN partitions. Two narrow passes, fully parallel at any input
    * size; only the P-row offset window is global. The ranged frame is
    * pinned (`localCheckpoint`) so the offset aggregate and the final
    * join see the same partition assignment (at cluster scale: a
    * persisted intermediate).
    *
    * Returns the input columns plus `outCol` = inclusive running sum
    * (LongType), and — when `rankCol` is set — the 1-based global rank
    * under the same ordering (same machinery: partition row_number +
    * broadcast row-count offsets). The ordering must be total (tie-break
    * in `sortCols`) for the result to be deterministic.
    */
  def distributedPrefixSum(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
                           valueCol: String, outCol: String,
                           rankCol: Option[String] = None): DataFrame =
    distributedPrefixSumMulti(df, sortCols, Seq(valueCol -> outCol), rankCol)

  /** Multi-column form of `distributedPrefixSum`: every (valueCol →
    * outCol) pair gets its running sum under ONE shared range
    * partitioning and ONE pinned intermediate — callers needing several
    * cumulative series over the same ordering (e.g. a two-sample ECDF)
    * pay the checkpoint once instead of per column.
    */
  def distributedPrefixSumMulti(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
                                valueCols: Seq[(String, String)],
                                rankCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism / 2, 2)
    val ranged = df
      .repartitionByRange(parts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val offW = Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    val totAggs = valueCols.zipWithIndex.map { case ((vc, _), i) =>
      sum(col(vc)).as(s"__ptot$i") } :+ count(lit(1)).as("__pcnt")
    val offSelects = col("__pid") +:
      (valueCols.indices.map { i =>
        coalesce(sum(col(s"__ptot$i")).over(offW), lit(0L)).as(s"__off$i")
      } :+ coalesce(sum(col("__pcnt")).over(offW), lit(0L)).as("__roff"))
    val offsets = ranged.groupBy(col("__pid"))
      .agg(totAggs.head, totAggs.tail: _*)
      .select(offSelects: _*)
    val cumW = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val joined = ranged.join(broadcast(offsets), Seq("__pid"))
    val base = valueCols.zipWithIndex.foldLeft(joined) { case (acc, ((vc, oc), i)) =>
      acc.withColumn(oc, (col(s"__off$i") + sum(col(vc)).over(cumW)).cast("long"))
    }
    rankCol.fold(base) { rc =>
      base.withColumn(rc, (col("__roff") + row_number().over(cumW)).cast("long"))
    }.drop("__pid" +: "__roff" +: valueCols.indices.map(i => s"__off$i"): _*)
  }

  /** Exact COUNT(DISTINCT distinctCol) per `key`, restructured for hot
    * keys. Salting is pointless for algebraic aggregates (sum/count/min —
    * Spark's partial aggregation already combines map-side, so a hot key
    * costs one reducer one merge pass over pre-reduced rows); the
    * aggregate that genuinely melts a reducer is the HOLISTIC distinct,
    * whose state is the full value set of the hottest key. Two phases:
    *
    *  1. dedup on (key, salt) where salt = hash(distinctCol) % `salt` —
    *     the hot key's VALUE SET spreads over `salt` reducers, each
    *     deduping a disjoint value slice (disjointness is what makes the
    *     final sum exact: identical values share a salt, distinct values
    *     of one key spread);
    *  2. per-salt distinct counts, then an algebraic SUM per key — which
    *     partial aggregation handles, closing the loop.
    *
    * Same result as `groupBy(key).agg(countDistinct(...))`, but no
    * reducer ever holds more than ~1/salt of a hot key's set. (At the
    * extreme end the HLL rewrite in scale mode replaces exactness
    * entirely; this is the EXACT answer's scale shape.)
    */
  def saltedDistinctCount(df: DataFrame, key: String, distinctCol: String,
                          salt: Int, outCol: String): DataFrame = {
    val perSalt = df
      .withColumn("__salt", pmod(xxhash64(col(distinctCol)), lit(salt.toLong)).cast("int"))
      .select(col(key), col("__salt"), col(distinctCol))
      .distinct()                                      // phase 1: dedup value slices
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__ct"))                   // per-slice distinct sizes
    perSalt.groupBy(col(key))
      .agg(sum(col("__ct")).cast("long").as(outCol))   // phase 2: algebraic combine
  }
}
