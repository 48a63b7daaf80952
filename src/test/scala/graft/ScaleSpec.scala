package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale

/** Scale-posture specs: shuffle placement and skew handling — the
  * properties that decide whether a plan survives 100× data.
  */
class ScaleSpec extends SparkSpecBase {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a dropped catalog entry can leave its managed location behind (e.g.
    // fresh metastore over an old warehouse dir) — clear the paths too
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    Tables.orders(spark, sf("orders")).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    Tables.lineitem(spark, sf("lineitem")).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")

    val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
      $"l_orderkey" === $"o_orderkey")
    // co-located (bucketed) join: no Exchange on either side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() ==
        Tables.lineitem(spark, sf("lineitem")).join(
          Tables.orders(spark, sf("orders")), $"l_orderkey" === $"o_orderkey").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
  }

  private def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.nonEmpty

  test("maybeBroadcast: hint is size-gated, never unconditional") {
    // Range stats = 8 bytes/row: 100 rows hints, 200M rows (~1.6 GB) must not
    val small = spark.range(100).toDF("id")
    val big = spark.range(200L * 1000 * 1000).toDF("id")
    assert(hinted(Scale.maybeBroadcast(small)), "small frame should carry the hint")
    assert(!hinted(Scale.maybeBroadcast(big)),
      "sf-scaling frame must NOT carry a broadcast hint — an explicit hint " +
        "bypasses the planner's size check and OOMs at 100x")
    // returns the identical frame when the gate closes (no plan rewrite)
    assert(Scale.maybeBroadcast(big) eq big)
  }

  test("maybeBroadcast gate survives localCheckpoint (stats propagate)") {
    val ckpt = Tables.documents(spark, sf("documents")).localCheckpoint()
    val sz = ckpt.queryExecution.optimizedPlan.stats.sizeInBytes
    // if LogicalRDD lost its origin stats this would be defaultSizeInBytes
    // (huge) and every checkpointed dedup intermediate would silently stop
    // broadcasting — pin the propagation
    assert(sz > 0 && sz < BigInt(Scale.BroadcastGateDefault),
      s"checkpointed stats not propagated: $sz")
    assert(hinted(Scale.maybeBroadcast(ckpt)))
  }

  test("sf-scaling joins degrade to shuffle joins when the gate closes (100TB posture)") {
    // Simulate the 100TB regime: close the gate, assert the headline
    // relational queries plan WITHOUT a broadcast hint on customer/part and
    // still produce identical results via shuffle joins — graceful
    // degradation, not an OOM'd forced broadcast.
    val dir = sf("any")
    def q3() = operators.Relational.q3TopRevenue(spark, dir)
    def a5() = operators.Relational.a5TopBrands(spark, dir)
    val before3 = q3().collect().map(_.toSeq).toSeq
    val before5 = a5().collect().map(_.toSeq).toSeq
    spark.conf.set(Scale.BroadcastGateConf, "1")
    try {
      assert(!hinted(q3()), "q3 must drop the customer hint under the closed gate")
      assert(!hinted(a5()), "a5 must drop the part hint under the closed gate")
      assert(q3().collect().map(_.toSeq).toSeq == before3)
      assert(a5().collect().map(_.toSeq).toSeq == before5)
    } finally spark.conf.unset(Scale.BroadcastGateConf)
  }

  test("dedup family degrades to shuffle joins under a closed gate, identical output (100TB posture)") {
    // The near-dup joins are where a forced broadcast would hurt most at
    // corpus scale: close the gate and assert the whole family plans
    // hint-free (SMJ candidate/verify joins) with bit-identical results.
    val dir = sf("documents")
    def queries: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "prefix" -> (() => pipeline.Dedup.ngramJaccardPrefix(spark, dir)),
      "exhaustive" -> (() => pipeline.Dedup.ngramJaccard(spark, dir)),
      "containment" -> (() => pipeline.Dedup.bagOverlap(spark, dir)),
      "lsh" -> (() => pipeline.Dedup.minhashLsh(spark, dir)))
    // crossover off: "prefix" must run the prefix machinery under the
    // closed gate, not its toy-scale exhaustive re-route
    spark.conf.set(Scale.PrefixCrossoverConf, "0")
    val open = queries.map { case (n, q) => n -> q().collect().map(_.toSeq).toSet }
    spark.conf.set(Scale.BroadcastGateConf, "1")
    try {
      queries.foreach { case (n, q) =>
        assert(!hinted(q()), s"$n must carry no broadcast hint under the closed gate")
        assert(q().collect().map(_.toSeq).toSet == open(n),
          s"$n results must be identical via shuffle joins")
      }
    } finally {
      spark.conf.unset(Scale.BroadcastGateConf)
      spark.conf.unset(Scale.PrefixCrossoverConf)
    }
  }

  test("salted join returns exactly the plain-join rows under skew") {
    // pathological skew: 90% of probe rows share one key
    val probe = (1 to 2000).map(i => (if (i <= 1800) 1L else i.toLong % 50, i))
      .toDF("k", "v")
    val build = (0L to 60L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = probe.join(build, "k")
    val salted = Scale.saltedJoin(probe, build, "k", salt = 8)
    assert(salted.count() == plain.count())
    val a = plain.select("k", "v", "name").collect().map(_.toSeq).sorted(
      Ordering.by((s: Seq[Any]) => s.mkString(",")))
    val b = salted.select("k", "v", "name").collect().map(_.toSeq).sorted(
      Ordering.by((s: Seq[Any]) => s.mkString(",")))
    assert(a.toSeq == b.toSeq)
  }

  test("skew flag: salted exhaustive dedup joins match plain output on a one-block corpus") {
    // the pathological case PLANS.md names: EVERY doc in one source, so the
    // whole (source, tok) block family lands on a handful of reducers under
    // the plain shuffle join; the flag salts it through Scale.saltedJoin
    val r = new scala.util.Random(7)
    val docs = (0 until 120).map { i =>
      (i.toLong, "s0", (0 until 6 + r.nextInt(12)).map(_ => s"w${r.nextInt(20)}").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val plainJ = pipeline.Dedup.ngramJaccardExhaustiveFrom(docs).collect().map(_.toSeq).toSet
    val plainC = pipeline.Dedup.bagOverlapFrom(docs).collect().map(_.toSeq).toSet
    assert(plainJ.nonEmpty && plainC.nonEmpty, "fixture produced no pairs — vacuous")
    spark.conf.set(Scale.DedupSaltConf, "8")
    try {
      val saltedJ = pipeline.Dedup.ngramJaccardExhaustiveFrom(docs)
      assert(saltedJ.queryExecution.executedPlan.toString.contains("__salt"),
        "salt machinery missing from the flagged plan")
      assert(saltedJ.collect().map(_.toSeq).toSet == plainJ,
        "salted jaccard join diverged from plain")
      assert(pipeline.Dedup.bagOverlapFrom(docs).collect().map(_.toSeq).toSet == plainC,
        "salted containment join diverged from plain")
    } finally spark.conf.unset(Scale.DedupSaltConf)
  }

  test("BenchScale enforces prefix/exhaustive pair-set equality (diverging run fails)") {
    intercept[IllegalStateException] { BenchScale.enforcePairEquality(false, true) }
    intercept[IllegalStateException] { BenchScale.enforcePairEquality(true, false) }
    intercept[IllegalStateException] { BenchScale.enforcePairEquality(false, false) }
    BenchScale.enforcePairEquality(jaccardEqual = true, containEqual = true) // no throw
  }

  test("BenchScaleAnalytics enforces the exact factor-multiple invariant") {
    intercept[IllegalStateException] { BenchScaleAnalytics.enforce("h", 0, 0, 10) }
    intercept[IllegalStateException] { BenchScaleAnalytics.enforce("h", 80190, 801901, 10) }
    intercept[IllegalStateException] { BenchScaleAnalytics.enforce("h", 80190, 80190, 10) }
    BenchScaleAnalytics.enforce("h", 80190, 801900, 10) // no throw
  }

  test("BenchScaleSubstr enforces the exact factor-multiple span invariant") {
    intercept[IllegalStateException] { BenchScaleSubstr.enforce(0, 0, 10) }      // empty base
    intercept[IllegalStateException] { BenchScaleSubstr.enforce(58, 579, 10) }   // off by one
    intercept[IllegalStateException] { BenchScaleSubstr.enforce(58, 58, 10) }    // unscaled
    BenchScaleSubstr.enforce(58, 580, 10) // no throw
  }

  test("BenchScaleAnn enforces quantized recall and non-empty blocked results") {
    intercept[IllegalStateException] { BenchScaleAnn.enforce(0.79, 10, 10) }
    intercept[IllegalStateException] { BenchScaleAnn.enforce(0.98, 0, 10) }
    intercept[IllegalStateException] { BenchScaleAnn.enforce(0.98, 10, 0) }
    intercept[IllegalStateException] { BenchScaleAnn.enforce(0.98, 10, 10, pqRecall = 0.04) }
    intercept[IllegalStateException] { BenchScaleAnn.enforce(0.98, 10, 10, ivfpqRows = 0) }
    BenchScaleAnn.enforce(0.98, 10, 10, 0.4, 50) // no throw
  }

  test("BenchScaleRetrieval enforces full top-k at both scales") {
    intercept[IllegalStateException] { BenchScaleRetrieval.enforce(90, 100, 100, 100, 10, 10) }
    intercept[IllegalStateException] { BenchScaleRetrieval.enforce(100, 100, 100, 99, 10, 10) }
    BenchScaleRetrieval.enforce(100, 100, 100, 100, 10, 10) // no throw
  }
}
