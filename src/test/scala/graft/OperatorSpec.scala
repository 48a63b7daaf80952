package graft

import org.apache.spark.sql.functions._
import graft.operators.{LogPipeline, Relational}

/** Unit specs on tiny inline frames per SURVEY §2 operator family. */
class OperatorSpec extends SparkSpecBase {
  import spark.implicits._

  test("J1 interval join honors both time bounds and the equi key") {
    val o = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:00:00"))
      .toDF("o_key", "o_ts").select($"o_key", $"o_ts".cast("timestamp").as("o_ts"))
    val l = Seq(
      (1L, "2024-01-01 00:00:05"),  // in [0, +30d]
      (1L, "2023-12-31 23:59:59"),  // before lower bound
      (1L, "2024-02-15 00:00:00"),  // past upper bound
      (2L, "2024-01-20 00:00:00"),  // in-bounds, other key
      (3L, "2024-01-01 00:00:01"))  // no matching key
      .toDF("l_key", "l_ts").select($"l_key", $"l_ts".cast("timestamp").as("l_ts"))
    val joined = o.join(l,
      $"l_key" === $"o_key" && $"l_ts" >= $"o_ts" &&
        $"l_ts" <= $"o_ts" + expr("INTERVAL 30 DAYS"))
    assert(joined.select("l_key", "l_ts").as[(Long, java.sql.Timestamp)].collect()
      .map(_._1).sorted.toSeq == Seq(1L, 2L))
  }

  test("J3 dim enrichment is left: fact rows survive dim misses") {
    val facts = Seq((1L, 10L), (2L, 99L)).toDF("id", "dim_id") // 99 has no dim
    val dim = Seq((10L, "a")).toDF("dim_id", "name")
    val out = facts.join(broadcast(dim), Seq("dim_id"), "left").orderBy("id")
    assert(out.count() == 2)
    assert(out.filter($"id" === 2L).select("name").first().isNullAt(0))
  }

  test("A2 exact distinct via collect_set size equals count distinct") {
    val df = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "u")
    val viaSet = df.groupBy("k")
      .agg(size(collect_set($"u")).cast("long").as("ct")).orderBy("k")
    val viaDistinct = df.groupBy("k")
      .agg(countDistinct($"u").as("ct")).orderBy("k")
    assert(viaSet.collect().toSeq == viaDistinct.collect().toSeq)
  }

  test("top-K is deterministic under ties (revenue desc, key asc)") {
    val df = Seq(("x", 5.0), ("y", 5.0), ("z", 9.0)).toDF("brand", "rev")
    val top = df.orderBy($"rev".desc, $"brand".asc).limit(2)
      .as[(String, Double)].collect().toSeq
    assert(top == Seq(("z", 9.0), ("x", 5.0)))
  }

  test("ST1 batch oracle marks exactly one first event per user") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:01", 7L),
      (2L, "2024-01-01 00:00:02", 7L),
      (3L, "2024-01-01 00:00:00", 8L))
      .toDF("event_id", "ts", "user_id")
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id")
    val rows = LogPipeline.st1Transform(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(rows == Map(1L -> 1L, 2L -> 0L, 3L -> 1L))
  }

  test("J4 batch oracle: matched, interrupted, and timeout branches") {
    // user 1: view->view within window = bounce (matched)
    // user 2: view->click within window = no bounce
    // user 3: view then nothing = bounce (timeout)
    // user 4: view then event after window = bounce (timeout) + trailing view = bounce
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view"),
      (2L, "2024-01-01 00:01:00", 1L, "view"),
      (3L, "2024-01-01 00:00:00", 2L, "view"),
      (4L, "2024-01-01 00:01:00", 2L, "click"),
      (5L, "2024-01-01 00:00:00", 3L, "view"),
      (6L, "2024-01-01 00:00:00", 4L, "view"),
      (7L, "2024-01-01 00:30:00", 4L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id", $"event_type")
    val got = LogPipeline.j4Transform(ev).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 5L, 6L, 7L))
  }

  test("J4 times(2).consecutive() rendering matches the next-form output") {
    // same fixture as the batch-oracle test PLUS the parity check on real
    // data: the reference's two CEP pattern forms (begin().next() at
    // UserJumpDetailApp.java:68-80, times(2).consecutive() at :83-92) must
    // be indistinguishable through either Spark rendering
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view"),
      (2L, "2024-01-01 00:01:00", 1L, "view"),
      (3L, "2024-01-01 00:00:00", 2L, "view"),
      (4L, "2024-01-01 00:01:00", 2L, "click"),
      (5L, "2024-01-01 00:00:00", 3L, "view"),
      (6L, "2024-01-01 00:00:00", 4L, "view"),
      (7L, "2024-01-01 00:30:00", 4L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id", $"event_type")
    val next = LogPipeline.j4Transform(ev).collect().map(_.toSeq).toSet
    val times2 = LogPipeline.j4Times2Transform(ev).collect().map(_.toSeq).toSet
    assert(times2 == next, s"pattern forms diverged:\n next-only=${next -- times2}\n times2-only=${times2 -- next}")
    // and on the full sf0.001 events fixture
    val real = graft.Tables.events(spark, sf("events"))
    val n2 = LogPipeline.j4Transform(real).collect().map(_.toSeq).toSet
    val t2 = LogPipeline.j4Times2Transform(real).collect().map(_.toSeq).toSet
    assert(t2 == n2)
  }

  test("SCD2 history: dense versions, delete-closed intervals, one current row") {
    val d = sf("events")
    val hist = LogPipeline.cdcScd2History(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), Option(r.getString(4)), r.getInt(5)))
    // driver-side replay of the same change-log semantics
    val log = graft.Tables.events(spark, d)
      .select("user_id", "ts", "event_id", "value", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[Any](1).toString, r.getLong(2),
        r.getDouble(3), r.getString(4)))
    val byUser = log.groupBy(_._1).view.mapValues(_.sortBy(e => (e._2, e._3)))
    hist.groupBy(_._1).foreach { case (uid, rows) =>
      val versions = rows.map(_._2).sorted
      assert(versions.toSeq == (1L to versions.length).toSeq,
        s"versions not dense for user $uid: ${versions.toSeq}")
      assert(rows.count(_._6 == 1) <= 1, s"multiple current rows for user $uid")
      // is_current == open interval == the user's LAST op is this upsert
      val lastOpIsUpsert = byUser(uid).last._5 != "error"
      assert((rows.count(_._6 == 1) == 1) == lastOpIsUpsert,
        s"current-row flag disagrees with the log tail for user $uid")
      // upsert count matches the non-error ops
      assert(rows.length == byUser(uid).count(_._5 != "error"))
    }
    // intervals never invert (valid_from <= valid_to as formatted strings —
    // the format is sortable)
    hist.foreach { case (_, _, _, from, to, _) =>
      to.foreach(t => assert(from <= t, s"inverted interval: $from > $t")) }
    // one shuffle total: both window passes share the user_id partitioning
    val plan = LogPipeline.cdcScd2History(spark, d)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      s"SCD2 must hash-partition by user exactly once:\n$plan")
  }

  test("SCD2 snapshot: the dim state a driver-side replay reaches at T") {
    val d = sf("events")
    val at = "2024-01-15 00:00:00"
    val got = LogPipeline.cdcSnapshotAt(spark, d, at).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // replay: last op at-or-before T per user; deletes clear the state.
    // Cutoff and ordering use the FULL-precision ISO string (lexicographic
    // == chronological for a shared date prefix) so a same-second event
    // after T can't sneak in.
    val atIso = at.replace(' ', 'T')
    val state = graft.Tables.events(spark, d)
      .select("user_id", "ts", "event_id", "value", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Any](1).toString, r.getLong(2),
        r.getDouble(3), r.getString(4)))
      .filter(_._2 <= atIso)
      .groupBy(_._1).view.mapValues(_.sortBy(e => (e._2, e._3)).last)
      .collect { case (uid, last) if last._5 != "error" => uid -> last._4 }
      .toMap
    assert(got == state,
      s"snapshot diverges from replay: extra=${got.keySet -- state.keySet} " +
        s"missing=${state.keySet -- got.keySet}")
  }

  test("A13 funnel: stage counts match a driver-side ordered replay; monotone") {
    val d = sf("events")
    val Array(nView, nClick, nBuy) = LogPipeline.a13EventFunnel(spark, d)
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(nView >= nClick && nClick >= nBuy, "funnel must be monotone")
    val byUser = graft.Tables.events(spark, d)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Any](2).toString))
      .groupBy(_._1)
    def stages(evs: Array[(Long, String, String)]): Int = {
      val t1 = evs.filter(_._2 == "view").map(_._3).minOption
      val t2 = t1.flatMap(a => evs.filter(e => e._2 == "click" && e._3 > a).map(_._3).minOption)
      val t3 = t2.flatMap(a => evs.filter(e => e._2 == "purchase" && e._3 > a).map(_._3).minOption)
      Seq(t1, t2, t3).count(_.isDefined)
    }
    val reached = byUser.values.map(stages).toSeq
    assert(nView == reached.count(_ >= 1) && nClick == reached.count(_ >= 2) &&
      nBuy == reached.count(_ >= 3),
      s"replay disagrees: got ($nView,$nClick,$nBuy) vs " +
        s"(${reached.count(_ >= 1)},${reached.count(_ >= 2)},${reached.count(_ >= 3)})")
  }

  test("A14 cohort retention: offsets replay per user; day-0 covers every user") {
    val d = sf("events")
    val rows = LogPipeline.a14CohortRetention(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.keys.forall(_._2 >= 0), "negative day offset")
    val byUser = graft.Tables.events(spark, d)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd")).collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
    // every user contributes exactly one cohort (its min day) at offset 0
    val nUsers = byUser.size.toLong
    val day0 = rows.collect { case ((_, 0L), n) => n }.sum
    assert(day0 == nUsers, s"day-0 must cover all $nUsers users, got $day0")
    // full replay: distinct users per (cohort, offset)
    val fmtDay = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    val expected = byUser.toSeq.flatMap { case (uid, evs) =>
      val days = evs.map(_._2)
      val cohort = days.min
      days.map(dy => (cohort,
        java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(cohort, fmtDay), java.time.LocalDate.parse(dy, fmtDay)))
        -> uid).distinct
    }.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(rows == expected)
  }

  test("A15 RFM: segments are monotone quartiles on exact integer metrics") {
    val d = sf("events")
    val out = LogPipeline.a15RfmSegments(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    assert(out.forall(r => Seq(r._5, r._6, r._7).forall(s => s >= 1 && s <= 4)))
    // same metric → same segment; larger metric → segment at least as large
    def monotone(metric: ((Long, Long, Long, Double, Long, Long, Long)) => Long,
        seg: ((Long, Long, Long, Double, Long, Long, Long)) => Long): Unit =
      out.sortBy(metric).sliding(2).foreach {
        case Array(a, b) =>
          assert(seg(a) <= seg(b), s"segment not monotone: $a vs $b")
          if (metric(a) == metric(b))
            assert(seg(a) == seg(b), s"equal metric, unequal segment: $a vs $b")
        case _ => ()
      }
    monotone(_._2, _._5); monotone(_._3, _._6); monotone(r => (r._4 * 100).round, _._7)
    // one row per active user; monetary is the exact 2dp purchase sum
    assert(out.map(_._1).distinct.length == out.length)
    // no window anywhere: boundaries broadcast, assignment map-side
    val plan = LogPipeline.a15RfmSegments(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"RFM must not plan a window:\n$plan")
  }

  test("A16 attribution: channel credits match a driver-side last-touch replay") {
    val d = sf("events")
    val got = LogPipeline.a16LastTouchAttribution(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val log = graft.Tables.events(spark, d)
      .select("user_id", "ts", "event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getAs[Any](1).toString, r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val credits = log.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2, e._3))
      sorted.zipWithIndex.collect { case ((_, _, _, "purchase", v), i) =>
        val touch = sorted.take(i).reverse.find(_._4 != "purchase").map(_._4)
        touch.getOrElse("direct") -> BigDecimal(v).setScale(2)
      }
    }.toSeq
    val expected = credits.groupBy(_._1).map { case (ch, cs) =>
      ch -> (cs.size.toLong, cs.map(_._2).sum.toDouble)
    }
    assert(got == expected, s"\n got=$got\n expected=$expected")
    // purchases never self-attribute
    assert(!got.contains("purchase"))
  }

  test("A17 funnel latency: counts agree with the funnel; percentiles bound the replayed latencies") {
    val d = sf("events")
    val row = LogPipeline.a17FunnelLatency(spark, d).collect().head
    val funnel = LogPipeline.a13EventFunnel(spark, d).collect().head
    assert(row.getLong(0) == funnel.getLong(1), "n_view_click must match the funnel")
    assert(row.getLong(1) == funnel.getLong(2), "n_click_purchase must match the funnel")
    // replay the stage latencies driver-side
    val evs = graft.Tables.events(spark, d)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Any](2).toString))
    def lats(s1: String, s2: String, s3: String) =
      evs.groupBy(_._1).values.flatMap { es =>
        val t1 = es.filter(_._2 == s1).map(_._3).minOption
        val t2 = t1.flatMap(a => es.filter(e => e._2 == s2 && e._3 > a).map(_._3).minOption)
        val t3 = t2.flatMap(a => es.filter(e => e._2 == s3 && e._3 > a).map(_._3).minOption)
        (t2, t3) match { case _ => Seq((t1, t2, t3)) }
      }.toSeq
    val staged = lats("view", "click", "purchase")
    def secs(a: String, b: String) =
      java.time.Duration.between(java.time.LocalDateTime.parse(a),
        java.time.LocalDateTime.parse(b)).toNanos / 1e9
    val l12 = staged.collect { case (Some(a), Some(b), _) => secs(a, b) }
    val l23 = staged.collect { case (_, Some(b), Some(c)) => secs(b, c) }
    for ((p50, p90, ls) <- Seq((row.getDouble(2), row.getDouble(3), l12),
        (row.getDouble(4), row.getDouble(5), l23))) {
      assert(p50 <= p90, "p50 must not exceed p90")
      assert(p50 >= ls.min - 1e-6 && p90 <= ls.max + 1e-6,
        s"percentiles outside replayed range: $p50/$p90 vs [${ls.min}, ${ls.max}]")
    }
  }

  test("A18 active users: DAU/rolling-WAU replay exactly; stickiness is their ratio") {
    val d = sf("events")
    val got = LogPipeline.a18ActiveUsers(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val act = graft.Tables.events(spark, d)
      .select(date_format(col("ts"), "yyyy-MM-dd"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).distinct
    val byDay = act.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val days = byDay.keys.toSeq.sorted
    val expected = days.map { day =>
      val ld = java.time.LocalDate.parse(day)
      val window = (0 to 6).map(k => ld.minusDays(k.toLong).toString)
      val wau = window.flatMap(byDay.getOrElse(_, Set.empty)).toSet.size.toLong
      val dau = byDay(day).size.toLong
      day -> (dau, wau, BigDecimal(dau.toDouble / wau).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    assert(got == expected,
      s"\n engine-only=${(got.toSet -- expected.toSet).take(3)}\n replay-only=${(expected.toSet -- got.toSet).take(3)}")
  }

  test("driver contract: entry() returns rows; every query has runnable shape") {
    assert(SparkEntry.entry(spark).count() > 0)
    // the correctness gate is total: every registered query carries a
    // DuckDB oracle and every oracle names a registered query. The one
    // documented exemption is rows-only by nature: DuckDB has no deflate
    // scalar, so the compression-ratio op is gated by its spec's
    // independent per-row Deflater recomputation instead.
    val rowsOnly = Set("quality_compression")
    assert((SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet) == rowsOnly &&
        (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty,
      s"orphan oracles: ${SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet}; " +
        s"oracle-less queries: ${SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly}")
  }

  test("q1/q5 plans push filters and prune columns at the parquet scan") {
    val plan = Relational.q1PricingSummary(spark, sf("lineitem"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    // toString truncates ReadSchema; asserting the prefix is enough to prove
    // pruning (a full-width scan would start with l_orderkey/l_partkey)
    assert(plan.replaceAll("\\s", "")
      .contains("ReadSchema:struct<l_quantity:double,l_extendedprice:double,l_discount:double"),
      s"columns not pruned:\n$plan")
  }

  test("J6 as-of join: latest at-or-before view, equal-ts visible, unmatched dropped") {
    import java.sql.Timestamp
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 00:05:00"), 1L, "view"),   // latest before click 3
      (3L, ts("2024-01-01 00:06:00"), 1L, "click"),  // → view 2
      (4L, ts("2024-01-01 00:07:00"), 1L, "click"),  // → view 2 (reused)
      (5L, ts("2024-01-01 00:08:00"), 2L, "view"),
      (6L, ts("2024-01-01 00:08:00"), 2L, "click"),  // equal ts → view 5 visible
      (7L, ts("2024-01-01 00:01:00"), 3L, "click"))  // no prior view → dropped
      .toDF("event_id", "ts", "user_id", "event_type")
    val tmp = java.nio.file.Files.createTempDirectory("asof").toString
    ev.withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Relational.j6AsofJoin(spark, tmp)
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 2L), (4L, 2L), (6L, 5L)))
  }

  test("dedup/ANN plan shapes: broadcasts where expected, kernels in codegen") {
    import graft.pipeline.{Dedup, Similarity}
    // ngram pair stage: small tf build side must broadcast (probe side is
    // the fan-out side and must not be the build)
    val ngram = Dedup.ngramJaccard(spark, sf("documents"))
      .queryExecution.executedPlan.toString
    assert(ngram.contains("BroadcastHashJoin"), s"ngram pair join not broadcast:\n$ngram")
    // contamination: benchmark gram set broadcast
    val cont = Dedup.contamination(spark, sf("documents"))
      .queryExecution.executedPlan.toString
    assert(cont.contains("BroadcastHashJoin"), s"bench set not broadcast:\n$cont")
    // brute-force ANN: query side broadcast against the corpus scan
    val brute = Similarity.bruteForceTopK(spark, sf("embeddings"))
      .queryExecution.executedPlan.toString
    assert(brute.contains("BroadcastNestedLoopJoin") || brute.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$brute")
    // minhash signatures: the three kernel stages collapse into ONE Project
    // (no more per-stage materialization barriers), and the executed plan
    // runs them inside a whole-stage codegen span (the interpreted
    // higher-order folds they replaced were CodegenFallback)
    val sigDf = Dedup.signatureTable(spark, sf("documents"))
    sigDf.collect() // finalize THIS df's adaptive plan (count() would plan a new one)
    val sig = sigDf.queryExecution.executedPlan.toString
    assert(sig.toLowerCase.contains("graft_minhash(graft_shingles(graft_hash_tokens(graft_tokenize("),
      s"kernels not fused into one projection:\n$sig")
    // codegen spans render as a `*(n)` prefix in compact plan strings
    assert(sig.linesIterator.exists(l => l.contains("graft_minhash") && l.trim.matches("""^\+?-?\s*\*\(\d+\).*""")),
      s"kernel projection not inside a whole-stage codegen span:\n$sig")
  }

  test("round-7 plan shapes: map-side quantization, rank-limit pushdown on the top-k windows") {
    import graft.pipeline.Similarity
    // int8 quantization is a pure projection: the only exchange is the
    // engine-wide `spread` round-robin (few-split test inputs) — no
    // key shuffle, no single-partition collapse anywhere
    val quant = Similarity.quantizeInt8(spark, sf("embeddings"))
      .queryExecution.executedPlan.toString
    assert(!quant.contains("hashpartitioning") && !quant.contains("SinglePartition"),
      s"quantization plan shuffles on a key:\n$quant")
    assert(quant.contains("Generate"), s"quantization lost its explode:\n$quant")
    // quantized ANN + cluster-balance top-k: Spark 4's rank-limit pushdown
    // must bound the shuffle (each map task keeps its local top-k BEFORE
    // the exchange — the shape that makes window top-k shuffle-bounded)
    val qtop = Similarity.quantTopK(spark, sf("embeddings"))
      .queryExecution.executedPlan.toString
    assert(qtop.contains("WindowGroupLimit"), s"quant top-k lost rank-limit pushdown:\n$qtop")
    val bal = Similarity.clusterBalanceSample(spark, sf("embeddings"))
      .queryExecution.executedPlan.toString
    assert(bal.contains("WindowGroupLimit"), s"cluster cap lost rank-limit pushdown:\n$bal")
    // BPE pair table: global top-k must plan as TakeOrderedAndProject
    // (per-partition heaps, k rows per task to the driver) — never a
    // global Sort, and no corpus-wide single-partition stage anywhere
    val bpe = graft.pipeline.TextPipeline.bpePairFreq(spark, sf("documents"))
      .queryExecution.executedPlan.toString
    assert(bpe.contains("TakeOrderedAndProject"), s"bpe top-k lost the bounded take:\n$bpe")
    assert(!bpe.contains("SinglePartition"), s"bpe plan collapses to one partition:\n$bpe")
  }

  test("round-3 plan shapes: in-row PPJoin prefix, two-level rollup, serving views registered once") {
    import graft.pipeline.Dedup
    import graft.operators.{Relational, Serving}

    // PPJoin prefix: the whole point of the rewrite is NO full-corpus
    // window sort-shuffle and NO per-occurrence tf aggregation — the
    // prefix comes from in-row kernels (crossover off so the prefix
    // machinery, not its toy-scale exhaustive re-route, is what's planned)
    spark.conf.set(graft.operators.Scale.PrefixCrossoverConf, "0")
    val prefixDf = Dedup.ngramJaccardPrefix(spark, sf("documents"))
    prefixDf.collect()
    spark.conf.unset(graft.operators.Scale.PrefixCrossoverConf)
    val prefix = prefixDf.queryExecution.executedPlan.toString
    assert(!prefix.contains("Window"), s"window pass crept back into the prefix join:\n$prefix")
    assert(!prefix.contains("SortMergeJoin"),
      s"pair/verify joins must broadcast at test SF:\n$prefix")
    assert(prefix.toLowerCase.contains("graft_bag_jaccard"),
      s"fused verify kernel missing:\n$prefix")

    // a9 rollup: Expand must sit ABOVE the per-(region, nation) aggregate
    // (two-level rollup) — expanding the raw join output triples the
    // aggregation work for nothing
    val a9Df = Relational.a9Rollup(spark, sf("lineitem"))
    a9Df.collect()
    val a9 = a9Df.queryExecution.executedPlan.toString
    val expandIdx = a9.indexOf("Expand")
    assert(expandIdx > 0, s"rollup lost its Expand:\n$a9")
    assert(a9.indexOf("HashAggregate", expandIdx) > 0,
      s"no aggregate BELOW the Expand — rollup is expanding raw join rows:\n$a9")

    // serving views: second query against the same dir must not re-register
    // (marker = dir@md5-of-file-listing; same dir + unchanged files ⇒ same
    // marker value across both queries)
    Serving.sqlGmvByBrand(spark, sf("lineitem")).collect()
    val marker1 = spark.conf.getOption("graft.serving.viewsDir")
    assert(marker1.exists(_.startsWith(sf("lineitem") + "@")), s"marker: $marker1")
    Serving.sqlGmvByBrand(spark, sf("lineitem")).collect()
    assert(spark.conf.getOption("graft.serving.viewsDir") == marker1)
  }

  test("subquery family: decorrelated plans carry the right join shapes") {
    val d = sf("lineitem")
    // q4 EXISTS → left_semi: no lineitem column may survive the join
    val q4 = Relational.q4OrderPriority(spark, d)
    val q4Plan = q4.queryExecution.executedPlan.toString
    assert(q4Plan.contains("LeftSemi"), s"q4 lost its semi join:\n$q4Plan")
    // q22 NOT EXISTS → left_anti; scalar avg → one-row broadcast attach
    val q22 = Relational.q22IdleBalance(spark, d)
    val q22Plan = q22.queryExecution.executedPlan.toString
    assert(q22Plan.contains("LeftAnti"), s"q22 lost its anti join:\n$q22Plan")
    assert(q22Plan.contains("BroadcastNestedLoopJoin"),
      s"q22 scalar should attach as a one-row broadcast:\n$q22Plan")
    // q10/q18 deterministic top-20 → bounded take, never a global sort
    for ((nm, df) <- Seq("q10" -> Relational.q10ReturnedItems(spark, d),
                         "q18" -> Relational.q18LargeOrders(spark, d))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), s"$nm top-k lost the bounded take:\n$p")
    }
    // q7 reaches nation twice (customer leg + supplier leg), both broadcast
    val q7Plan = Relational.q7NationTrade(spark, d).queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(q7Plan).size >= 2,
      s"q7 nation dims not broadcast twice:\n$q7Plan")
  }

  test("subquery family: results replay driver-side at sf0.001") {
    val d = sf("lineitem")
    val li = graft.Tables.lineitem(spark, d)
      .selectExpr("l_orderkey", "unix_date(CAST(l_shipdate AS DATE)) AS ship_day", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2)))
    val ords = graft.Tables.orders(spark, d)
      .selectExpr("o_orderkey", "unix_date(CAST(o_orderdate AS DATE)) AS od_day",
        "o_orderpriority", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getString(2), r.getLong(3)))

    // q4: per-priority counts of orders with a >60-day-late line
    val dateOf = ords.map(o => o._1 -> o._2).toMap
    val lateOrders = li.filter { case (ok, shipDay, _) =>
      dateOf.contains(ok) && shipDay > dateOf(ok) + 60L
    }.map(_._1).toSet
    val expectedQ4 = ords.filter(o => lateOrders(o._1))
      .groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val gotQ4 = Relational.q4OrderPriority(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotQ4 == expectedQ4)

    // q18: every emitted order really totals > 250 units, recounted exactly
    val qtyByOrder = li.groupBy(_._1).view
      .mapValues(ls => BigDecimal(ls.map(_._3).sum).setScale(2)).toMap
    val q18 = Relational.q18LargeOrders(spark, d).collect()
    assert(q18.nonEmpty)
    q18.foreach { r =>
      val ok = r.getLong(2)
      assert(BigDecimal(r.getDouble(5)) == qtyByOrder(ok) && qtyByOrder(ok) > 250,
        s"order $ok qty mismatch: got ${r.getDouble(5)}, replay ${qtyByOrder(ok)}")
    }

    // q22: every counted customer is above the positive-balance average and
    // placed no order on/after the cutoff
    val custs = graft.Tables.customer(spark, d)
      .select("c_custkey", "c_acctbal", "c_nationkey").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val pos = custs.map(_._2).filter(_ > 0)
    val cutoffDay = spark.sql("SELECT unix_date(DATE'2001-06-01')").head.getInt(0).toLong
    val recent = ords.filter(_._2 >= cutoffDay).map(_._4).toSet
    val expected = custs.filter { case (ck, bal, _) =>
      BigDecimal(bal).setScale(2) * pos.length >
        pos.map(BigDecimal(_).setScale(2)).sum && !recent(ck)
    }
    val expQ22 = expected.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val gotQ22 = Relational.q22IdleBalance(spark, d).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(gotQ22 == expQ22)
  }

  test("q11/q13/q14/q15 family: plan shapes and driver-side replay") {
    val d = sf("lineitem")
    // q11/q15 scalar aggregates attach as one-row broadcasts, never a shuffle
    // (q15's equality-on-scalar plans as BroadcastHashJoin Cross — better
    // still; q11's inequality stays a nested-loop broadcast)
    for ((nm, df) <- Seq("q11" -> Relational.q11TopValue(spark, d),
                         "q15" -> Relational.q15TopSupplier(spark, d))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin") ||
        (p.contains("BroadcastHashJoin") && p.contains("Cross")),
        s"$nm scalar should attach as a one-row broadcast:\n$p")
    }

    // q13: distribution must partition the customer table exactly — bucket
    // counts sum to |customer| and the count-weighted sum replays |orders|
    val custCt = graft.Tables.customer(spark, d).count()
    val orderCt = graft.Tables.orders(spark, d).count()
    val q13 = Relational.q13OrderDist(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(q13.map(_._2).sum == custCt, s"buckets don't cover customers: $q13")
    assert(q13.map { case (oc, cc) => oc * cc }.sum == orderCt,
      s"weighted buckets don't replay order count: $q13")

    // q15: the emitted supplier's revenue replays as the true max over the
    // ship window, recomputed driver-side in exact decimal
    val revBysupp = graft.Tables.lineitem(spark, d)
      .filter("l_shipdate >= '2001-01-01' AND l_shipdate < '2001-04-01'")
      .select("l_suppkey", "l_extendedprice", "l_discount").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        BigDecimal(r.getDouble(1)).setScale(2) *
          (BigDecimal(1).setScale(2) - BigDecimal(r.getDouble(2)).setScale(2))).sum).toMap
    val maxRev = revBysupp.values.max
    val q15 = Relational.q15TopSupplier(spark, d).collect()
    assert(q15.nonEmpty)
    q15.foreach { r =>
      assert(revBysupp(r.getLong(0)) == maxRev,
        s"supplier ${r.getLong(0)} is not the max: ${revBysupp(r.getLong(0))} vs $maxRev")
    }
    assert(q15.map(_.getLong(0)).toSet == revBysupp.filter(_._2 == maxRev).keySet,
      "ties must all surface")

    // q14: one row; promo <= total; share replays from the two sums
    val q14 = Relational.q14PromoShare(spark, d).collect()
    assert(q14.length == 1)
    val (promo, total, share) = (q14(0).getDouble(0), q14(0).getDouble(1), q14(0).getDouble(2))
    assert(promo >= 0 && promo <= total)
    assert(share == promo * 100.0 / total)
  }

  test("q2 argmin aggregate: no Window in the plan; every winner replays as the true min") {
    val d = sf("lineitem")
    val q2 = Relational.q2MinCostSupp(spark, d)
    // min(struct) rendering: an aggregate, never a rank window
    val plan = q2.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"q2 should be an argmin aggregate, not a window:\n$plan")
    val got = q2.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val ps = graft.Tables.lineitem(spark, d)
      .select("l_partkey", "l_suppkey").distinct()
      .as[(Long, Long)].collect()
    val bal = graft.Tables.supplier(spark, d).select("s_suppkey", "s_acctbal").collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDouble(1)).setScale(2)).toMap
    ps.groupBy(_._1).foreach { case (p, grp) =>
      val want = grp.map(_._2).map(s => (bal(s), s)).min // (cost, suppkey) lexicographic
      val (gotS, gotC) = got(p)
      assert(gotS == want._2 && BigDecimal(gotC) == want._1,
        s"part $p: got ($gotS,$gotC) want $want")
    }
    assert(got.keySet == ps.map(_._1).toSet)
  }

  test("a23 equi-depth bins: monotone disjoint ranges, balanced masses, full cover") {
    val d = sf("lineitem")
    val bins = Relational.a23ValueBins(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val totals = graft.Tables.events(spark, d).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    bins.groupBy(_._1).foreach { case (et, bs) =>
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"$et bins not dense")
      // equi-depth: sizes differ by at most 1 (ntile invariant) and cover all rows
      val sizes = sorted.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$et not balanced: ${sizes.toSeq}")
      assert(sizes.sum == totals(et))
      // ranges are monotone: next bin's lo >= previous bin's hi
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 >= a._5, s"$et overlap: $a $b")
        case _ =>
      }
    }
  }

  test("a24 grouping sets: exactly the declared lattice subset, totals reconcile") {
    val d = sf("lineitem")
    val gs = Relational.a24GroupingSets(spark, d)
    // two-level discipline: the Expand must run over an aggregate, not raw rows
    val plan = gs.queryExecution.executedPlan.toString
    val expandIdx = plan.indexOf("Expand")
    assert(expandIdx > 0 && plan.indexOf("HashAggregate", expandIdx) > 0,
      s"no aggregate below the Expand:\n$plan")
    val rows = gs.collect()
      .map(r => ((r.getLong(2), r.getLong(3)), r.getDouble(4), r.getLong(5)))
    // only the three declared sets appear — (flag) alone must NOT
    assert(rows.map(_._1).toSet == Set((0L, 0L), (1L, 0L), (1L, 1L)))
    val grand = rows.filter(_._1 == ((1L, 1L)))
    val byStatus = rows.filter(_._1 == ((1L, 0L)))
    val fine = rows.filter(_._1 == ((0L, 0L)))
    assert(grand.length == 1)
    assert(fine.map(_._3).sum == grand.head._3 && byStatus.map(_._3).sum == grand.head._3)
    assert(math.abs(fine.map(_._2).sum - grand.head._2) < 1e-6)
  }

  test("a22 MAD outliers: median/MAD replay driver-side with the same interpolation") {
    val d = sf("lineitem")
    val got = Relational.a22MadOutliers(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.length - 1)
      val (lo, hi) = (s(pos.toInt), s(math.ceil(pos).toInt))
      lo + (hi - lo) * (pos - math.floor(pos))
    }
    val ev = graft.Tables.events(spark, d).select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    ev.groupBy(_._1).foreach { case (et, grp) =>
      val vs = grp.map(_._2)
      val med = r6(medianOf(vs))
      val devs = vs.map(v => math.abs(v - med))
      val mad = r6(medianOf(devs))
      val outliers = devs.count(_ > mad * 4.4478).toLong
      val (gm, gmad, gct) = got(et)
      assert(gm == med && gmad == mad && gct == outliers,
        s"$et: got ($gm,$gmad,$gct) want ($med,$mad,$outliers)")
    }
  }

  test("q6/q12/q19 scan family: predicates reach the scans, counts replay") {
    val d = sf("lineitem")
    // q6: all three predicates push into the parquet scan
    val q6 = Relational.q6ForecastRevenue(spark, d)
    // assert each predicate INSIDE the pushed set, not mere column mention
    // (column names always appear in ReadSchema/Filter, so a contains-both
    // check is vacuous — the round-7 advice). `toString` truncates the
    // PushedFilters field at 100 chars, so use formatted explain (full list).
    val q6plan = q6.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    for (p <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)"))
      assert(q6plan.contains(p), s"q6 scan must push $p:\n$q6plan")
    val rows = graft.Tables.lineitem(spark, d)
      .select("l_shipdate", "l_discount", "l_quantity", "l_extendedprice").collect()
      .filter { r =>
        val sd = r.getAs[java.time.LocalDateTime](0).toString
        sd >= "1996-01-01" && sd < "1997-01-01" &&
          r.getDouble(1) >= 0.05 && r.getDouble(1) <= 0.07 && r.getDouble(2) < 24
      }
    val wantRev = rows.map(r => BigDecimal(r.getDouble(3)).setScale(2) *
      BigDecimal(r.getDouble(1)).setScale(2)).sum
    val got6 = q6.collect()(0)
    assert(got6.getLong(1) == rows.length && BigDecimal(got6.getDouble(0)) == wantRev)

    // q19: the OR-of-conjuncts is pushed to BOTH scans (each side keeps its
    // local disjuncts), and the residual keeps the cross-side coupling
    val q19 = Relational.q19DisjunctiveRev(spark, d)
    val scans = q19.queryExecution.executedPlan.toString
    assert(scans.contains("Or("), s"q19 scans must carry the pushed disjunction:\n$scans")
    // replay: block membership recomputed driver-side over the joined rows
    val partAttrs = graft.Tables.part(spark, d).select("p_partkey", "p_brand", "p_size")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val joined = graft.Tables.lineitem(spark, d)
      .select("l_partkey", "l_quantity").collect()
      .map(r => (partAttrs(r.getLong(0)), r.getDouble(1)))
    val want19 = joined.count { case ((b, s), q) =>
      (b == "Brand#12" && s >= 1 && s <= 15 && q >= 1 && q <= 11) ||
      (b == "Brand#23" && s >= 1 && s <= 25 && q >= 10 && q <= 20) ||
      (b == "Brand#24" && s >= 1 && s <= 35 && q >= 20 && q <= 30)
    }
    assert(q19.collect()(0).getLong(1) == want19)

    // q12: the two buckets partition the join exactly; high+low = |lineitem|
    // (every line's order exists)
    val q12 = Relational.q12ShipLag(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val lineCt = graft.Tables.lineitem(spark, d).count()
    assert(q12.values.map(p => p._1 + p._2).sum == lineCt,
      s"q12 buckets don't cover lineitem: $q12")
    assert(q12.keySet.subsetOf(Set("FAST", "SLOW")))
  }

  test("q16/q20/q21 existence family: exclusion, dominance, and sole-late replay") {
    val d = sf("lineitem")
    // q16: no excluded (negative-balance) supplier contributes anywhere
    val excluded = graft.Tables.supplier(spark, d)
      .filter("s_acctbal < 0").select("s_suppkey").as[Long].collect().toSet
    val q16 = Relational.q16SupplierCnt(spark, d).collect()
    assert(q16.nonEmpty)
    val lp = graft.Tables.lineitem(spark, d).select("l_partkey", "l_suppkey")
      .as[(Long, Long)].collect()
    val pAttr = graft.Tables.part(spark, d).select("p_partkey", "p_brand", "p_type", "p_size")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getInt(3)))).toMap
    val sizes = Set(3, 9, 14, 19, 23, 36, 45, 49)
    val want16 = lp.filter { case (p, s) =>
        val (b, _, sz) = pAttr(p); b != "Brand#13" && sizes(sz) && !excluded(s)
      }.groupBy { case (p, _) => pAttr(p) }
      .view.mapValues(_.map(_._2).distinct.length.toLong).toMap
    val got16 = q16.map(r =>
      ((r.getString(0), r.getString(1), r.getInt(2)), r.getLong(3))).toMap
    assert(got16 == want16)

    // q20: the dominant set is exactly the suppliers holding >1/6 of some
    // red part's total shipped quantity
    val redParts = graft.Tables.part(spark, d)
      .filter("p_name LIKE 'red%'").select("p_partkey").as[Long].collect().toSet
    val qty = graft.Tables.lineitem(spark, d)
      .select("l_partkey", "l_suppkey", "l_quantity").collect()
      .filter(r => redParts(r.getLong(0)))
      .map(r => ((r.getLong(0), r.getLong(1)), BigDecimal(r.getDouble(2)).setScale(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val totals = qty.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val wantSupp = qty.collect {
      case ((p, s), q) if q * 6 > totals(p) => s
    }.toSet
    val got20 = Relational.q20ExcessSupp(spark, d).collect().map(_.getLong(0)).toSet
    assert(got20 == wantSupp, s"q20: got $got20 want $wantSupp")

    // q21: numwait replays from set semantics (late & other-supplier-exists
    // & no-other-late-supplier), on distinct (order, supplier) pairs
    val orderDates = graft.Tables.orders(spark, d)
      .filter("o_orderstatus = 'F'").select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalDateTime](1)).toMap
    val roster = lp.map { case (_, s) => s }
    val rosterByOrder = graft.Tables.lineitem(spark, d)
      .select("l_orderkey", "l_suppkey").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val late = graft.Tables.lineitem(spark, d)
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .flatMap { r =>
        val ok = r.getLong(0)
        orderDates.get(ok).collect {
          case od if r.getAs[java.time.LocalDateTime](2).isAfter(od.plusDays(45)) =>
            (ok, r.getLong(1))
        }
      }.toSet
    val lateByOrder = late.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val want21 = late.toSeq.filter { case (ok, sk) =>
      (rosterByOrder(ok) - sk).nonEmpty && (lateByOrder(ok) - sk).isEmpty
    }.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val top = want21.toSeq.sortBy { case (sk, n) => (-n, sk) }.take(20).toMap
    val got21 = Relational.q21WaitingSupp(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got21 == top, s"q21: got $got21 want $top")
    assert(roster.nonEmpty) // sanity: the roster actually loaded
  }

  test("a25 lateness profile: running-max recount, buckets partition the corpus") {
    val d = sf("events")
    val got = Relational.a25LatenessProfile(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ev = graft.Tables.events(spark, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tsu")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lates = ev.groupBy(_._1).values.flatMap { grp =>
      var maxSoFar = Long.MinValue
      grp.sortBy(_._2).map { case (_, _, tsu) =>
        val late = if (maxSoFar == Long.MinValue) 0L else math.max(0L, maxSoFar - tsu)
        maxSoFar = math.max(maxSoFar, tsu)
        late
      }
    }.toSeq
    def bucket(l: Long) =
      if (l == 0) "in_order" else if (l < 1000000L) "lt_1s"
      else if (l < 10000000L) "lt_10s" else if (l < 60000000L) "lt_60s" else "ge_60s"
    val want = lates.groupBy(bucket).view
      .mapValues(ls => (ls.size.toLong, ls.max)).toMap
    assert(got == want, s"got $got want $want")
    assert(got.values.map(_._1).sum == ev.length, "buckets partition all events")
  }

  test("a26 value decay: per-user decimal fold replays; decay strictly discounts") {
    val d = sf("events")
    val got = Relational.a26ValueDecay(spark, d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val refUs = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli * 1000L
    val p = graft.Tables.events(spark, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tsu"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = p.groupBy(_._1).view.mapValues { grp =>
      val terms = grp.map { case (_, tsu, v) =>
        r6(v * math.pow(2.0, -((refUs - tsu).toDouble / 2.592e12)))
      }
      // engine order: exact decimal Σ → cast double → round 6
      (grp.length.toLong, r6(terms.sum.toDouble).toDouble)
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (u, (n, dv)) =>
      assert((n, dv) == want(u), s"user $u: got ($n,$dv) want ${want(u)}")
      // every purchase is in the past of the reference: decayed < raw sum
      val raw = p.filter(_._1 == u).map(_._3).sum
      assert(dv < raw, s"user $u decay should discount ($dv vs $raw)")
    }
  }

  test("a27 inter-event gaps: lag recount with the same interpolation") {
    val d = sf("events")
    val got = Relational.a27InterEventGaps(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pct(xs: Array[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val (lo, hi) = (s(pos.toInt), s(math.ceil(pos).toInt))
      lo + (hi - lo) * (pos - math.floor(pos))
    }
    val ev = graft.Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tsu")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = ev.groupBy(_._1).values.flatMap { grp =>
      val ordered = grp.sortBy(e => (e._4, e._3)) // ts, then event_id
      ordered.sliding(2).collect { case Array(a, b) =>
        (b._2, (b._4 - a._4).toDouble / 1e6)
      }
    }.toSeq
    val want = gaps.groupBy(_._1).view.mapValues { g =>
      val xs = g.map(_._2).toArray
      (xs.length.toLong, r6(pct(xs, 0.5)), r6(pct(xs, 0.95)))
    }.toMap
    assert(got == want, s"got $got\nwant $want")
  }

  test("a30 CUSUM changepoint: integer-exact scan replay; cum zeroes out at the end") {
    val d = sf("events")
    val Array(row) = Relational.a30CusumChange(spark, d).collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val days = graft.Tables.events(spark, d)
      .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")).collect()
      .map(_.getLong(0))
    val counts = days.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val grid = (days.min to days.max).map(h => h -> counts.getOrElse(h, 0L))
    val n = BigInt(grid.length); val s = BigInt(grid.map(_._2).sum)
    var cum = BigInt(0)
    val cums = grid.map { case (day, x) => cum += n * x - s; (day, cum) }
    // the full-series CUSUM is telescopically zero — grid sanity
    assert(cums.last._2 == 0)
    val (cd, best) = cums.maxBy { case (day, c) => (c.abs, -day) }
    assert(row.getLong(0) == cd && row.getLong(1) == best.toLong &&
      row.getLong(2) == grid.length.toLong)
    val before = grid.filter(_._1 <= cd).map(_._2)
    val after = grid.filter(_._1 > cd).map(_._2)
    assert(row.getDouble(3) == r6(before.sum.toDouble / before.length))
    assert(row.getDouble(4) == r6(after.sum.toDouble / after.length))
  }

  test("a31 dow profile: integer calendar + robust cells replay; full 168-cell cover") {
    val d = sf("events")
    val got = Relational.a31DowProfile(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(got.keySet == (for (w <- 0L to 6L; h <- 0L to 23L) yield (w, h)).toSet,
      "profile must cover all 168 calendar cells")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pct(xs: Array[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val (lo, hi) = (s(pos.toInt), s(math.ceil(pos).toInt))
      lo + (hi - lo) * (pos - math.floor(pos))
    }
    val hours = graft.Tables.events(spark, d)
      .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000")).collect()
      .map(_.getLong(0))
    val counts = hours.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val grid = (hours.min to hours.max)
      .map(h => ((h / 24 + 3) % 7, h % 24, counts.getOrElse(h, 0L).toDouble))
    grid.groupBy(t => (t._1, t._2)).foreach { case (cell, g) =>
      val xs = g.map(_._3).toArray
      val med = r6(pct(xs, 0.5))
      val devs = xs.map(x => math.abs(x - med))
      val mad = r6(pct(devs, 0.5))
      val anom = devs.count(_ > mad * 4.4478).toLong
      assert(got(cell) == ((xs.length.toLong, med, mad, anom)),
        s"cell $cell: got ${got(cell)} want (${xs.length}, $med, $mad, $anom)")
    }
    // the calendar anchor: 1970-01-01 (h=0..23) is dow 3 under this map —
    // Thursday with Monday=0; a shifted anchor would scramble every cell
    assert(((0L / 24 + 3) % 7) == 3L)
  }

  test("a29 winsorized stats: cuts, clamps, and decimal means replay driver-side") {
    val d = sf("events")
    val got = Relational.a29WinsorizedStats(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pct(xs: Array[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val (lo, hi) = (s(pos.toInt), s(math.ceil(pos).toInt))
      lo + (hi - lo) * (pos - math.floor(pos))
    }
    def dmean(xs: Seq[Double]) = r6(
      xs.map(v => BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / xs.length)
    val ev = graft.Tables.events(spark, d).select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val want = ev.groupBy(_._1).view.mapValues { g =>
      val xs = g.map(_._2)
      val (p01, p99) = (r6(pct(xs, 0.01)), r6(pct(xs, 0.99)))
      val wv = xs.map(v => math.max(math.min(v, p99), p01))
      (xs.length.toLong, p01, p99, dmean(xs.toSeq), dmean(wv.toSeq),
        xs.count(v => v < p01 || v > p99).toLong)
    }.toMap
    assert(got == want, s"got $got\nwant $want")
    // the clamp must bite somewhere: clipped rows exist and shift a mean
    assert(got.values.exists(_._6 > 0))
    assert(got.values.exists(t => t._4 != t._5), "winsorizing changed no mean")
  }

  test("a28 hourly ACF: integer-exact recount on the gap-filled grid, all 24 lags") {
    val d = sf("events")
    val got = Relational.a28HourlyAcf(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == (1L to 24L).toSet)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val hours = graft.Tables.events(spark, d)
      .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000")).collect()
      .map(_.getLong(0))
    val counts = hours.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val grid = (hours.min to hours.max).map(h => counts.getOrElse(h, 0L))
    val n = BigInt(grid.length); val s = BigInt(grid.sum)
    val c = grid.map(x => n * x - s)
    val den = c.map(v => v * v).sum
    (1 to 24).foreach { k =>
      val num = (0 until grid.length - k).map(t => c(t) * c(t + k)).sum
      val want = r6(num.toDouble / den.toDouble)
      assert(got(k.toLong) == want, s"lag $k: got ${got(k.toLong)} want $want")
    }
    // estimator invariants: |r_k| <= 1 (Cauchy-Schwarz) and a nonzero
    // denominator (the series is not constant). The synthetic corpus is
    // near-memoryless (all |r_k| ~ 0.03 at sf0.001) — the exact-replay
    // equality above is the correctness gate; a seasonality ASSUMPTION
    // would be asserting a property the data doesn't have.
    assert(den > 0)
    got.values.foreach(a => assert(a >= -1.0 && a <= 1.0))
  }

  test("hashed features: buckets bounded, per-doc mass equals token count") {
    val d = sf("documents")
    val got = graft.pipeline.TextPipeline.hashedFeatures(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (_, b, n) => b >= 0 && b < 64 && n > 0 })
    // (doc, bucket) keys unique; per-doc Σn == whitespace token count
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length)
    val docs = graft.Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("\\s+").count(_.nonEmpty).toLong)
      .toMap
    val mass = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(mass == docs.filter(_._2 > 0), "per-doc hashed mass == token count")
    // engine-portable bucket rule: md5-prefix mod 64, recounted for one doc
    val one = graft.Tables.documents(spark, d).select("doc_id", "text").collect().head
    val toks = one.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def b(tok: String): Long = {
      val hex = md.digest(tok.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val wantOne = toks.groupBy(b).view.mapValues(_.length.toLong).toMap
    val gotOne = got.filter(_._1 == one.getLong(0)).map(t => t._2 -> t._3).toMap
    assert(gotOne == wantOne, s"doc ${one.getLong(0)} bucket recount")
  }
}
