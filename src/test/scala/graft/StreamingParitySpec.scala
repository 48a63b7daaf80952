package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.LogPipeline
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

case class LSide(l_key: Long, l_ts: Timestamp)
case class RSide(r_key: Long, r_ts: Timestamp)
case class DocEv(ts: Timestamp, lang: String, text: String)
case class Doc(doc_id: Long, source: String, lang: String, text: String)
case class DocTs(doc_id: Long, text: String, ts: Timestamp)

/** Stream-batch parity: each stateful streaming rendering must produce the
  * same rows as its batch oracle on the same input (SURVEY §5.2).
  */
class StreamingParitySpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Fixture: 3 users exercising matched/interrupted/timeout paths. */
  private val fixture = Seq(
    Event(1, ts("2024-01-01 00:00:00"), 1, "view", 1.0),
    Event(2, ts("2024-01-01 00:01:00"), 1, "view", 2.0),   // matched bounce for #1
    Event(3, ts("2024-01-01 00:00:00"), 2, "view", 3.0),
    Event(4, ts("2024-01-01 00:02:00"), 2, "click", 4.0),  // interrupts: no bounce
    Event(5, ts("2024-01-01 00:00:30"), 3, "view", 5.0),   // timeout bounce
    Event(6, ts("2024-01-01 00:20:00"), 1, "signup", 6.0),
    Event(7, ts("2024-01-01 00:21:00"), 2, "view", 7.0))   // timeout bounce (stream end)

  /** Far-future flush events so event-time timers/windows fire at end of
    * stream (two rounds: watermark advances in batch N, timers fire in N+1).
    */
  private val flush1 = Event(9001, ts("2024-01-02 00:00:00"), -1, "flush", 0.0)
  private val flush2 = Event(9002, ts("2024-01-03 00:00:00"), -1, "flush", 0.0)

  private def runStream[T](chunks: Seq[Seq[Event]], mode: String)(
      build: DataFrame => DataFrame): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val name = s"paritysink${System.nanoTime()}"
    val out = build(input.toDF())
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      chunks.foreach { c => input.addData(c); query.processAllAvailable() }
    } finally query.stop()
    spark.table(name).collect().toSeq
  }

  test("ST1 parity: streaming ValueState first-event == batch row_number oracle") {
    val batch = LogPipeline.st1Transform(fixture.toDF())
      .as[(Long, Long, Long)].collect().toSet
    val got = runStream(Seq(fixture.take(4), fixture.drop(4)), "update") { df =>
      StreamOps.st1IsNewFix(df.as[Event]).toDF()
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch)
  }

  test("J4 parity: streaming CEP state machine == batch lead() oracle") {
    val batch = LogPipeline.j4Transform(fixture.toDF())
      .select("event_id").as[Long].collect().toSet
    // chunks must not regress in event time: a watermarked stream drops
    // late rows (correct engine semantics; the batch oracle sees everything)
    val got = runStream(Seq(fixture.take(5), fixture.drop(5), Seq(flush1), Seq(flush2)), "append") { df =>
      StreamOps.j4BounceDetect(
        df.withWatermark("ts", "0 seconds")
          .as[Event].filter(_.user_id >= 0)).toDF()
    }.map(_.getLong(0)).toSet
    assert(got == batch)
  }

  test("lateness monitor parity: transformWithState high-water mark == batch a25 definition") {
    // real corpus slice, fed strictly in ingest (event_id) order — plus
    // three planted regressions (the sf corpus arrives in-order by
    // event_id, so the monitor needs injected disorder to show nonzero)
    val real = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.event_id).take(300).toSeq
    val lateUsers = real.map(_.user_id).distinct.take(3)
    val planted = lateUsers.zipWithIndex.map { case (u, i) =>
      val anchor = real.filter(_.user_id == u).maxBy(_.event_id)
      Event(1000000L + i, new java.sql.Timestamp(anchor.ts.getTime - (i + 1) * 7000L),
        u, "late_probe", 0.0)
    }
    val evs = real ++ planted // ids past the slice: arrive last, behind the mark
    // batch truth: per-user running max of event-time in ingest order
    def micros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val want = evs.groupBy(_.user_id).values.flatMap { grp =>
      var maxSoFar = Long.MinValue
      grp.sortBy(_.event_id).map { e =>
        val tsu = micros(e.ts)
        val late = if (maxSoFar == Long.MinValue) 0L else math.max(0L, maxSoFar - tsu)
        maxSoFar = math.max(maxSoFar, tsu)
        (e.event_id, e.user_id, late)
      }
    }.toSet
    val got = runStream(Seq(evs.take(150), evs.drop(150)), "update") { df =>
      StreamOps.a25LatenessMonitor(df.as[Event]).toDF()
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // the monitor actually observes disorder in this corpus
    assert(got.exists(_._3 > 0L), "test slice has no late events — weak fixture")
  }

  test("CUSUM parity: streaming Page recursion == exact driver fold; alarms fire and reset") {
    val d = "/root/testdata/sf0.001"
    val (mu0, slack, h) = (50.0, 5.0, 300.0)
    val evs = graft.Tables.events(spark, d)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.event_id).toSeq
    val halves = Seq(evs.take(evs.size / 2), evs.drop(evs.size / 2))
    val got = runStream(halves, "update") { df =>
      StreamOps.a30CusumAlarms(df.as[Event], mu0, slack, h).toDF()
    }.map(r => (r.getLong(0), r.getString(1), r.getDouble(3), r.getDouble(4), r.getLong(5)))
    // exact replay: per type, each half in (tsu, event_id) order (the
    // operator's within-batch contract), identical double recursion
    def tsu(e: Event) = math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double, Double, Long)]
    val st = scala.collection.mutable.Map.empty[String, (Double, Double)]
    halves.foreach { half =>
      half.groupBy(_.event_type).toSeq.flatMap { case (t, g) =>
        g.sortBy(e => (tsu(e), e.event_id)).map(t -> _) }.foreach { case (t, e) =>
        val (sp, sn) = st.getOrElse(t, (0.0, 0.0))
        val spN = math.max(0.0, sp + (e.value - mu0 - slack))
        val snN = math.max(0.0, sn + (mu0 - slack - e.value))
        val alarm = spN > h || snN > h
        st(t) = if (alarm) (0.0, 0.0) else (spN, snN)
        want += ((e.event_id, t, spN, snN, if (alarm) 1L else 0L))
      }
    }
    assert(got.length == evs.length)
    assert(got.toSet == want.toSet,
      s"recursion diverged: extra=${got.toSet -- want.toSet}")
    // bite: the drift alarm must actually fire on this corpus, and the
    // post-alarm reset must show a row whose cusum restarts below h
    val alarms = want.filter(_._5 == 1L)
    assert(alarms.nonEmpty, "no alarm fired — thresholds vacuous for this data")
    val perType = want.groupBy(_._2)
    assert(alarms.exists { a =>
      perType(a._2).exists(r => r._1 > a._1 && r._3 <= h && r._4 <= h)
    }, "no post-alarm continuation observed")
  }

  test("decay parity: forward-decayed running value folds to the batch a26 figure") {
    val d = "/root/testdata/sf0.001"
    val purchases = graft.Tables.events(spark, d)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().filter(_.event_type == "purchase")
      .sortBy(_.event_id).toSeq
    val rows = runStream(Seq(purchases.take(purchases.size / 2),
      purchases.drop(purchases.size / 2)), "update") { df =>
      StreamOps.a26DecayedValue(df.as[Event]).toDF()
    }.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the LAST emission per user, forward-decayed to the fixed reference,
    // must equal the batch Σ value·2^(−(ref−tᵢ)/hl) (float tolerance: the
    // batch folds 6dp-rounded decimal terms, the stream multiplies
    // incrementally)
    val refUs = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli * 1000L
    val hlUs = 30.0 * 86400e6
    val finalPerUser = rows.groupBy(_._1).view
      .mapValues(_.maxBy(_._2)).toMap
    val batch = graft.operators.Relational.a26ValueDecay(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(finalPerUser.keySet == batch.keySet)
    // and the stream emitted exactly one row per purchase
    assert(rows.length == purchases.length)
    finalPerUser.foreach { case (u, (_, tsu, v)) =>
      val folded = v * math.pow(2.0, -((refUs - tsu).toDouble / hlUs))
      val want = batch(u)._2
      assert(math.abs(folded - want) <= 1e-3 + 1e-6 * math.abs(want),
        s"user $u folded $folded vs batch $want")
    }
  }

  test("SCD2 parity: streaming open/close state == batch lead() closed intervals") {
    import spark.implicits._
    // upserts and deletes interleaved; user 1 ends open, user 2 ends deleted
    val fx = Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 00:10:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 00:20:00"), 1, "error", 0.0),    // delete closes v2
      Event(4, ts("2024-01-01 00:30:00"), 1, "purchase", 3.0), // v3 reopens, stays open
      Event(5, ts("2024-01-01 00:00:00"), 2, "view", 5.0),
      Event(6, ts("2024-01-01 00:05:00"), 2, "error", 0.0))    // closes v1, no reopen
    def batchClosed(ev: org.apache.spark.sql.DataFrame) =
      graft.operators.LogPipeline.scd2Transform(ev)
        .filter(col("valid_to_ts").isNotNull)
        .select(col("user_id"), col("version"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
          date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss"))
        .as[(Long, Long, Double, String, String)].collect().toSet
    val batch = batchClosed(fx.toDF())
    val got = runStream(Seq(fx.take(3), fx.drop(3)), "update") { df =>
      StreamOps.scd2History(df.as[Event]).toDF()
    }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getString(3), r.getString(4))).toSet
    assert(got == batch, s"\n stream-only=${got -- batch}\n batch-only=${batch -- got}")
    // the open intervals are exactly the batch is_current rows (in state,
    // never emitted): closed = all versions minus per-user open tail
    assert(got.size == 3 && !got.exists(r => r._1 == 1L && r._2 == 3L))
    // and on the full sf0.001 events fixture, chunked in event-time order
    val evDf = graft.Tables.events(spark, sf("events"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val all = evDf.as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val chunks = all.grouped((all.size / 3).max(1)).toSeq
    val gotReal = runStream(chunks, "update") { df =>
      StreamOps.scd2History(df.as[Event]).toDF()
    }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getString(3), r.getString(4))).toSet
    assert(gotReal == batchClosed(evDf))
  }

  test("A6 parity: streaming session windows finalize to the batch gap-and-islands result") {
    import spark.implicits._
    val evDf = graft.Tables.events(spark, sf("events"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val batch = graft.operators.LogPipeline.a6SessionTransform(evDf)
      .as[(String, Long, Long, Double)].collect().toSet
    val all = evDf.as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    // two far-future sentinels advance the watermark past every real
    // session (append mode only emits FINALIZED sessions); the second
    // sentinel triggers the batch in which the advanced watermark flushes
    val sentinels = Seq(
      Event(9000001L, ts("2099-01-01 00:00:00"), 999999L, "view", 0.0),
      Event(9000002L, ts("2099-01-01 00:00:01"), 999999L, "view", 0.0))
    val got = runStream(Seq(all, Seq(sentinels.head), Seq(sentinels.last)), "append") { df =>
      StreamOps.a6SessionWindows(df)
    }.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter(_._2 != 999999L).toSet
    assert(got == batch, s"\n stream-only=${(got -- batch).take(5)}\n batch-only=${(batch -- got).take(5)}")
  }

  test("A13 parity: streaming funnel transitions reach the batch stage counts") {
    import spark.implicits._
    // user 1 full funnel; user 2's click precedes its view (never arms);
    // user 3 purchases without clicking (stuck at stage 1)
    val fx = Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "view", 0),
      Event(2, ts("2024-01-01 00:01:00"), 1, "click", 0),
      Event(3, ts("2024-01-01 00:02:00"), 1, "purchase", 0),
      Event(4, ts("2024-01-01 00:00:00"), 2, "click", 0),
      Event(5, ts("2024-01-01 00:01:00"), 2, "view", 0),
      Event(6, ts("2024-01-01 00:00:00"), 3, "view", 0),
      Event(7, ts("2024-01-01 00:01:00"), 3, "purchase", 0))
    val got = runStream(Seq(fx.take(4), fx.drop(4)), "update") { df =>
      StreamOps.a13FunnelStages(df.as[Event]).toDF()
    }.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(
      (1L, 1, "2024-01-01 00:00:00"), (1L, 2, "2024-01-01 00:01:00"),
      (1L, 3, "2024-01-01 00:02:00"), (2L, 1, "2024-01-01 00:01:00"),
      (3L, 1, "2024-01-01 00:00:00")))
    // full sf0.001 log: per-stage transition counts == the batch funnel row
    val evDf = graft.Tables.events(spark, sf("events"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val all = evDf.as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val trans = runStream(all.grouped((all.size / 3).max(1)).toSeq, "update") { df =>
      StreamOps.a13FunnelStages(df.as[Event]).toDF()
    }
    val byStage = trans.groupBy(_.getInt(1)).view.mapValues(_.size.toLong).toMap
    val batchRow = graft.operators.LogPipeline.a13EventFunnel(spark, sf("events"))
      .collect().head
    assert(byStage.getOrElse(1, 0L) == batchRow.getLong(0) &&
      byStage.getOrElse(2, 0L) == batchRow.getLong(1) &&
      byStage.getOrElse(3, 0L) == batchRow.getLong(2),
      s"stream $byStage vs batch ${batchRow.toSeq}")
  }

  test("A14 parity: streaming cohort increments assemble the batch retention matrix") {
    import spark.implicits._
    val evDf = graft.Tables.events(spark, sf("events"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val batch = graft.operators.LogPipeline.a14CohortRetention(spark, sf("events"))
      .as[(String, Long, Long)].collect()
      .map { case (cd, off, n) => (cd, off) -> n }.toMap
    val all = evDf.as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val inc = runStream(all.grouped((all.size / 3).max(1)).toSeq, "update") { df =>
      StreamOps.a14CohortIncrements(df.as[Event]).toDF()
    }.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exactly-once per (user, offset): no duplicate increments
    assert(inc.distinct.size == inc.size, "duplicate retention increment")
    val got = inc.groupBy(r => (r._1, r._2)).view.mapValues(_.size.toLong).toMap
    assert(got == batch,
      s"\n stream-only=${(got.toSet -- batch.toSet).take(5)}\n batch-only=${(batch.toSet -- got.toSet).take(5)}")
  }

  test("A16 parity: streaming credit stream sums to the batch attribution rollup") {
    import spark.implicits._
    val evDf = graft.Tables.events(spark, sf("events"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val batch = graft.operators.LogPipeline.a16AttributionTransform(evDf)
      .select(col("channel"), col("purchases"),
        // keep the exact decimal until the compare: per-credit doubles
        // summed driver-side must match to the cent, not to double noise
        (col("revenue") * 100).cast("long").as("cents"))
      .as[(String, Long, Long)].collect()
      .map { case (ch, n, c) => ch -> ((n, c)) }.toMap
    val all = evDf.as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val credits = runStream(all.grouped((all.size / 3).max(1)).toSeq, "update") { df =>
      StreamOps.a16AttributionCredits(df.as[Event]).toDF()
    }.map(r => (r.getString(1), BigDecimal(r.getDouble(2)).setScale(2)))
    val got = credits.groupBy(_._1).map { case (ch, cs) =>
      ch -> ((cs.size.toLong, (cs.map(_._2).sum * 100).toLong))
    }
    assert(got == batch, s"\n got=$got\n batch=$batch")
  }

  test("A20 parity: streaming transition rows re-aggregate to the batch matrix") {
    import spark.implicits._
    val evDf = graft.Tables.events(spark, sf("events"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val batch = graft.operators.LogPipeline.a20TransitionTransform(evDf)
      .select(col("prev_event"), col("next_event"), col("pair_ct"))
      .as[(String, String, Long)].collect()
      .map { case (p, n, c) => (p, n) -> c }.toMap
    // event-time-ordered chunks: the CDC/source contract the state twin
    // documents (cross-batch order must follow event time)
    val all = evDf.as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val rows = runStream(all.grouped((all.size / 3).max(1)).toSeq, "update") { df =>
      StreamOps.a20Transitions(df.as[Event]).toDF()
    }
    val got = rows.groupBy(r => (r.getString(1), r.getString(2))).view
      .mapValues(_.size.toLong).toMap
    assert(got == batch, s"sizes: got=${got.size} batch=${batch.size}")
  }

  test("KMV parity: streaming bottom-k state converges to the batch sketch estimate") {
    import spark.implicits._
    val evDf = graft.Tables.events(spark, sf("events"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val batch = graft.pipeline.Sketches.kmvDistinct(spark, sf("events"))
      .select(col("event_type"), col("kmv_est"))
      .as[(String, Double)].collect().toMap
    // arrival order deliberately ARBITRARY (insertion order of the table):
    // bottom-k of a union is order-free, so parity must hold regardless
    val all = evDf.as[Event].collect().toSeq
    val rows = runStream(all.grouped((all.size / 4).max(1)).toSeq, "update") { df =>
      StreamOps.kmvDistinct(df.as[Event]).toDF()
    }
    val finalEst = rows.zipWithIndex.groupBy(_._1.getString(0)).view
      .mapValues(_.maxBy(_._2)._1.getDouble(1)).toMap
    assert(finalEst == batch, s"\n got=$finalEst\n batch=$batch")
  }

  test("J6 parity: streaming as-of state == batch union-window rendering") {
    // fixture with views preceding clicks across users; reuse Event shape
    val asofFx = Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "view", 0),
      Event(2, ts("2024-01-01 00:05:00"), 1, "view", 0),
      Event(3, ts("2024-01-01 00:06:00"), 1, "click", 0), // → view 2
      Event(4, ts("2024-01-01 00:07:00"), 1, "click", 0), // → view 2
      Event(5, ts("2024-01-01 00:08:00"), 2, "view", 0),
      Event(6, ts("2024-01-01 00:08:00"), 2, "click", 0), // equal ts → view 5
      Event(7, ts("2024-01-01 00:01:00"), 3, "click", 0)) // no prior view
    val got = runStream(Seq(asofFx.take(3), asofFx.drop(3)), "update") { df =>
      StreamOps.j6AsofJoin(df.as[Event]).toDF()
    }.map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got == Set((3L, 2L), (4L, 2L), (6L, 5L)))
  }

  test("ST2 parity: watermarked dropDuplicates == batch distinct") {
    val batch = fixture.map(e => (e.user_id, e.ts.toString.take(10))).toSet
    val got = runStream(Seq(fixture.take(3), fixture.drop(3)), "append") { df =>
      StreamOps.st2DedupedVisits(df).select("user_id", "dt")
    }.map(r => (r.getLong(0), r.get(1).toString)).toSet
    assert(got == batch)
  }

  test("A1 parity: streaming windowed agg == batch windowed agg") {
    // flush events are part of the input on BOTH sides: filtering them out
    // post-agg on the stream side gets pushed below the watermark node by
    // Catalyst, which would stop the watermark from ever advancing
    val batch = LogPipeline.a1Transform((fixture ++ Seq(flush1, flush2)).toDF())
      .collect().map(_.toSeq).toSet
    val got = runStream(Seq(fixture.take(5), fixture.drop(5), Seq(flush1), Seq(flush2)), "append") { df =>
      StreamOps.a1WindowedStats(df)
    }.map(_.toSeq).toSet
    // the final flush window can't emit (nothing advances the watermark past
    // it) — parity modulo windows still open at end-of-stream
    val openWindow = flush2.ts.toString.take(19)
    assert(got == batch.filterNot(_.head.toString >= openWindow.take(16)))
  }

  test("A4 parity: streaming windowed keyword counts == batch explode+agg") {
    val docs = Seq(
      DocEv(ts("2024-01-01 00:00:01"), "en", "the cat sat on the mat"),
      DocEv(ts("2024-01-01 00:00:03"), "en", "the dog"),
      DocEv(ts("2024-01-01 00:00:12"), "es", "el gato duerme"),
      DocEv(ts("2024-01-01 00:00:15"), "en", "the cat"))
    val flushes = Seq(
      DocEv(ts("2024-01-02 00:00:00"), "zz", "flushtoken"),
      DocEv(ts("2024-01-03 00:00:00"), "zz", "flushtoken"))
    // batch oracle: same transform sans watermark, flush rows included (a
    // pre-watermark filter would stop the watermark from ever advancing —
    // flush windows are excluded from the comparison instead)
    val batch = StreamOps.a4KeywordStats((docs ++ flushes).toDF())
      .collect().map(_.toSeq).toSet
      .filterNot(_(2) == "zz")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[DocEv]
    val name = s"a4sink${System.nanoTime()}"
    val q = StreamOps.a4KeywordStats(input.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(docs.take(2)); q.processAllAvailable()
      input.addData(docs.drop(2)); q.processAllAvailable()
      flushes.foreach { f => input.addData(Seq(f)); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table(name).collect().map(_.toSeq).toSet.filterNot(_(2) == "zz")
    assert(got == batch)
  }

  test("corpus-ingest dedup parity: streaming first-arrival == batch exact, one row per fingerprint") {
    val docs = Seq(
      Doc(1, "web", "en", "the quick brown fox"),
      Doc(2, "web", "en", "THE  QUICK brown   fox"), // same fp after normalization
      Doc(3, "web", "en", "a different document"),
      Doc(4, "book", "en", "the quick brown fox"),   // same text again
      Doc(5, "web", "en", "a different document"))
    // batch truth: Dedup.exact over the same rows → distinct fingerprints
    val tmp = java.nio.file.Files.createTempDirectory("sdedup").toString
    docs.toDF().write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val batchFps = graft.pipeline.Dedup.exact(spark, tmp)
      .select("fp").as[String].collect().toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Doc]
    val name = s"dedupsink${System.nanoTime()}"
    val q = StreamOps.streamingExactDedup(input.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(docs.take(3)); q.processAllAvailable()
      input.addData(docs.drop(3)); q.processAllAvailable() // replays across batches suppressed
    } finally q.stop()
    val got = spark.table(name).collect()
    assert(got.map(_.getAs[String]("fp")).toSet == batchFps, "same distinct-fingerprint set")
    assert(got.length == batchFps.size, "exactly one surviving doc per fingerprint")
    // earliest BATCH wins (the contract): the quick-fox fp's survivor is a
    // batch-1 row (1 or 2 — intra-batch pick is arbitrary), never batch-2's
    // doc 4; "a different document" appeared in batch 1 only as doc 3.
    val byFp = got.map(r => r.getAs[String]("fp") -> r.getAs[Long]("doc_id")).toMap
    val foxFp = got.collect { case r if Set(1L, 2L, 4L)(r.getAs[Long]("doc_id")) => r.getAs[String]("fp") }.head
    assert(Set(1L, 2L)(byFp(foxFp)), "batch-1 arrival survives, batch-2 replay suppressed")
    assert(byFp(batchFps.find(_ != foxFp).get) == 3L, "doc 3 (batch 1) beats doc 5 (batch 2)")
  }

  test("streaming near-dup pairs parity: multi-batch LSH stream == batch minhashLsh pair set") {
    // real corpus slice so band collisions and near-dup pairs are genuine
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 150)
      .select("doc_id", "source", "lang", "text").as[Doc].collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("sneardup").toString
    corpus.toDF().write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val batch = graft.pipeline.Dedup.minhashLsh(spark, tmp)
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty, "corpus slice must contain near-dup pairs")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Doc]
    val name = s"ndsink${System.nanoTime()}"
    val q = StreamOps.streamingNearDupPairs(input.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      // three arrival waves: pairs must span batches AND within-batch
      input.addData(corpus.take(50)); q.processAllAvailable()
      input.addData(corpus.slice(50, 100)); q.processAllAvailable()
      input.addData(corpus.drop(100)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name)
      .as[(Long, Long, Double)].collect()
    // exactly-once: the first-shared-band convention emits no duplicates
    assert(got.length == got.toSet.size, "duplicate pair emissions")
    assert(got.toSet == batch, s"stream ${got.length} pairs != batch ${batch.size}")
  }

  test("streaming column-profile parity: the live monitor converges to the batch profile") {
    val cols = Seq("doc_id", "lang", "n_chars")
    val rows = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 120)
      .select("doc_id", "source", "lang", "text").as[Doc].collect().toSeq
      .map(r => (r.doc_id, r.lang, r.text.length.toLong))
    val asDf = rows.toDF("doc_id", "lang", "n_chars")
    val batch = graft.operators.Layout.profileStats(asDf, cols)
      .as[(String, Long, Long, String, String)].collect().toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val name = s"profsink${System.nanoTime()}"
    val q = graft.operators.Layout.profileStats(
        input.toDF().toDF("doc_id", "lang", "n_chars"), cols)
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      input.addData(rows.take(50)); q.processAllAvailable()
      input.addData(rows.drop(50)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name)
      .as[(String, Long, Long, String, String)].collect().toSet
    assert(got == batch, s"streamed profile $got != batch $batch")
  }

  test("streaming expectations parity: the live rule monitor converges to the batch report") {
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "events.value.nonnull" -> col("value").isNull,
      "events.value.max_50" -> (col("value") > 50.0),
      "events.event_type.known" -> !col("event_type").isin("view", "click", "purchase"))
    val rows = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_id") < 400)
      .select(col("event_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect().toSeq
    val batch = graft.operators.Layout.expectationStats(
        rows.toDF("event_id", "event_type", "value"), rules)
      .as[(String, Long, Long)].collect().toSet
    // the fixture must exercise both outcomes
    assert(batch.exists(_._2 > 0) && batch.exists(_._2 == 0))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val name = s"expsink${System.nanoTime()}"
    val q = graft.operators.Layout.expectationStats(
        input.toDF().toDF("event_id", "event_type", "value"), rules)
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      input.addData(rows.take(150)); q.processAllAvailable()
      input.addData(rows.drop(150)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).as[(String, Long, Long)].collect().toSet
    assert(got == batch, s"streamed expectations $got != batch $batch")
  }

  test("streaming CMS cells parity: micro-batch partials merge to the batch sketch") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 100)
      .select("doc_id", "source", "lang", "text").as[Doc].collect().toSeq
    val batch = graft.pipeline.TextPipeline.cmsCells(corpus.toDF())
      .as[(Int, Long, Long)].collect().toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Doc]
    val name = s"cmssink${System.nanoTime()}"
    val q = graft.pipeline.TextPipeline.cmsCells(input.toDF()).writeStream
      .format("memory").queryName(name).outputMode("complete").start()
    try {
      input.addData(corpus.take(40)); q.processAllAvailable()
      input.addData(corpus.drop(40)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).as[(Int, Long, Long)].collect().toSet
    assert(got == batch, s"streamed cells ${got.size} != batch ${batch.size}")
    // the sketch really is d x w bounded
    assert(got.map(c => (c._1, c._2)).size == got.size)
    assert(got.forall { case (j, b, _) => j >= 0 && j < 4 && b >= 0 && b < 1024 })
  }

  test("corpus-ingest dedup with watermark TTL: in-window dups suppressed under out-of-order replay, state bounded") {
    // DocTs rows carry ingest time; watermark 10 minutes.
    val t0 = ts("2024-01-01 00:00:00")
    def at(mins: Int) = new java.sql.Timestamp(t0.getTime + mins * 60000L)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[DocTs]
    val name = s"ttlsink${System.nanoTime()}"
    val q = StreamOps.streamingExactDedupTtl(input.toDF(), "ts", "10 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // batch 1: original + an OUT-OF-ORDER in-window duplicate (earlier ts)
      input.addData(Seq(
        DocTs(1, "alpha beta", at(5)),
        DocTs(2, "alpha  BETA", at(2)),   // same fp, out of order, in window
        DocTs(3, "gamma delta", at(5))))
      q.processAllAvailable()
      // batch 2: replay inside the window → suppressed by state
      input.addData(Seq(DocTs(4, "alpha beta", at(8))))
      q.processAllAvailable()
      // batch 3: advance watermark far past the fps' ts → state evicted
      input.addData(Seq(DocTs(5, "watermark pusher", at(60))))
      q.processAllAvailable()
      // batch 4: same text AFTER eviction → re-admitted (the documented trade)
      input.addData(Seq(DocTs(6, "alpha beta", at(55))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect()
    val fox = got.filter(r => Set(1L, 2L, 4L, 6L)(r.getAs[Long]("doc_id")))
    // exactly one in-window survivor (1 or 2; intra-batch pick arbitrary)
    // plus the post-eviction re-admission of doc 6
    assert(fox.map(_.getAs[Long]("doc_id")).toSet.intersect(Set(1L, 2L)).size == 1)
    assert(!fox.map(_.getAs[Long]("doc_id")).contains(4L), "in-window replay suppressed")
    assert(fox.map(_.getAs[Long]("doc_id")).contains(6L), "post-TTL duplicate re-admitted")
    assert(got.map(_.getAs[Long]("doc_id")).toSet.contains(3L))
  }

  test("J1 parity: stream-stream interval join == batch range join") {
    val ls = Seq(LSide(1, ts("2024-01-01 00:00:10")), LSide(2, ts("2024-01-01 00:00:20")))
    val rs = Seq(
      RSide(1, ts("2024-01-01 00:00:12")), // +2s: in [-5, +5]
      RSide(1, ts("2024-01-01 00:00:30")), // +20s: out
      RSide(2, ts("2024-01-01 00:00:16")), // -4s: in
      RSide(3, ts("2024-01-01 00:00:20"))) // no key
    val batch = ls.toDF().join(rs.toDF(),
      expr("l_key = r_key AND r_ts BETWEEN l_ts - INTERVAL 5 seconds AND l_ts + INTERVAL 5 seconds"))
      .select("l_key", "r_ts").collect().map(_.toSeq).toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[LSide]
    val rIn = MemoryStream[RSide]
    val joined = StreamOps.j1IntervalJoin(lIn.toDF(), rIn.toDF())
    val name = s"j1sink${System.nanoTime()}"
    val q = joined.select("l_key", "r_ts").writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      lIn.addData(ls); rIn.addData(rs); q.processAllAvailable()
      // flush watermark so all matches emit
      lIn.addData(LSide(-9, ts("2024-01-02 00:00:00")))
      rIn.addData(RSide(-9, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      lIn.addData(LSide(-8, ts("2024-01-03 00:00:00")))
      rIn.addData(RSide(-8, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).filter(col("l_key") > 0).collect().map(_.toSeq).toSet
    assert(got == batch)
  }

  test("J2 parity: asymmetric interval bounds ([-15m, +5s]) in streaming") {
    val ls = Seq(LSide(1, ts("2024-01-01 01:00:00")), LSide(2, ts("2024-01-01 02:00:00")))
    val rs = Seq(
      RSide(1, ts("2024-01-01 00:50:00")), // -10m: in [-15m, +5s]
      RSide(1, ts("2024-01-01 00:40:00")), // -20m: out
      RSide(2, ts("2024-01-01 02:00:04")), // +4s: in
      RSide(2, ts("2024-01-01 02:00:10"))) // +10s: out
    val cond = "l_key = r_key AND r_ts BETWEEN l_ts - INTERVAL 15 minutes AND l_ts + INTERVAL 5 seconds"
    val batch = ls.toDF().join(rs.toDF(), expr(cond))
      .select("l_key", "r_ts").collect().map(_.toSeq).toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[LSide]
    val rIn = MemoryStream[RSide]
    val joined = StreamOps.j1IntervalJoin(lIn.toDF(), rIn.toDF(),
      lowerBound = "15 minutes", upperBound = "5 seconds")
    val name = s"j2sink${System.nanoTime()}"
    val q = joined.select("l_key", "r_ts").writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      lIn.addData(ls); rIn.addData(rs); q.processAllAvailable()
      lIn.addData(LSide(-9, ts("2024-01-02 00:00:00")))
      rIn.addData(RSide(-9, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      lIn.addData(LSide(-8, ts("2024-01-03 00:00:00")))
      rIn.addData(RSide(-8, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).filter(col("l_key") > 0).collect().map(_.toSeq).toSet
    assert(got == batch)
  }

  test("J9 parity: stream-stream LEFT OUTER interval join emits unmatched after watermark") {
    val ls = Seq(
      LSide(1, ts("2024-01-01 00:00:10")),  // matched
      LSide(2, ts("2024-01-01 00:00:20")),  // right event out of window → null
      LSide(3, ts("2024-01-01 00:00:30")))  // no right key at all → null
    val rs = Seq(
      RSide(1, ts("2024-01-01 00:00:12")),
      RSide(2, ts("2024-01-01 00:00:40"))) // +20s: outside ±5s
    val batch = ls.toDF().join(rs.toDF(),
        expr("l_key = r_key AND r_ts BETWEEN l_ts - INTERVAL 5 seconds AND l_ts + INTERVAL 5 seconds"),
        "left")
      .select("l_key", "r_ts").collect().map(_.toSeq).toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[LSide]
    val rIn = MemoryStream[RSide]
    val joined = StreamOps.j1IntervalJoin(lIn.toDF(), rIn.toDF(), joinType = "left_outer")
    val name = s"j9sink${System.nanoTime()}"
    val q = joined.select("l_key", "r_ts").writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      lIn.addData(ls); rIn.addData(rs); q.processAllAvailable()
      // watermark must pass the join windows before null rows may emit
      lIn.addData(LSide(-9, ts("2024-01-02 00:00:00")))
      rIn.addData(RSide(-9, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      lIn.addData(LSide(-8, ts("2024-01-03 00:00:00")))
      rIn.addData(RSide(-8, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).filter(col("l_key") > 0).collect().map(_.toSeq).toSet
    assert(got == batch, s"got=$got\nbatch=$batch")
    // the unmatched rows really are the null-padded ones
    assert(got.count(_(1) == null) == 2)
  }

  test("J2 streaming state plateaus under watermark cleanup (long replay)") {
    // SURVEY §7.2 flags the asymmetric [-15m, +5s] bound inflating join
    // state: the right side must be retained ~15 minutes past the
    // watermark, the left only seconds. This replay drives 40 one-minute
    // micro-batches (5 keys × 1 row per side each) and asserts the state
    // store row count PLATEAUS at the ~16-batch retention horizon instead
    // of growing with the replay — the committed evidence that watermark
    // cleanup bounds J2 state (Flink's interval-join retention contract).
    val nBatches = 40
    val rowsPerBatch = 5
    val base = ts("2024-01-01 00:00:00").getTime
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[LSide]
    val rIn = MemoryStream[RSide]
    val joined = StreamOps.j1IntervalJoin(lIn.toDF(), rIn.toDF(),
      lowerBound = "15 minutes", upperBound = "5 seconds")
    val name = s"j2state${System.nanoTime()}"
    val q = joined.select("l_key", "l_ts", "r_ts").writeStream
      .format("memory").queryName(name).outputMode("append").start()
    val states = scala.collection.mutable.ArrayBuffer[Long]()
    val ls = scala.collection.mutable.ArrayBuffer[LSide]()
    val rs = scala.collection.mutable.ArrayBuffer[RSide]()
    try {
      for (b <- 0 until nBatches) {
        val t0 = base + b * 60000L
        val lb = (0 until rowsPerBatch).map(i => LSide(i.toLong, new Timestamp(t0 + i * 1000L)))
        val rb = (0 until rowsPerBatch).map(i => RSide(i.toLong, new Timestamp(t0 + i * 1000L + 2000L)))
        ls ++= lb; rs ++= rb
        lIn.addData(lb); rIn.addData(rb)
        q.processAllAvailable()
        states += Option(q.lastProgress)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      }
      // flush the watermark so every in-window match emits before parity
      lIn.addData(LSide(-9, ts("2024-01-02 00:00:00")))
      rIn.addData(RSide(-9, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      lIn.addData(LSide(-8, ts("2024-01-03 00:00:00")))
      rIn.addData(RSide(-8, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()

    // parity over the whole replay: every emitted row matches the batch
    // range join on the identical data
    val batch = ls.toSeq.toDF().join(rs.toSeq.toDF(),
        expr("l_key = r_key AND r_ts BETWEEN l_ts - INTERVAL 15 minutes AND l_ts + INTERVAL 5 seconds"))
      .select("l_key", "l_ts", "r_ts").collect().map(_.toSeq).toSet
    val got = spark.table(name).filter(col("l_key") >= 0).collect().map(_.toSeq).toSet
    assert(got == batch, s"stream emitted ${got.size} rows, batch oracle ${batch.size}")

    // retention horizon ≈ (15 min + 10 s delay) / 1-min batches ≈ 16
    // batches of right rows + ~1 batch of left rows; assert the store (a)
    // plateaus over the last 10 batches and (b) ends far below total
    // ingest (an uncleaned store would hold all 2·nBatches·rowsPerBatch)
    val tail = states.takeRight(10)
    assert(tail.max - tail.min <= (0.25 * tail.max).ceil.toLong,
      s"state did not plateau: last-10 counts $tail")
    val totalIngested = 2L * nBatches * rowsPerBatch
    assert(states.last <= totalIngested / 2,
      s"state ${states.last} not bounded vs ingest $totalIngested: $states")
    assert(states.last > 0, "state probe read nothing — instrumentation broken")
  }

  test("A19 parity: streaming running moments finish at the batch aggregate") {
    val purchases = Seq(
      Event(1, ts("2024-01-01 00:00:01"), 1, "purchase", 10.0),
      Event(2, ts("2024-01-01 00:00:02"), 1, "purchase", 30.0),
      Event(3, ts("2024-01-01 00:00:03"), 2, "purchase", 5.5),
      Event(4, ts("2024-01-01 00:00:04"), 1, "view", 99.0),  // ignored
      Event(5, ts("2024-01-01 00:00:05"), 2, "purchase", 7.25))
    val batch = StreamOps.a19UserMoments(purchases.toDF())
      .select(col("user_id"), col("cnt"), col("sv").cast("string"), col("svv").cast("string"))
      .collect().map(_.toSeq).toSet
    // update-mode stream: per-user LAST emitted row is the final state
    val rows = runStream(Seq(purchases.take(3), purchases.drop(3)), "update") { df =>
      StreamOps.a19UserMoments(df)
        .select(col("user_id"), col("cnt"), col("sv").cast("string"), col("svv").cast("string"))
    }
    val finalPerUser = rows.zipWithIndex
      .groupBy(_._1.getLong(0)).map { case (_, rs) => rs.maxBy(_._2)._1.toSeq }.toSet
    assert(finalPerUser == batch, s"stream=$finalPerUser\nbatch=$batch")
  }

  test("streaming passage dedup parity: one survivor per distinct passage, earlier batch wins") {
    // width-4 passages so tiny docs produce several; docs 1/2 share their
    // first passage exactly, doc 3 re-ships doc 1's text entirely
    val w = 4
    val docs = Seq(
      Doc(1, "web", "en", "alpha beta gamma delta epsilon zeta eta theta"),
      Doc(2, "web", "en", "alpha beta gamma delta iota kappa lambda mu"),
      Doc(3, "web", "en", "alpha beta gamma delta epsilon zeta eta theta"))
    // batch truth: distinct width-4 passages over the corpus
    val allPassages = docs.flatMap(d =>
      d.text.toLowerCase.split("\\s+").filter(_.nonEmpty).grouped(w).map(_.mkString(" ")))
    val distinctPassages = allPassages.distinct

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Doc]
    val name = s"spassage${System.nanoTime()}"
    val q = StreamOps.streamingPassageDedup(input.toDF(), width = w).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(docs.take(2)); q.processAllAvailable()
      input.addData(docs.drop(2)); q.processAllAvailable() // full replay suppressed
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pidx"), r.getAs[String]("passage")))
    // exactly one surviving row per distinct passage text
    assert(got.map(_._3).sorted.toSeq == distinctPassages.sorted.toSeq)
    // doc 3 (batch 2) is a full replay of doc 1 (batch 1): zero survivors
    assert(!got.exists(_._1 == 3L), "batch-2 replay must be fully suppressed")
    // the shared head passage survives from batch 1 (doc 1 or 2, intra-batch
    // arbitrary), and each batch-1 doc keeps its own distinct tail
    val head = got.filter(_._3 == "alpha beta gamma delta")
    assert(head.length == 1 && Set(1L, 2L)(head.head._1) && head.head._2 == 0L)
    assert(got.exists(r => r._1 == 1L && r._2 == 1L))
    assert(got.exists(r => r._1 == 2L && r._2 == 1L))
  }
}
