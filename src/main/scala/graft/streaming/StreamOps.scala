package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.pipeline.Dedup

/** Structured Streaming renderings of the reference's stateful operators.
  *
  * Design (SURVEY.md §7.0): every pipeline is dual-mode — the pure
  * transformations live in `graft.operators` as `DataFrame => DataFrame`
  * and run identically under batch and `readStream`; only genuinely
  * stateful per-key logic (Flink `ValueState` / CEP timers) needs the
  * `flatMapGroupsWithState` renderings here. Parity between the two modes
  * is asserted by `StreamingParitySpec`.
  */
object StreamOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class IsNewRow(event_id: Long, user_id: Long, is_new: Long)

  case class BounceRow(event_id: Long, user_id: Long, visit_ts: String)

  private[streaming] def fmt(ts: Timestamp): String = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f.format(new java.util.Date((ts.getTime / 1000L) * 1000L)) // truncate to second
  }

  /** Full-µs epoch of `t`: `getTime` is ms-truncated, the nanos field
    * carries the complete fractional second (events are timestamp[us]
    * parquet), so strict-after comparisons see the same instants as the
    * batch renderings' timestamp comparisons.
    */
  private[streaming] def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** ST1 streaming: new/returning visitor correction
    * (`app/dwd/BaseLogApp.java:71-96`). Keyed ValueState — here the
    * GroupState holds "seen" per user; only the first-ever event (by
    * event time within each micro-batch, arrival order across batches,
    * matching Flink's semantics) keeps is_new=1.
    *
    * Scale note: state is one boolean per user key, hash-partitioned by
    * Spark's state store — the same layout Flink keeps in RocksDB.
    */
  def st1IsNewFix(events: Dataset[Event]): Dataset[IsNewRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[Boolean]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = sorted.map { e =>
            val first = !state.exists
            if (first) state.update(true)
            IsNewRow(e.event_id, user, if (first) 1L else 0L)
          }
          out.iterator
      }
  }

  /** J4 streaming: CEP bounce detection
    * (`app/dwm/UserJumpDetailApp.java:68-117`). Per-user state machine
    * replacing Flink CEP: a pending session-start ('view') event is
    * emitted as a bounce if the next event is another start within the
    * match window (matched branch) or if nothing follows inside the window
    * (Flink's timeout side output) — the latter via an event-time timer
    * (`GroupStateTimeout.EventTimeTimeout`), so the input must carry a
    * watermark on `ts`.
    */
  def j4BounceDetect(events: Dataset[Event],
                     windowMs: Long = 10 * 60 * 1000L): Dataset[BounceRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[Event]) =>
          // second-truncated event times, matching the batch oracle's
          // date_trunc('second', ts) so boundary rows agree between modes
          def sec(e: Event): Long = (e.ts.getTime / 1000L) * 1000L
          if (rows.isEmpty && state.hasTimedOut) {
            // timeout branch: pending start never followed inside the window
            val pending = state.get
            state.remove()
            Iterator.single(BounceRow(pending.event_id, user, fmt(pending.ts)))
          } else {
            val sorted = rows.toSeq.sortBy(e => (sec(e), e.event_id))
            var pending: Option[Event] = state.getOption
            val out = Seq.newBuilder[BounceRow]
            sorted.foreach { e =>
              pending match {
                case Some(p) =>
                  if (sec(e) > sec(p) + windowMs) {
                    out += BounceRow(p.event_id, user, fmt(p.ts)) // timed out in-stream
                    pending = None
                  } else if (e.event_type == "view") {
                    out += BounceRow(p.event_id, user, fmt(p.ts)) // matched: start→start
                    pending = None
                  } else {
                    pending = None // followed by non-start inside window: no bounce
                  }
                case None =>
              }
              if (pending.isEmpty && e.event_type == "view") pending = Some(e)
            }
            pending match {
              case Some(p) =>
                state.update(p)
                state.setTimeoutTimestamp(sec(p) + windowMs)
              case None => state.remove()
            }
            out.result().iterator
          }
      }
  }

  /** ST2 streaming: daily-UV dedup (`app/dwm/UniqueVisitApp.java:54-87`).
    * `dropDuplicatesWithinWatermark` dedups on (user, day) while evicting
    * each key once the watermark passes its event time — the exact analog
    * of the reference's 24h state TTL. (Plain `dropDuplicates` without the
    * event-time column in the key would never evict and grow state
    * unboundedly on a long-running stream.)
    */
  def st2DedupedVisits(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), to_date(col("ts")).as("dt"))
      .dropDuplicatesWithinWatermark("user_id", "dt")

  /** ST2 with the reference's exact state TTL
    * (`app/dwm/UniqueVisitApp.java:54-87`): keyed state holds the last
    * passed date per user and the processing time it passed at; an event
    * passes iff its date differs from the stored one or `ttl` has elapsed
    * since that pass. Only a pass writes state, so the TTL counts from the
    * last write — the reference's
    * `StateTtlConfig.newBuilder(Time.hours(24)).setUpdateType(OnCreateAndWrite)`.
    *
    * `flatMapGroupsWithState` resets a key's timeout on every call, so the
    * timeout is re-armed at the stored pass time + `ttl`: a suppressed
    * duplicate does not push the expiry back. A timed-out key's state is
    * removed. A zero `ttl` keeps state forever (no timeout). Unlike the
    * watermark-scoped `st2DedupedVisits`, the TTL runs on processing
    * time, like the reference's.
    *
    * input: (user_id, date-string); output: first event per (user, date)
    * within the TTL horizon.
    */
  def st2UvDedupTtl(events: Dataset[(Long, String)],
      ttl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[(Long, String)] = {
    import events.sparkSession.implicits._
    val ttlMs = ttl.toMillis
    val timeout =
      if (ttlMs == 0L) GroupStateTimeout.NoTimeout() else GroupStateTimeout.ProcessingTimeTimeout()
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), timeout) {
        (_: Long, rows: Iterator[(Long, String)], state: GroupState[(String, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val now = state.getCurrentProcessingTimeMs()
            val out = Seq.newBuilder[(Long, String)]
            rows.foreach { r =>
              val pass = state.getOption.forall { case (date, passMs) =>
                date != r._2 || (ttlMs > 0L && now - passMs >= ttlMs)
              }
              if (pass) {
                out += r
                state.update((r._2, now))
              }
            }
            if (ttlMs > 0L) state.setTimeoutDuration(state.get._2 + ttlMs - now)
            out.result().iterator
          }
      }
  }

  /** Streaming corpus ingest with exact-dup suppression — the streaming
    * face of `Dedup.exact`: every incoming document is keyed by its
    * normalized-text fingerprint and one document per fingerprint survives
    * into the training corpus. State is one 32-hex-char key per distinct
    * text (the cheapest possible dedup state, independent of document
    * size).
    *
    * Survivor contract: ACROSS micro-batches the earliest batch wins (the
    * state store already holds the fingerprint when a later batch re-sees
    * it). WITHIN a micro-batch `dropDuplicates` keeps one ARBITRARY row
    * per fingerprint — the batch's rows land in multiple partitions and
    * no intra-batch order exists to be "first" by. Callers that need a
    * deterministic champion (e.g. min doc_id) should dedup the corpus
    * batch-side (`Dedup.exact` picks `min(doc_id)`) or carry an ordering
    * column and re-select downstream.
    */
  def streamingExactDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      .dropDuplicates("fp")

  /** Bounded-state variant for UNBOUNDED corpus ingest: identical
    * suppression keyed on the fingerprint, but state is evicted once the
    * watermark passes a fingerprint's ingest time (the ST2 TTL machinery —
    * `dropDuplicatesWithinWatermark`, the analog of the reference's
    * 24h-TTL keyed state in `app/dwm/UniqueVisitApp.java:62-66`). The
    * trade is explicit: a duplicate arriving more than `watermark` of
    * event-time after its original is re-admitted — at 100 TB of rolling
    * ingest that re-admission window is the price of O(window) rather
    * than O(corpus) state.
    */
  def streamingExactDedupTtl(docs: DataFrame, tsCol: String = "ts",
                             watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming twin of `Dedup.passageDedupStrip`'s suppression half:
    * incoming documents are exploded into fixed-width passages and each
    * passage is admitted exactly once corpus-wide (keyed stateful
    * dropDuplicates on the passage fingerprint). Emits the surviving
    * (doc_id, pidx, passage) rows as an append stream — the reassembly
    * into per-doc stripped text is a downstream batch concern (an
    * all-time per-doc aggregate has no finite emission point in a
    * stream). Same batch-wins caveat as `streamingExactDedup`: WITHIN a
    * micro-batch the surviving (doc_id, pidx) for a fingerprint is
    * arbitrary; across batches the earlier batch always wins. State is
    * one 32-hex fingerprint per DISTINCT passage — the passage-granular
    * analog of the exact-dedup store, TTL-boundable with the same
    * `dropDuplicatesWithinWatermark` machinery when ingest carries a
    * time column.
    */
  def streamingPassageDedup(docs: DataFrame, width: Int = 32): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(width))).as("start"))
      .select(col("doc_id"), (col("start") / width).cast("long").as("pidx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(width))).as("passage"))
      .withColumn("fp", md5(col("passage")))
      .dropDuplicates("fp")

  case class NearDupPair(doc_a: Long, doc_b: Long, est_jaccard: Double)

  case class BandBucket(docs: List[(Long, Seq[Long])])

  /** Streaming MinHash-LSH near-duplicate PAIR detection — the streaming
    * twin of `Dedup.minhashLsh`: as documents arrive, emit every
    * (doc_a, doc_b, est_jaccard ≥ threshold) pair exactly once, comparing
    * each new document only against prior documents sharing an LSH band
    * bucket — never the whole corpus.
    *
    * Shape: signatures are computed by the same codegen'd kernel chain as
    * batch, band rows are keyed by (band, band_key) so state is
    * hash-partitioned across executors by bucket, and each bucket's state
    * holds its admitted (doc_id, signature) list — the streaming analog of
    * the batch band join. A colliding pair can share several buckets; it
    * is emitted only by the FIRST shared band (computable locally from
    * the two signatures), so global exactly-once needs no second stateful
    * dedup operator.
    *
    * State at 100 TB: Σ_buckets |bucket| = Bands × corpus rows of
    * (id, 64-long sig) ≈ 0.5 KB/doc — the same O(corpus) posture as the
    * batch signature table, RocksDB-backed; rolling-window deployments
    * bound it with the ST2 TTL machinery (evict via timeouts keyed on
    * ingest time), trading re-admission of stale near-dups exactly like
    * `streamingExactDedupTtl`.
    */
  def streamingNearDupPairs(docs: DataFrame, threshold: Double = 0.5): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = Dedup.bandRows(
        docs.select(col("doc_id"), Dedup.minhashSignature(col("text")).as("sig")), "sig")
      .as[(Long, Seq[Long], Int, String)]
    banded
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, String), rows: Iterator[(Long, Seq[Long], Int, String)],
         state: GroupState[BandBucket]) => {
          val band = key._1
          var seen = state.getOption.map(_.docs).getOrElse(List.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
          // deterministic intra-batch order: doc_id ascending
          rows.map(r => (r._1, r._2)).toSeq.sortBy(_._1).foreach { case (id, sig) =>
            if (!seen.exists(_._1 == id)) {
              seen.foreach { case (oid, osig) =>
                // first-shared-band convention = global exactly-once
                if (Dedup.firstSharedBand(sig, osig).contains(band)) {
                  val est = Dedup.estJaccard(sig, osig)
                  if (est >= threshold)
                    out += NearDupPair(math.min(id, oid), math.max(id, oid), est)
                }
              }
              seen = seen :+ (id, sig)
            }
          }
          state.update(BandBucket(seen))
          out.iterator
        })
  }

  /** A1 streaming: watermarked 10s tumbling-window visitor stats — the
    * same transform as batch (`LogPipeline.a1Transform`) with a watermark
    * bound; append mode emits each window once, like Flink's
    * fire-on-watermark tumbling windows.
    */
  def a1WindowedStats(events: DataFrame, watermark: String = "11 seconds"): DataFrame =
    graft.operators.LogPipeline.a1Transform(
      events.withWatermark("ts", watermark))

  /** A3 streaming: province-stats windowed aggregation
    * (`app/dws/ProvinceStatsSqlApp.java:49-68`). Exact `count(distinct)`
    * is not available inside streaming windowed aggs — this is precisely
    * where the reference-exact batch semantics and the streaming/scale
    * path diverge by design: the streaming rendering uses
    * `approx_count_distinct` (HLL, ±5% default), the same swap
    * `ApproxDistinctRule` applies to batch at 100 TB.
    */
  def a3ProvinceStats(orders: DataFrame, watermark: String = "1 day"): DataFrame =
    orders
      .withWatermark("o_orderdate", watermark)
      .groupBy(window(col("o_orderdate"), "7 days"), col("n_name"))
      .agg(
        approx_count_distinct(col("o_orderkey")).as("order_count"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("order_amount"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("n_name"), col("order_count"), col("order_amount"))

  /** J6 streaming: AS-OF join — keyed ValueState holds the latest 'view'
    * per user; each 'click' emits (click, latest view at or before it).
    * The streaming rendering of `Relational.j6AsofJoin` (same at-or-before
    * and equal-ts-visible semantics; batch dedups equal-ts views to max
    * event_id, mirrored here by processing sorted (ts, event_id)).
    */
  case class AsofRow(click_id: Long, user_id: Long, click_ts: String, view_id: Long)

  def j6AsofJoin(events: Dataset[Event]): Dataset[AsofRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = Seq.newBuilder[AsofRow]
          sorted.foreach { e =>
            if (e.event_type == "view") state.update(e.event_id)
            else if (e.event_type == "click" && state.exists)
              out += AsofRow(e.event_id, user, fmt(e.ts), state.get)
          }
          out.result().iterator
      }
  }

  /** A live purchase credit: `value` attributed to `channel` (the user's
    * most recent strictly-earlier non-purchase event type, `direct` when
    * none).
    */
  case class CreditRow(user_id: Long, channel: String, value: Double, ts: String)

  /** A16 streaming: last-touch attribution as a live credit stream —
    * keyed state holds each user's latest non-purchase touch (the same
    * one-value state `j6AsofJoin` keeps); every purchase emits one
    * credit row. Summing credits per channel downstream reproduces the
    * batch rollup (`LogPipeline.a16AttributionTransform`).
    */
  def a16AttributionCredits(events: Dataset[Event]): Dataset[CreditRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[String]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = Seq.newBuilder[CreditRow]
          sorted.foreach { e =>
            if (e.event_type == "purchase")
              out += CreditRow(user, state.getOption.getOrElse("direct"), e.value, fmt(e.ts))
            else state.update(e.event_type)
          }
          out.result().iterator
      }
  }

  /** Closed SCD2 interval emitted as the change log advances. */
  case class Scd2Row(user_id: Long, version: Long, value: Double,
                     valid_from: String, valid_to: String)

  /** Per-user SCD2 state: count of upserts so far plus the open interval
    * (if the latest op was an upsert, not a delete).
    */
  case class Scd2State(version: Long, hasOpen: Boolean,
                       openTs: Timestamp, openValue: Double)

  /** SCD2 streaming: the incremental rendering of
    * `LogPipeline.scd2Transform` — keyed state holds the OPEN validity
    * interval per user; each arriving op closes it (emitting the finished
    * version row downstream, e.g. to the warehouse's history table) and a
    * non-delete op opens the next. Deletes close without opening, exactly
    * the batch lead()-over-all-ops semantics. Open intervals stay in
    * state — they are the dim's CURRENT rows, not yet history.
    *
    * Scale note: state is one fixed-width row per user key in the state
    * store; arrival order across micro-batches must follow event time
    * (the CDC source contract), and within a batch rows are sorted, the
    * same convention as `j6AsofJoin`.
    */
  def scd2History(events: Dataset[Event]): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[Scd2State]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = Seq.newBuilder[Scd2Row]
          var st = state.getOption.getOrElse(Scd2State(0L, hasOpen = false, null, 0.0))
          sorted.foreach { e =>
            if (st.hasOpen)
              out += Scd2Row(user, st.version, st.openValue, fmt(st.openTs), fmt(e.ts))
            st =
              if (e.event_type == "error") st.copy(hasOpen = false)
              else Scd2State(st.version + 1, hasOpen = true, e.ts, e.value)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Funnel stage transition: `user` entered `stage` (1=view, 2=click,
    * 3=purchase) at `entry_ts`.
    */
  case class FunnelRow(user_id: Long, stage: Int, entry_ts: String)

  /** Per-user funnel progress: entry epoch-millis per reached stage
    * (0 = not reached). Strictly-ordered semantics: stage k only arms
    * after stage k-1's entry time.
    */
  case class FunnelState(t1: Long, t2: Long, t3: Long)

  /** A13 streaming: the ordered view→click→purchase funnel as a live
    * stage-transition stream — each user's first qualifying event per
    * stage emits one transition row; keyed state is three epoch longs.
    * The batch rendering (`LogPipeline.a13EventFunnel`) is the same
    * chained-min semantics collapsed to stage counts; parity asserts the
    * transition stream reaches exactly the batch counts.
    */
  def a13FunnelStages(events: Dataset[Event]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val out = Seq.newBuilder[FunnelRow]
          var st = state.getOption.getOrElse(FunnelState(0L, 0L, 0L))
          sorted.foreach { e =>
            val t = micros(e.ts)
            e.event_type match {
              case "view" if st.t1 == 0L =>
                st = st.copy(t1 = t); out += FunnelRow(user, 1, fmt(e.ts))
              case "click" if st.t1 != 0L && st.t2 == 0L && t > st.t1 =>
                st = st.copy(t2 = t); out += FunnelRow(user, 2, fmt(e.ts))
              case "purchase" if st.t2 != 0L && st.t3 == 0L && t > st.t2 =>
                st = st.copy(t3 = t); out += FunnelRow(user, 3, fmt(e.ts))
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Retention increment: `user_id` was active on `day_offset` days after
    * its `cohort_day` (first activity) — emitted once per (user, offset).
    */
  case class CohortRow(cohort_day: String, day_offset: Long, user_id: Long)

  /** Per-user retention state: first-activity epoch day + the offsets
    * already credited. Offsets are calendar-bounded (a production job
    * caps the tracked horizon — `maxOffsets` here), so state is a small
    * per-user list, not event-scale.
    */
  case class CohortState(cohortDay: Long, seen: Seq[Long])

  /** A14 streaming: live cohort retention — each arriving event credits
    * its user's (cohort_day, day_offset) cell exactly once; downstream a
    * per-cell count assembles the same retention matrix the batch
    * rendering (`LogPipeline.a14CohortRetention`) computes with a window
    * + distinct count. Arrival must follow event time (the shared
    * streaming convention), so the first-seen day IS the min day.
    */
  def a14CohortIncrements(events: Dataset[Event],
      maxOffsets: Int = 4096): Dataset[CohortRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[CohortState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = Seq.newBuilder[CohortRow]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val day = math.floorDiv(e.ts.getTime, 86400000L)
            if (st == null) st = CohortState(day, Nil)
            val offset = day - st.cohortDay
            if (!st.seen.contains(offset) && st.seen.size < maxOffsets) {
              st = st.copy(seen = st.seen :+ offset)
              // LocalDate.toString is ISO yyyy-MM-dd, the batch format
              out += CohortRow(java.time.LocalDate.ofEpochDay(st.cohortDay).toString,
                offset, user)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** A6 streaming: session windows — the SAME `session_window` expression
    * as the batch rendering (`operators/LogPipeline.a6SessionWindows`),
    * with a watermark so merged sessions finalize and emit append-mode
    * rows once event time passes gap + delay. Spark merges overlapping
    * session state per key in the state store — the scale shape is one
    * open session row per active (user, session).
    */
  def a6SessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("events_ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        col("user_id"), col("events_ct"), col("value_sum"))

  /** A2 streaming: product-stats windowed aggregation
    * (`app/dws/ProductStatsApp.java:215-261`). The batch rendering keeps
    * the reference's exact HashSet distinct (`size(collect_set)`); inside
    * a streaming windowed agg the exact set is unavailable, so — like A3 —
    * the streaming/scale path uses `approx_count_distinct` (HLL). Money
    * sums stay exact decimal.
    */
  def a2ProductStats(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("user_ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("amount"),
        count(lit(1)).as("ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("user_ct"), col("amount"), col("ct"))

  /** A18 streaming: live DAU — watermarked daily tumbling window with
    * HLL distinct users (the streaming-legal + 100 TB rendering, same
    * swap as A2/A3's exact-set → `approx_count_distinct`). The rolling
    * 7-day WAU stays a batch/serving-side rollup over the emitted days —
    * the mergeable-sketch variant of the batch ×7 fan-out.
    */
  def a18DailyActive(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id")).as("dau"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("dau"))

  /** A4 streaming: windowed keyword stats
    * (`app/dws/KeywordStatsApp.java:64-75`): tokenize → explode → 10s
    * tumbling event-time window count keyed by (lang, keyword). The
    * tokenizer UDTF surface (U1) composes with streaming windows exactly
    * like the reference's LATERAL TABLE(ik_analyze(...)) feeding its
    * windowed COUNT(*).
    */
  def a4KeywordStats(docs: DataFrame, watermark: String = "10 seconds"): DataFrame =
    docs.withWatermark("ts", watermark)
      .select(col("ts"), col("lang"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("keyword"))
      .groupBy(window(col("ts"), "10 seconds"), col("lang"), col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("lang"), col("keyword"), col("ct"))

  /** J1 streaming: stream-stream interval join
    * (`app/dwm/OrderWideApp.java:99-107`): equi-key + event-time range,
    * watermarks on both sides bound the join state exactly like Flink's
    * interval-join state retention.
    */
  def j1IntervalJoin(left: DataFrame, right: DataFrame,
                     lowerBound: String = "5 seconds",
                     upperBound: String = "5 seconds",
                     joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("l_ts", "10 seconds")
    val r = right.withWatermark("r_ts", "10 seconds")
    l.join(r,
      expr(s"""l_key = r_key AND
               r_ts BETWEEN l_ts - INTERVAL $lowerBound AND l_ts + INTERVAL $upperBound"""),
      joinType)
  }

  /** A19 streaming twin: per-user running purchase moments (count, Σv, Σv²
    * as exact decimals) in update mode — the live anomaly baseline.
    * Mergeable by construction (micro-batch partials combine per key), so
    * the state after the last batch equals the batch aggregate and any
    * scorer can derive mean/σ from the three numbers without replaying
    * history.
    */
  def a19UserMoments(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"))

  /** One observed user transition: prev event → next event. */
  case class TransitionRow(user_id: Long, prev_event: String, next_event: String)

  /** A20 streaming: live Markov transitions — keyed state is the user's
    * LAST event type (plus its (ts, event_id) order key so cross-batch
    * ordering matches the batch lag()); each arriving event emits one
    * transition row from the remembered predecessor. Downstream a tiny
    * pair aggregate keeps the live transition matrix; parity asserts the
    * emitted rows re-aggregate to exactly the batch pair counts.
    *
    * Scale note: state is one (string, long, long) per user key —
    * identical layout to ST1's ValueState; the emitted stream has one row
    * per input event, so no amplification.
    */
  def a20Transitions(events: Dataset[Event]): Dataset[TransitionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[(String, Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = Seq.newBuilder[TransitionRow]
          var prev = state.getOption.orNull
          sorted.foreach { e =>
            if (prev != null) out += TransitionRow(user, prev._1, e.event_type)
            prev = (e.event_type, e.ts.getTime, e.event_id)
          }
          if (prev != null) state.update(prev)
          out.result().iterator
      }
  }

  /** Live KMV distinct estimate for one key after a micro-batch. */
  case class KmvRow(event_type: String, kmv_est: Double, sketch_size: Int)

  /** Exactly `functions.TextFunctions.md5Prefix60` in the JVM: first 15
    * md5 hex chars of the decimal string, as a 60-bit long.
    */
  private[streaming] def md5p60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** KMV streaming twin (`pipeline/Sketches.kmvDistinct`): the per-key
    * bottom-k hash set IS the state — ≤k sorted longs per event type —
    * updated by insert-if-smaller and emitted as a fresh estimate every
    * micro-batch. This is the sketch's mergeability made operational:
    * arrival order never changes the state (bottom-k of a union is
    * order-free), so the final estimate equals the batch computation
    * exactly — asserted by parity.
    */
  def kmvDistinct(events: Dataset[Event], k: Int = 64): Dataset[KmvRow] = {
    import events.sparkSession.implicits._
    val TWO60 = 1152921504606846976.0
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[Event], state: GroupState[Seq[Long]]) =>
          var sk = state.getOption.getOrElse(Seq.empty[Long])
          rows.foreach { e =>
            val h = md5p60(e.user_id.toString)
            if (!sk.contains(h) && (sk.size < k || h < sk.last))
              sk = ((sk :+ h).sorted).take(k)
          }
          state.update(sk)
          val est =
            if (sk.size < k) sk.size.toDouble
            else BigDecimal((k - 1).toDouble * TWO60 / sk.last.toDouble)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator.single(KmvRow(et, est, sk.size))
      }
  }

  /** One event's lateness: how far its user's event-time high-water mark
    * had already passed the event's time on arrival.
    */
  case class LateRow(event_id: Long, user_id: Long, late_us: Long)

  /** Live out-of-orderness monitor — the streaming twin of the batch
    * `Relational.a25LatenessProfile` audit: per event,
    * `late_us = max(0, maxSoFar − ts)` against the SAME user's event-time
    * high-water mark. Run beside a production job it answers continuously
    * what the batch audit answers retrospectively: does the configured
    * watermark still cover the lateness tail (ST4/ST6 operational
    * companion).
    *
    * State is ONE long per user (the mark). Arrival order: event_id is the
    * ingest sequence (the batch audit's convention), so each micro-batch's
    * per-user rows are processed in event_id order and cross-batch order
    * follows batch arrival — feeding batches in ingest order reproduces
    * the batch audit exactly (parity-tested).
    */
  def a25LatenessMonitor(events: Dataset[Event]): Dataset[LateRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[Long]) =>
          var mark = state.getOption
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            val tsu = micros(e.ts)
            val late = mark.fold(0L)(m => math.max(0L, m - tsu))
            mark = Some(mark.fold(tsu)(math.max(_, tsu)))
            LateRow(e.event_id, user, late)
          }
          mark.foreach(state.update)
          out.iterator
      }
  }

  /** One purchase's running decayed value as of its own time `tsu` (µs). */
  case class DecayRow(event_id: Long, user_id: Long, tsu: Long, decayed_value: Double)

  /** Streaming twin of the batch `Relational.a26ValueDecay` feature: the
    * RUNNING exponentially-decayed user value, kept by forward decay — on
    * each purchase `v ← v·2^(−(t−t_prev)/halfLife) + value`, so state is
    * two numbers per user (the decayed value as of the last event, and
    * that event's time) whatever the history length (Cormode et al.'s
    * forward decay). Decaying the running value to any reference instant
    * equals the batch Σ value·2^(−(ref−tᵢ)/halfLife); the parity test
    * checks that identity against `a26ValueDecay` (to float tolerance: the
    * incremental product associates differently than the batch fold).
    * Within a micro-batch, purchases fold in (event time, event_id) order.
    */
  def a26DecayedValue(purchases: Dataset[Event],
      halfLifeDays: Double = 30.0): Dataset[DecayRow] = {
    import purchases.sparkSession.implicits._
    val halfLifeUs = halfLifeDays * 86400e6
    purchases
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[(Double, Long)]) =>
          var st = state.getOption
          val out = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
            val tsu = micros(e.ts)
            val v = st.fold(0.0) { case (vPrev, tPrev) =>
              vPrev * math.pow(2.0, -((tsu - tPrev).toDouble / halfLifeUs)) } + e.value
            st = Some((v, tsu))
            DecayRow(e.event_id, user, tsu, v)
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** One event's CUSUM step: both drift sums after it, and whether it
    * raised the alarm.
    */
  case class CusumRow(event_id: Long, event_type: String, tsu: Long,
                      s_pos: Double, s_neg: Double, alarm: Long)

  /** Streaming drift alarm: Page's recursive CUSUM per event type — the
    * ONLINE twin of the batch `a30_cusum_change` scan. Where the batch op
    * locates a level shift retrospectively, the streaming form detects it
    * as it happens with two numbers of state per key:
    *
    *   S⁺ ← max(0, S⁺ + (x − μ0 − k))   (upward drift)
    *   S⁻ ← max(0, S⁻ + (μ0 − k − x))   (downward drift)
    *
    * and raises the alarm when either exceeds the decision interval `h`
    * (`threshold`), then restarts (the Page reset, so repeated shifts
    * re-alarm). μ0/k/h are calibration constants from the batch profile
    * (reference mean, half the shift worth detecting, the ARL knob):
    * calibrate offline (a29/a30), watch online. Within a micro-batch,
    * events fold in (event time, event_id) order, so emissions are
    * deterministic under replay.
    */
  def a30CusumAlarms(events: Dataset[Event], mu0: Double, slack: Double,
      threshold: Double): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[Event], state: GroupState[(Double, Double)]) =>
          var (sp, sn) = state.getOption.getOrElse((0.0, 0.0))
          val out = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
            val spNew = math.max(0.0, sp + (e.value - mu0 - slack))
            val snNew = math.max(0.0, sn + (mu0 - slack - e.value))
            val alarm = spNew > threshold || snNew > threshold
            if (alarm) { sp = 0.0; sn = 0.0 } else { sp = spNew; sn = snNew }
            CusumRow(e.event_id, et, micros(e.ts), spNew, snNew, if (alarm) 1L else 0L)
          }
          state.update((sp, sn))
          out.iterator
      }
  }
}
