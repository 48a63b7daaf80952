package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** The reference's log pipeline (DWD→DWM→DWS layers) re-expressed over the
  * `events` test table (fixture mapping: FIXTURES.md §C — `user_id`→mid,
  * `event_type`→page id, `ts` event time, `props` the raw JSON payload).
  *
  * Batch renderings of the stateful operators use window functions — the
  * same oracles SURVEY.md §2.6 assigns them; streaming renderings live in
  * `graft.streaming` and are parity-tested against these.
  */
object LogPipeline {

  /** Truncate event-time to whole seconds: keeps window/oracle arithmetic in
    * a precision both Spark and DuckDB agree on.
    */
  private def tsSec = date_trunc("second", col("ts"))

  /** P1: JSON parse with dirty-data split (`app/dwd/BaseLogApp.java:53-68`).
    * `from_json` yields null on corrupt input — the null side IS the side
    * output. Here: parse `props`, keep clean rows, expose parsed field.
    */
  def p1ParseClean(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      // try_cast, not cast: under ANSI a non-numeric $.k must route the row
      // to the dirty side (null), not throw — matching the oracle's TRY_CAST.
      .withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
      .filter(col("k").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"), col("k"))

  /** P2: type filter (`app/dwd/BaseDBApp.java:55-62` drops CDC deletes). */
  def p2DeleteFilter(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_type") =!= "error")
      .select("event_id", "user_id", "event_type", "value")

  /** P3: config-driven column pruning
    * (`app/function/TableProcessFunction.java:160-175`) — project only the
    * columns a config row allows; dynamic `select`.
    */
  def p3ColumnPrune(spark: SparkSession, dir: String): DataFrame = {
    val sinkColumns = Seq("event_id", "user_id", "event_type") // config value
    events(spark, dir).select(sinkColumns.map(col): _*)
  }

  /** P4: bean parse + derived time columns (`app/dwm/OrderWideApp.java:74-96`
    * splits create_time into date/hour/epoch).
    */
  def p4DerivedCols(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("create_date"),
      hour(col("ts")).cast("long").as("create_hour"),
      unix_timestamp(date_trunc("second", col("ts"))).as("create_ts"))

  /** P5+P6: stream normalization to a common stats bean with 0/1 measure
    * slots (`app/dws/VisitorStatsApp.java:59-109`) + conditional measure
    * (`:94-100` — sv=1 iff session start).
    */
  def p6ConditionalMeasure(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id"), col("user_id"),
      when(col("event_type") === "view", 1L).otherwise(0L).as("pv_ct"),
      when(col("event_type") === "click", 1L).otherwise(0L).as("click_ct"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("order_ct"),
      when(col("event_type") === "signup" && col("value") > 100, 1L).otherwise(0L).as("sv_ct"))

  /** SP1: log splitter (`app/dwd/BaseLogApp.java:100-138`): one parent stream
    * fanned out to start/page/display children, then re-united under a common
    * schema with a `stream` tag. In streaming this is one `foreachBatch` with
    * `persist()` fan-out; in batch Catalyst reuses the scan (self-union).
    */
  def sp1LogSplit(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val start   = ev.filter(col("event_type") === "signup")
      .select(lit("start").as("stream"), col("event_id"), col("user_id"), col("value"))
    val page    = ev.filter(col("event_type").isin("view", "click"))
      .select(lit("page").as("stream"), col("event_id"), col("user_id"), col("value"))
    val display = ev.filter(col("event_type") === "purchase")
      .select(lit("display").as("stream"), col("event_id"), col("user_id"), col("value"))
    start.unionByName(page).unionByName(display)
  }

  /** SP2: dynamic config-driven router
    * (`app/function/TableProcessFunction.java:126-153`): route each row by a
    * (sourceTable, operateType)-keyed config; unknown keys dropped. The
    * broadcast-state config becomes a small broadcast-joined DataFrame,
    * re-readable per micro-batch (ST3 semantics).
    */
  def sp2ConfigRouter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val config = Seq(
      ("view", "kafka", "dwd_page_log"),
      ("click", "kafka", "dwd_click_log"),
      ("purchase", "hbase", "dim_order"),
      ("signup", "hbase", "dim_user"))
      .toDF("source_type", "sink_type", "sink_table")
    events(spark, dir)
      .join(broadcast(config), col("event_type") === col("source_type")) // inner: unknown → dropped
      .select(col("event_id"), col("user_id"), col("event_type"), col("sink_type"), col("sink_table"))
  }

  /** P8: JSON-array flatten (`app/dws/ProductStatsApp.java:75-114`: one page
    * event fans out to a click row + N display rows via the `displays` JSON
    * array). Modeled as a lossless round-trip on `lineitem`: pack each
    * order's lines into a JSON array (the shape DWD ships on the wire),
    * then `from_json` + `explode` back to rows — the oracle is simply the
    * original rows, proving the flatten inverts the pack exactly.
    */
  def p8ExplodeJson(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val lineSchema = ArrayType(StructType(Seq(
      StructField("ln", IntegerType), StructField("qty", DoubleType))))
    val packed = lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(to_json(collect_list(struct(
        col("l_linenumber").as("ln"), col("l_quantity").as("qty")))).as("payload"))
    packed
      .select(col("l_orderkey"), explode(from_json(col("payload"), lineSchema)).as("line"))
      .select(col("l_orderkey"), col("line.ln").as("l_linenumber"), col("line.qty").as("l_quantity"))
  }

  /** ST1 (batch oracle): new/returning visitor correction
    * (`app/dwd/BaseLogApp.java:71-96`): only a mid's first-ever event keeps
    * is_new=1. Batch rendering: row_number over (user, event-time). The
    * streaming rendering keeps ValueState per user (graft.streaming),
    * parity-tested against this transform.
    */
  def st1Transform(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("is_new", when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select("event_id", "user_id", "is_new")
  }

  def st1IsNewFix(spark: SparkSession, dir: String): DataFrame =
    st1Transform(events(spark, dir))

  /** ST2 (batch oracle): daily UV dedup (`app/dwm/UniqueVisitApp.java:54-87`,
    * 24h-TTL keyed state): one row per (user, day) → UV count per day.
    */
  def st2Transform(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), to_date(col("ts")).as("dt"))
      .distinct()
      .groupBy(col("dt"))
      .agg(count(lit(1)).as("uv_ct"))
      .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"), col("uv_ct"))

  def st2DailyUv(spark: SparkSession, dir: String): DataFrame =
    st2Transform(events(spark, dir))

  /** J4 (batch oracle): CEP bounce detection
    * (`app/dwm/UserJumpDetailApp.java:68-117`): session-start event followed
    * strictly by another start within 10s → bounce; OR timeout with no
    * follow-up (side-output branch) → bounce. Here: event_type='view' is the
    * session start, timeout 10 minutes; `lead()` over (user, time) gives both
    * the matched and the timed-out branch in one pass. Streaming rendering:
    * `StreamOps.j4BounceDetect`, flatMapGroupsWithState with an event-time
    * timeout.
    */
  def j4Transform(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsSec.asc, col("event_id").asc)
    ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_ts", lead(tsSec, 1).over(w))
      .filter(col("event_type") === "view")
      .filter(
        // matched branch: immediately followed by another session start in-window
        (col("next_type") === "view" &&
          col("next_ts") <= tsSec + expr("INTERVAL 10 MINUTES")) ||
        // timeout branch: no follow-up event within the window at all
        col("next_ts").isNull || col("next_ts") > tsSec + expr("INTERVAL 10 MINUTES"))
      .select(col("event_id"), col("user_id"), date_format(tsSec, "yyyy-MM-dd HH:mm:ss").as("visit_ts"))
  }

  def j4BounceDetect(spark: SparkSession, dir: String): DataFrame =
    j4Transform(events(spark, dir))

  /** J4, the reference's ALTERNATE pattern form: `times(2).consecutive()`
    * (`app/dwm/UserJumpDetailApp.java:83-92`) instead of `begin().next()` —
    * "two strictly consecutive session starts within the window" plus the
    * timeout side-output. Semantically the same match set; rendered here as
    * a genuinely different plan (rank + rn→rn+1 self-join pairs consecutive
    * events, the relational shape of `consecutive()`) and parity-tested
    * equal to `j4Transform`'s `lead()` rendering. The self-join broadcasts/
    * SMJs on (user_id, rn) — at scale both renderings shuffle once on
    * user_id; `lead()` remains the cheaper default (no second join input).
    */
  def j4Times2Transform(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tss").asc, col("event_id").asc)
    val ranked = ev
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("tss"))
      .withColumn("rn", row_number().over(w))
    val follow = ranked.select(col("user_id").as("f_uid"), col("rn").as("f_rn"),
      col("event_type").as("f_type"), col("tss").as("f_tss"))
    ranked.as("a")
      .join(follow, col("a.user_id") === col("f_uid") && col("a.rn") + 1 === col("f_rn"),
        "left")
      .filter(col("a.event_type") === "view")
      .filter(
        // consecutive(×2) branch: the immediately-following event is
        // another session start inside the window
        (col("f_type") === "view" &&
          col("f_tss") <= col("a.tss") + expr("INTERVAL 10 MINUTES")) ||
        // timeout branch: nothing follows within the window
        col("f_tss").isNull || col("f_tss") > col("a.tss") + expr("INTERVAL 10 MINUTES"))
      .select(col("a.event_id").as("event_id"), col("a.user_id").as("user_id"),
        date_format(col("a.tss"), "yyyy-MM-dd HH:mm:ss").as("visit_ts"))
  }

  /** A1: visitor stats — keyed 10s tumbling event-time window with summed 0/1
    * measures (`app/dws/VisitorStatsApp.java:127-168`), window bounds
    * formatted to stt/edt exactly as the reference's WindowFunction stamps
    * them. Partial+final hash agg replaces Flink's reduce+finalize pair.
    */
  def a1Transform(ev: DataFrame): DataFrame =
    ev.select(col("ts"), col("event_type"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("pv_ct"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("click_ct"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("order_ct"),
        when(col("event_type") === "signup" && col("value") > 100, 1L).otherwise(0L).as("sv_ct"))
      .groupBy(window(col("ts"), "10 seconds"), col("event_type"))
      .agg(
        sum(col("pv_ct")).as("pv_ct"),
        sum(col("click_ct")).as("click_ct"),
        sum(col("order_ct")).as("order_ct"),
        sum(col("sv_ct")).as("sv_ct"),
        count(lit(1)).as("total_ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("pv_ct"), col("click_ct"), col("order_ct"),
        col("sv_ct"), col("total_ct"))

  def a1VisitorStats(spark: SparkSession, dir: String): DataFrame =
    a1Transform(events(spark, dir))

  /** A1, 4-dimension key parity: the reference keys VisitorStats by
    * (ar, ch, is_new, vc) — area, channel, new-visitor flag, version code
    * (`app/dws/VisitorStatsApp.java:127-136`) — with is_new supplied by the
    * DWM correction (`BaseLogApp.java:71-96`). The fixture has no
    * area/channel/version columns, so the dims are derived deterministically
    * (ar = user_id mod 10, ch = event_type, vc = event_id mod 3); is_new
    * comes from the ST1 transform feeding the window agg, the same DWM→DWS
    * chain as the reference. The OPERATOR is the point: a multi-column
    * grouped tumbling window downstream of a keyed correction — partial+
    * final hash agg on the compound key, one shuffle.
    */
  def a1Transform4d(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("is_new", when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select(col("ts"), col("event_type"),
        pmod(col("user_id"), lit(10L)).as("ar"),
        col("event_type").as("ch"),
        col("is_new"),
        pmod(col("event_id"), lit(3L)).as("vc"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("pv_ct"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("order_ct"))
      .groupBy(window(col("ts"), "10 seconds"),
        col("ar"), col("ch"), col("is_new"), col("vc"))
      .agg(sum(col("pv_ct")).as("pv_ct"),
        sum(col("order_ct")).as("order_ct"),
        count(lit(1)).as("total_ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("ar"), col("ch"), col("is_new"), col("vc"),
        col("pv_ct"), col("order_ct"), col("total_ct"))
  }

  def a1VisitorStats4d(spark: SparkSession, dir: String): DataFrame =
    a1Transform4d(events(spark, dir))

  /** A6 (beyond-reference windowing): session windows — Spark's
    * `session_window` with a 30-minute gap per user. The batch oracle is
    * the classic gap-and-island rendering (lag + cumulative sum), which is
    * also what DuckDB runs.
    */
  def a6SessionTransform(ev: DataFrame, gap: String = "30 minutes"): DataFrame =
    ev
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("events_ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        col("user_id"), col("events_ct"), col("value_sum"))

  def a6SessionWindows(spark: SparkSession, dir: String, gap: String = "30 minutes"): DataFrame =
    a6SessionTransform(events(spark, dir), gap)

  /** A7 (beyond-reference windowing): sliding windows — 10-minute width,
    * 5-minute slide; every event lands in width/slide buckets.
    */
  def a7SlidingWindows(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("ct"))

  /** A2: product-stats analog with exact distinct via set semantics
    * (`app/dws/ProductStatsApp.java:215-261`: HashSet accumulators sized at
    * finalize; Spark: `size(collect_set(...))` — identical result, and the
    * set column is dropped before the sink like `@TransientSink`). Uses
    * 1-day windows over events keyed by event_type ("product").
    * At 100 TB the drop-in replacement is `approx_count_distinct` (HLL).
    */
  def a2ProductStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        size(collect_set(col("user_id"))).cast("long").as("user_ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("amount"),
        count(lit(1)).as("ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("user_ct"), col("amount"), col("ct"))

  /** A14 (beyond-reference analytics): cohort retention — users grouped by
    * first-activity day, counted per day-offset since their cohort. One
    * whole-partition `min` window by user (the same shuffle-once shape as
    * A13), then a (cohort, offset)-keyed distinct count whose key space is
    * days², not events.
    */
  def a14CohortTransform(ev: DataFrame): DataFrame = {
    val perUser = Window.partitionBy("user_id")
    ev
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .withColumn("cohort_day", min(col("d")).over(perUser))
      .groupBy(col("cohort_day"), datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("users"))
  }

  def a14CohortRetention(spark: SparkSession, dir: String): DataFrame =
    a14CohortTransform(events(spark, dir))

  /** A15 (beyond-reference analytics): RFM segmentation. Per-user
    * recency/frequency/monetary metrics (one user-keyed aggregate), then
    * quartile boundaries from `percentile_disc` — actual data values, so
    * the strict-greater segment comparisons are exact integer/cent
    * comparisons with no float-interpolation tie ambiguity. Boundaries
    * are a ONE-ROW broadcast and assignment is map-side: no global NTILE
    * window, so the plan holds at any user cardinality (the same
    * boundary-broadcast discipline as `text_quality_buckets`' prefix
    * sum, but cheaper — RFM needs only the three cut points).
    */
  def a15RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val metrics = ev.groupBy("user_id").agg(
      max(to_date(col("ts"))).as("last_day"),
      count(when(col("event_type") === "purchase", 1)).as("frequency"),
      coalesce(sum(when(col("event_type") === "purchase",
        col("value").cast("decimal(18,2)"))), lit(0).cast("decimal(18,2)")).as("mon_dec"))
    val corpusMax = ev.agg(max(to_date(col("ts"))).as("corpus_max"))
    val m = metrics.crossJoin(broadcast(corpusMax))
      .withColumn("recency_days", datediff(col("corpus_max"), col("last_day")).cast("long"))
      .withColumn("mon_cents", (col("mon_dec") * 100).cast("long"))
    val bounds = m.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY recency_days)").as("r1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY recency_days)").as("r2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY recency_days)").as("r3"),
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY frequency)").as("f1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY frequency)").as("f2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY frequency)").as("f3"),
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY mon_cents)").as("m1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY mon_cents)").as("m2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY mon_cents)").as("m3"))
    def seg(c: Column, b1: String, b2: String, b3: String) =
      (lit(1) + (c > col(b1)).cast("int") + (c > col(b2)).cast("int") +
        (c > col(b3)).cast("int")).cast("long")
    m.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("mon_dec").cast("double").as("monetary"),
        seg(col("recency_days"), "r1", "r2", "r3").as("r_seg"),
        seg(col("frequency"), "f1", "f2", "f3").as("f_seg"),
        seg(col("mon_cents"), "m1", "m2", "m3").as("m_seg"))
  }

  /** A16 (beyond-reference analytics): last-touch revenue attribution —
    * each purchase credits the user's most recent strictly-earlier
    * non-purchase event type ("channel"); purchases with no prior touch
    * go to `direct`. One `last(..., ignoreNulls)` window over the shared
    * user partitioning, then a channel-keyed rollup whose key space is
    * the event-type catalog.
    */
  def a16AttributionTransform(ev: DataFrame): DataFrame = {
    val perUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(perUser))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("purchases"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  def a16LastTouchAttribution(spark: SparkSession, dir: String): DataFrame =
    a16AttributionTransform(events(spark, dir))

  /** SCD2 core: the event log as a per-user change stream with validity
    * intervals. A non-error event upserts the user's `value`; an `error`
    * event is the delete that closes the open interval without opening a
    * new one (the op mapping `sources/Cdc.normalizeOp` gives a Debezium
    * feed). `lead` runs over ALL ops so a delete closes its predecessor;
    * versions then number the surviving upserts. Both window passes share
    * one hash partitioning by user — a single shuffle, per-key sorts,
    * nothing global at any scale.
    */
  def scd2Transform(ev: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "error", "delete").otherwise("upsert").as("op"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(byKey))
      .filter(col("op") === "upsert")
      .withColumn("version", row_number().over(byKey).cast("long"))
  }

  private def scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Transform(events(spark, dir))

  /** CDC→SCD2 history (beyond-reference warehouse op): the type-2
    * slowly-changing-dimension rendering of the reference's dim stream —
    * where `sources/DimStore.upsert` keeps last-write-wins CURRENT rows
    * (the reference's Phoenix sink, `app/function/DimSinkFunction.java`),
    * this keeps every version with [valid_from, valid_to) and an
    * is_current flag, the audit-trail twin a warehouse ships alongside.
    */
  def cdcScd2History(spark: SparkSession, dir: String): DataFrame =
    scd2(spark, dir).select(
      col("user_id"), col("version"), col("value"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
      date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
      col("valid_to_ts").isNull.cast("int").as("is_current"))

  /** Time travel over the SCD2 history: the dimension as it stood at `at` —
    * the row whose validity interval covers the instant. A user whose open
    * interval was closed by a delete before `at` has no row, matching the
    * CDC delete semantics. Filter over `scd2`'s single-shuffle plan; the
    * predicate is map-side.
    */
  def cdcSnapshotAt(spark: SparkSession, dir: String,
      at: String = "2024-01-15 00:00:00"): DataFrame = {
    val hist = scd2(spark, dir)
    // cast the instant to ts's OWN type: the testdata parquet reads as
    // TIMESTAMP_NTZ and an LTZ literal would not compare against it
    val t = lit(at).cast(hist.schema("ts").dataType)
    hist.filter(col("ts") <= t && (col("valid_to_ts").isNull || col("valid_to_ts") > t))
      .select(col("user_id"), col("version"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"))
  }

  /** A13 (beyond-reference analytics): strictly-ordered conversion funnel
    * view → click → purchase over each user's history. Stage k's entry
    * time is the EARLIEST matching event strictly after stage k-1's —
    * three whole-partition `min` windows chained over ONE hash
    * partitioning by user (no self-joins, no global sort), then a
    * one-row distinct-user rollup. The multi-step sequence j4's two-step
    * CEP (`app/dwm/UserJumpDetailApp.java:68-117`) generalizes to.
    */
  /** Shared funnel staging: per-event rows carrying the user's stage entry
    * times (constant within a user partition).
    */
  private def funnelStaged(ev: DataFrame): DataFrame = {
    val perUser = Window.partitionBy("user_id")
    ev
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(perUser))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(perUser))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(perUser))
  }

  def a13FunnelTransform(ev: DataFrame): DataFrame =
    funnelStaged(ev)
      .agg(
        countDistinct(when(col("t1").isNotNull, col("user_id"))).as("n_view"),
        countDistinct(when(col("t2").isNotNull, col("user_id"))).as("n_view_click"),
        countDistinct(when(col("t3").isNotNull, col("user_id"))).as("n_view_click_purchase"))

  def a13EventFunnel(spark: SparkSession, dir: String): DataFrame =
    a13FunnelTransform(events(spark, dir))

  /** A17 (beyond-reference analytics): funnel time-to-convert — exact
    * percentiles of the view→click and click→purchase latencies among
    * converting users, in seconds. Latencies are exact microsecond longs
    * (`unix_micros`), percentiles the same exact-interpolated `percentile`
    * A8 hash-matches against `quantile_cont`; the percentile input is one
    * row per converting user, collapsed from `funnelStaged`'s shared
    * user partitioning.
    */
  def a17FunnelLatency(spark: SparkSession, dir: String): DataFrame =
    funnelStaged(events(spark, dir))
      .groupBy("user_id")
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .select(
        (unix_micros(col("t2").cast("timestamp")) -
          unix_micros(col("t1").cast("timestamp"))).as("lat12"),
        (unix_micros(col("t3").cast("timestamp")) -
          unix_micros(col("t2").cast("timestamp"))).as("lat23"))
      .agg(
        count(col("lat12")).as("n_view_click"),
        count(col("lat23")).as("n_click_purchase"),
        round(element_at(expr("percentile(lat12, array(0.5D, 0.9D))"), 1) / 1e6, 6).as("p50_view_click_s"),
        round(element_at(expr("percentile(lat12, array(0.5D, 0.9D))"), 2) / 1e6, 6).as("p90_view_click_s"),
        round(element_at(expr("percentile(lat23, array(0.5D, 0.9D))"), 1) / 1e6, 6).as("p50_click_purchase_s"),
        round(element_at(expr("percentile(lat23, array(0.5D, 0.9D))"), 2) / 1e6, 6).as("p90_click_purchase_s"))

  /** A18 (beyond-reference analytics): daily/rolling-weekly active users
    * and the DAU/WAU stickiness ratio. One DISTINCT (day, user) activity
    * table feeds both: DAU directly, rolling 7-day WAU by fanning each
    * activity day out to the ≤7 window days it covers (a bounded ×7
    * explode of the compact activity table — never a range self-join of
    * the corpus).
    */
  def a18ActiveTransform(ev: DataFrame): DataFrame = {
    val act = ev
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val dau = act.groupBy("d").agg(countDistinct("user_id").as("dau"))
    val wau = act
      .select(col("d"), col("user_id"), explode(sequence(lit(0), lit(6))).as("k"))
      .select(expr("date_add(d, k)").as("wd"), col("user_id"))
      .groupBy("wd").agg(countDistinct("user_id").as("wau7"))
    dau.join(wau, col("d") === col("wd"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("dau"), col("wau7"),
        round(col("dau").cast("double") / col("wau7"), 6).as("stickiness"))
  }

  def a18ActiveUsers(spark: SparkSession, dir: String): DataFrame =
    a18ActiveTransform(events(spark, dir))

  /** A20 (beyond-reference analytics): the first-order Markov transition
    * matrix over per-user event sequences — the path-analysis primitive
    * behind "where do users go next". One lag() per user's
    * (ts, event_id)-ordered stream yields (prev → next) pairs; the pair
    * aggregate is tiny (|event_type|² rows) so the per-prev probability
    * normalization windows over the AGGREGATE, never the corpus. At
    * scale: one user_id shuffle for the lag (shared with every other
    * per-user window op), one map-side-combined pair agg — the
    * normalization is driver-trivial.
    */
  def a20TransitionTransform(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_event", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_event").isNotNull)
      .groupBy(col("prev_event"), col("event_type").as("next_event"))
      .agg(count(lit(1)).as("pair_ct"))
    pairs.withColumn("prob",
      col("pair_ct").cast("double") /
        sum(col("pair_ct")).over(Window.partitionBy("prev_event")).cast("double"))
  }

  def a20PathTransitions(spark: SparkSession, dir: String): DataFrame =
    a20TransitionTransform(events(spark, dir))

  /** A21: top-20 three-step navigation paths — two lags over the same
    * per-user ordering (one shuffle, one sort, both lags in a single
    * Window node), concat to a path key, count, deterministic bounded
    * top-k (TakeOrderedAndProject: per-partition heaps, no global sort).
    */
  def a21PathTopk(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e1", lag(col("event_type"), 2).over(byUser))
      .withColumn("e2", lag(col("event_type"), 1).over(byUser))
      .filter(col("e1").isNotNull)
      .select(concat_ws(">", col("e1"), col("e2"), col("event_type")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("path_ct"))
      .orderBy(col("path_ct").desc, col("path").asc)
      .limit(20)
  }
}
