package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.LogPipeline
import graft.sources.{DimStore, LocalFs, Topics}

/** End-to-end streaming warehouse: the reference's ODS→DWD→DWS topology as
  * ONE Structured Streaming query over a topic source (`Topics` — real
  * `.format("kafka")` when a broker is configured, parquet-dir replay
  * otherwise, per SURVEY §7.0), with a `foreachBatch` fan-out that plays
  * the role of the reference's per-layer jobs:
  *
  *  - SP1 log split (`BaseLogApp.java:100-138`): one parent frame persisted,
  *    three filtered children to three sinks;
  *  - SP2/ST3 config routing (`TableProcessFunction.java:126-153` +
  *    broadcast state): the routing config is re-read every micro-batch —
  *    the Spark rendering of Flink broadcast-state refresh — so a config
  *    row inserted between batches N and N+1 routes batch N+1, exactly the
  *    reference's CDC-fed `table_process` behavior (`BaseDBApp.java:63-85`).
  *    Config rows carry (sink_pk, sink_columns) like the reference's
  *    `TableProcess` bean, honored by the dim path;
  *  - A1 windowed stats (`VisitorStatsApp.java:127-168`) appended to the
  *    stats sink (S7's ClickHouse `foreachBatch` JDBC write, parquet here).
  *
  * Checkpointing (ST8): the query restarts from `checkpointDir`;
  * `foreachBatch` is at-least-once, so each batch writes to a batch-scoped
  * STAGING dir and is then published into a `batch=<id>` partition dir
  * under each sink (dirty/facts/stats) with `LocalFs.replace`, so a replay
  * after a mid-batch crash rewrites the same batch dir instead of
  * appending duplicates. The staging is removed before the
  * `_committed_<id>` marker is written; the marker is just the fast-path
  * skip for the already-fully-committed case. Dim upserts are keyed and
  * idempotent, so replaying them is safe. Readers of the sinks see an
  * extra `batch` partition column recording provenance. (In kafka mode the
  * fact fan-out is the reference's own at-least-once dynamic producer —
  * `Topics.writeBatchDynamic`, topic per row — with idempotent consumers
  * downstream, matching `MyKafkaUtil.java:37`.)
  *
  * Stats-sink contract: rows in `stats/` are PER-BATCH PARTIALS keyed by
  * (stt, edt, event_type) — the reference's incremental ClickHouse appends
  * behave the same way — so downstream consumers must re-aggregate
  * (sum the measures grouping by the key) when a window spans batches.
  *
  * @param configDir when set, the routing config is re-read from this
  *                  parquet dir every micro-batch (the mutable, CDC-fed
  *                  `table_process` table); when None, a built-in default
  *                  config is used.
  */
class WarehouseJob(spark: SparkSession, outDir: String,
                   configDir: Option[String] = None) {

  val topics = new Topics(spark, outDir)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Config-misroute protection: a fact-sized stream routed to the dim
    * (hbase) side indicates a broken config row — fail the batch loud
    * instead of grinding a giant keyed upsert (`spark.graft.maxDimBatchRows`).
    */
  def maxDimBatchRows: Long =
    spark.conf.get("spark.graft.maxDimBatchRows", "100000").toLong

  /** Routing config — the reference's MySQL `table_process` CDC feed
    * (`TableProcessFunction.java:45-63`): (source event type → sink kind,
    * sink table, and for dim sinks the primary key + column list to
    * honor, `TableProcessFunction.java:66-122`). Re-loaded per batch from
    * `configDir` when set — config mutations are observed on the next
    * micro-batch, the broadcast-state refresh semantics.
    */
  def loadConfig(): DataFrame = configDir match {
    case Some(d) if new java.io.File(d).exists => spark.read.parquet(d)
    case _ =>
      import spark.implicits._
      Seq(
        ("view", "kafka", "dwd_page_log", null, null),
        ("click", "kafka", "dwd_click_log", null, null),
        ("purchase", "hbase", "dim_order", "user_id", "user_id,ts,value"),
        ("signup", "hbase", "dim_user", "user_id", "user_id,ts,value"))
        .toDF("source_type", "sink_type", "sink_table", "sink_pk", "sink_columns")
  }

  /** When `spark.graft.profileBatch=true`, per-section wall times for every
    * micro-batch are appended to `outDir/_profile.jsonl` — the attribution
    * record for the per-batch fixed-cost floor (one JSON line per batch).
    */
  private def profileEnabled: Boolean =
    spark.conf.get("spark.graft.profileBatch", "false").toBoolean

  /** Per-batch profile sink the DimStore phase hook writes through — set to
    * the live batch's accumulator inside `foreachBatch` (the store itself
    * is created once per query).
    */
  @volatile private var profRecord: (String, Double) => Unit = (_, _) => ()

  /** Runs the concurrent dim upserts. The job owns it: a shared pool's
    * reused threads keep the Spark local properties of whichever batch
    * created them. Daemon threads, reclaimed after a minute idle.
    */
  private val upsertPool = java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-dim-upsert")
    t.setDaemon(true)
    t
  }

  def start(sourceTopic: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val dims = new DimStore(spark, s"$outDir/dim",
      (name, sec) => profRecord(s"dim_phase_$name", sec))
    val raw = topics.readStream(sourceTopic, eventSchema)

    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new java.io.File(s"$outDir/_committed_$batchId")
        if (marker.exists()) ()
        else {
        val staging = new java.io.File(s"$outDir/_staging/$batchId")
        LocalFs.rmTree(staging) // stale staging from a crashed prior attempt
        val prof = scala.collection.mutable.LinkedHashMap[String, Double]()
        def record(section: String, dt: Double): Unit =
          // synchronized: the dim upserts time themselves from parallel threads
          prof.synchronized { prof(section) = prof.getOrElse(section, 0.0) + dt }
        profRecord = record
        def timed[T](section: String)(body: => T): T = {
          val t0 = System.nanoTime()
          val r = body
          record(section, (System.nanoTime() - t0) / 1e9)
          r
        }
        val ev = batch.persist() // SP1: one materialization, many children
        // released in the finally below even when the batch fails (a leaked
        // persisted frame accumulates storage blocks over a long stream)
        var routed: Option[DataFrame] = None
        try {
          // DWD: parse + dirty split (P1)
          // try_cast: malformed $.k routes to dirty (null) instead of
          // throwing under ANSI — this branch exists to absorb dirty input.
          val parsed = ev.withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
          timed("dirty_write") {
            parsed.filter(col("k").isNull).write.mode(SaveMode.Overwrite)
              .parquet(s"$staging/dirty")
          }
          val clean = parsed.filter(col("k").isNotNull)

          // SP2/ST3: config re-read + route (broadcast join, inner = drop
          // unknown); config is tiny by contract — only IT is collected.
          // Collected ONCE into a local relation (not localCheckpoint'd:
          // checkpoint blocks for a per-batch frame would need explicit
          // release every batch or they accumulate over a long stream).
          val cfgSrc = loadConfig()
          val cfgRows = timed("config_load")(cfgSrc.collect())
          val cfg = spark.createDataFrame(
            java.util.Arrays.asList(cfgRows: _*), cfgSrc.schema)
          val r = clean.join(broadcast(cfg.drop("sink_pk", "sink_columns")),
            col("event_type") === col("source_type")).persist()
          routed = Some(r)
          timed("facts_write") {
            if (topics.resolvedBroker.isDefined)
              // S5 kafka mode: the reference's dynamic at-least-once producer
              topics.writeBatchDynamic(
                r.filter(col("sink_type") === "kafka")
                  .select("event_id", "ts", "user_id", "event_type", "value", "sink_table"),
                "sink_table", s"$staging/facts")
            else
              r.filter(col("sink_type") === "kafka")
                .select("event_id", "ts", "user_id", "event_type", "value", "sink_table")
                .write.mode(SaveMode.Overwrite).partitionBy("sink_table")
                .parquet(s"$staging/facts") // S5: dynamic per-row topic
          }

          // S8/S9: dim sinks, honoring each config row's (pk, columns) —
          // `TableProcessFunction.java:66-122`. The DATA never reaches the
          // driver (keyed distributed upsert); only config rows do.
          // Misroute guard: ONE job counts every dim table's slice (the
          // per-table count() loop was one sequential job per table).
          val dimCfgs = cfgRows.filter(_.getAs[String]("sink_type") == "hbase")
          val dimCounts: Map[String, Long] =
            if (dimCfgs.isEmpty) Map.empty
            else timed("dim_counts") {
              r.filter(col("sink_type") === "hbase")
                .groupBy(col("sink_table")).agg(count(lit(1)).as("n"))
                .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
            }
          // config validation stays sequential (loud, deterministic errors)…
          val dimPlans = dimCfgs.map { c =>
              val table = c.getAs[String]("sink_table")
              val pk = c.getAs[String]("sink_pk")
              // null-safe BEFORE split: a NULL sink_columns must hit the
              // loud config-error message below, not an NPE
              val cols = Option(c.getAs[String]("sink_columns"))
                .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
                .getOrElse(Seq.empty)
              require(pk != null && cols.contains(pk),
                s"dim config for $table: sink_pk '$pk' must be one of sink_columns " +
                  s"'${cols.mkString(",")}' (both non-null)")
              val n = dimCounts.getOrElse(table, 0L)
              require(n <= maxDimBatchRows,
                s"dim batch for $table has $n rows (> $maxDimBatchRows): " +
                  "fact-sized stream routed to a dim sink — check the routing config")
              (table, pk, cols, n)
            }
          // …the upserts themselves run CONCURRENTLY: each targets its own
          // table dir (independent state), and local[32] has idle slots
          // while one small upsert's two jobs run — the reference writes
          // its dims from parallel Phoenix sink subtasks for the same
          // reason. Failures fail the batch, but only after EVERY future
          // has finished (success or failure): leaving a sibling upsert
          // running while the batch fails would let a same-JVM restart's
          // replayed upsert race the orphan on the shared staging dir and
          // the bucket renames. Each upsert runs under this batch's Spark
          // local properties (batch id, query id, job group), so its jobs
          // are cancelled by `stop()` and counted with the batch.
          val upserts = dimPlans.filter(_._4 > 0).map { case (table, pk, cols, _) =>
            SQLExecution.withThreadLocalCaptured(
                spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], upsertPool) {
              timed(s"dim_upsert_$table") {
                dims.upsert(table,
                  r.filter(col("sink_table") === table).select(cols.map(col): _*),
                  pk, "ts")
              }
            }
          }
          // join every upsert, then rethrow the first failure unwrapped
          val failures = upserts.flatMap(f => scala.util.Try(f.join()).failed.toOption)
          failures.headOption.foreach(e => throw Option(e.getCause).getOrElse(e))

          // DWS: A1 visitor stats over the clean stream (per-batch PARTIAL
          // rows keyed by (stt,edt,event_type) — see class doc contract).
          // S7: JDBC (ClickHouse-style) appends when spark.graft.jdbc.url
          // is configured, staged parquet otherwise.
          timed("stats_write") {
            if (topics.resolvedJdbcUrl.isDefined)
              // batchId ⇒ stamped delete-then-insert: replay-idempotent like
              // the staged parquet publish (see Topics.writeBatchJdbc)
              topics.writeBatchJdbc(LogPipeline.a1Transform(clean), "visitor_stats",
                outDir, batchId)
            else
              LogPipeline.a1Transform(clean)
                .write.mode(SaveMode.Overwrite).parquet(s"$staging/stats")
          }

          // Publish: batch-scoped dirs replaced wholesale → replay-safe.
          timed("publish") {
            for (sink <- Seq("dirty", "facts", "stats")) {
              val src = new java.io.File(staging, sink)
              if (src.exists) LocalFs.replace(src, new java.io.File(s"$outDir/$sink/batch=$batchId"))
            }
            // staging first: a crash before the marker replays the batch
            // (idempotent); after it, nothing is left behind
            LocalFs.rmTree(staging)
            LocalFs.writeAtomic(marker, Array.empty)
          }
          if (profileEnabled) {
            // Locale.ROOT: the sidecar is JSON — a comma-decimal default
            // locale would emit invalid lines that crash the bench parser
            val line = prof.map { case (k, v) =>
              s""""$k":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))}""" }
              .mkString(s"""{"batch":$batchId,""", ",", "}\n")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/_profile.jsonl"),
              line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.APPEND)
            ()
          }
        } finally {
          routed.foreach(_.unpersist())
          ev.unpersist()
        }
        }
        ()
      }
      .start()
  }
}
