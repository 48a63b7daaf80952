package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.WarehouseJob

/** End-to-end streaming warehouse over a file-source replay of the real
  * sf0.001 events table: ODS(file topic) → DWD(parse/split/route) →
  * dims upsert + fact dirs → DWS windowed stats, all through one
  * checkpointed foreachBatch query.
  */
class WarehouseJobSpec extends SparkSpecBase {

  test("warehouse job lands dirty/facts/dims/stats layers from a file topic") {
    val out = Files.createTempDirectory("wh_out").toString
    val ckpt = Files.createTempDirectory("wh_ckpt").toString
    // file-stream sources read directories ("topics"); stage the table there
    val src = Files.createTempDirectory("wh_src").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(src)

    val job = new WarehouseJob(spark, out)
    val q = job.start(src, ckpt)
    q.processAllAvailable()
    q.stop()

    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val total = events.count()

    // facts: view/click routed to kafka-style dirs, partitioned by table
    val facts = spark.read.parquet(s"$out/facts")
    assert(facts.select("sink_table").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("dwd_click_log", "dwd_page_log"))
    val expectedFacts = events.filter(col("event_type").isin("view", "click")).count()
    assert(facts.count() == expectedFacts)

    // dims: purchase/signup upserted keyed by user
    val store = new graft.sources.DimStore(spark, s"$out/dim")
    val dimOrder = store.read("dim_order").get
    assert(dimOrder.count() ==
      events.filter(col("event_type") === "purchase").select("user_id").distinct().count())
    assert(dimOrder.groupBy("user_id").count().filter(col("count") > 1).count() == 0,
      "dim store must be unique per key")

    // stats: A1 windowed rows exist and measure sums reconcile
    val stats = spark.read.parquet(s"$out/stats")
    assert(stats.agg(sum("total_ct")).first().getLong(0) == total)

    // no dirty rows in this dataset (all props parse)
    assert(!new java.io.File(s"$out/dirty").exists() ||
      spark.read.parquet(s"$out/dirty").count() == 0)

    // ---- at-least-once replay idempotence (the ST8 commit contract) ----
    // 1. committed-marker fast path: replaying the whole topic from a
    //    FRESH checkpoint (= the worst-case redelivery) must not append
    val factsBefore = facts.count()
    val statsSumBefore = stats.agg(sum("total_ct")).first().getLong(0)
    val q2 = job.start(src, Files.createTempDirectory("wh_ckpt2").toString)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$out/facts").count() == factsBefore,
      "marker skip must prevent duplicate facts on replay")

    // 2. crashed-before-marker path: markers gone, batch dirs still there
    //    (crash between publish and marker) — republish must REPLACE the
    //    batch-scoped dirs wholesale, not append to them
    new java.io.File(out).listFiles().filter(_.getName.startsWith("_committed_"))
      .foreach(_.delete())
    val q3 = job.start(src, Files.createTempDirectory("wh_ckpt3").toString)
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(s"$out/facts").count() == factsBefore,
      "wholesale batch-dir replace must prevent duplicates after a marker-less replay")
    assert(spark.read.parquet(s"$out/stats").agg(sum("total_ct")).first().getLong(0)
      == statsSumBefore,
      "stats partials must be replaced, not appended, on replay")
    assert(new java.io.File(s"$out/_committed_0").exists(), "marker rewritten after republish")
  }

  test("ST3 mutable config: rows inserted between batches route the NEXT batch; dims honor per-table pks") {
    import spark.implicits._
    val out = Files.createTempDirectory("whc_out").toString
    val cfg = Files.createTempDirectory("whc_cfg").toString
    val src = Files.createTempDirectory("whc_src").toString
    // initial config: clicks are NOT routed; two dim tables with DIFFERENT
    // configured pks and column lists
    Seq(
      ("view", "kafka", "dwd_page_log", null: String, null: String),
      ("purchase", "hbase", "dim_order", "user_id", "user_id,ts,value"),
      ("signup", "hbase", "dim_user", "event_id", "event_id,user_id,ts"))
      .toDF("source_type", "sink_type", "sink_table", "sink_pk", "sink_columns")
      .write.mode("overwrite").parquet(cfg)

    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.write.mode("overwrite").parquet(src)

    val job = new WarehouseJob(spark, out, Some(cfg))
    val q = job.start(src, Files.createTempDirectory("whc_ckpt").toString)
    q.processAllAvailable()

    // batch 0: click events dropped (no config row for them)
    val facts0 = spark.read.parquet(s"$out/facts")
    assert(facts0.select("sink_table").distinct().collect().map(_.getString(0)).toSeq
      == Seq("dwd_page_log"), "unrouted click events must be dropped in batch 0")

    // table_process insert observed by the NEXT micro-batch
    // (TableProcessFunction.java:45-63 broadcast-state refresh)
    Seq(("click", "kafka", "dwd_click_log", null: String, null: String))
      .toDF("source_type", "sink_type", "sink_table", "sink_pk", "sink_columns")
      .write.mode("append").parquet(cfg)
    events.write.mode("append").parquet(src) // second delivery = batch 1
    q.processAllAvailable()
    q.stop()

    val facts = spark.read.parquet(s"$out/facts")
    assert(facts.filter(col("batch") === 1)
      .select("sink_table").distinct().collect().map(_.getString(0)).sorted.toSeq
      == Seq("dwd_click_log", "dwd_page_log"),
      "config row inserted between batches must route batch 1")

    // dims: each table keyed by ITS configured pk with ITS column list
    val store = new graft.sources.DimStore(spark, s"$out/dim")
    val dimOrder = store.read("dim_order").get
    assert(dimOrder.columns.sorted.toSeq == Seq("ts", "user_id", "value"))
    assert(dimOrder.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    val dimUser = store.read("dim_user").get
    assert(dimUser.columns.sorted.toSeq == Seq("event_id", "ts", "user_id"))
    assert(dimUser.count() ==
      events.filter(col("event_type") === "signup").select("event_id").distinct().count(),
      "event_id pk keeps one row per event, not per user")
  }

  test("ST8 crash-restart: checkpoint recovery + forced batch replay equals the uninterrupted run") {
    // The reference DESIGNS 5s exactly-once checkpointing
    // (app/dwd/BaseLogApp.java:38-45); the engine claims it via
    // checkpointed foreachBatch + idempotent staged publish. This spec is
    // the recovery EVIDENCE: kill the query mid-stream after ≥1 committed
    // batch, restart from the SAME checkpoint, then force a replay of the
    // last batch (delete its checkpoint commit marker AND the sink's own
    // fast-path marker so the batch fully re-executes through publish),
    // and assert every layer equals an uninterrupted run over the same
    // events. Stats are compared RE-AGGREGATED by window key — the sink's
    // documented per-batch-partial contract — because batch boundaries
    // (and so the partial rows) legitimately differ between the runs.
    val events = Tables.events(spark, "/root/testdata/sf0.001").localCheckpoint()
    val chunks = (0 until 4).map(i => events.filter(pmod(col("event_id"), lit(4)) === i))

    def factsSet(out: String) = spark.read.parquet(s"$out/facts")
      .select("event_id", "ts", "user_id", "event_type", "value", "sink_table")
      .collect().map(_.toSeq).toSet
    def statsAgg(out: String) = spark.read.parquet(s"$out/stats")
      .groupBy("stt", "edt", "event_type")
      .agg(sum("pv_ct").as("pv"), sum("click_ct").as("ck"), sum("order_ct").as("oc"),
        sum("sv_ct").as("sv"), sum("total_ct").as("tc"))
      .collect().map(_.toSeq).toSet
    def dimSet(out: String, t: String) =
      new graft.sources.DimStore(spark, s"$out/dim").read(t).get
        .collect().map(_.toSeq).toSet

    // oracle: uninterrupted run, all four chunks visible up front
    val oracleOut = Files.createTempDirectory("wh_cr_oracle").toString
    val oracleSrc = Files.createTempDirectory("wh_cr_osrc").toString
    chunks.foreach(_.write.mode("append").parquet(oracleSrc))
    val oq = new WarehouseJob(spark, oracleOut)
      .start(oracleSrc, Files.createTempDirectory("wh_cr_ockpt").toString)
    oq.processAllAvailable(); oq.stop()

    // interrupted run: two chunks, crash (stop), two more land while down,
    // restart from the SAME checkpoint
    val out = Files.createTempDirectory("wh_cr_out").toString
    val src = Files.createTempDirectory("wh_cr_src").toString
    val ckpt = Files.createTempDirectory("wh_cr_ckpt").toString
    val job = new WarehouseJob(spark, out)
    chunks(0).write.mode("append").parquet(src)
    val qa = job.start(src, ckpt)
    qa.processAllAvailable()
    chunks(1).write.mode("append").parquet(src)
    qa.processAllAvailable()
    qa.stop() // the crash, after ≥1 committed batch

    val commitsDir = new java.io.File(s"$ckpt/commits")
    val committedBeforeRestart = commitsDir.listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    assert(committedBeforeRestart.nonEmpty, "crash must land after ≥1 committed batch")

    chunks(2).write.mode("append").parquet(src)
    chunks(3).write.mode("append").parquet(src)
    val qb = job.start(src, ckpt)
    qb.processAllAvailable(); qb.stop()
    // the restart resumed MID-stream: it processed only the post-crash files
    val lastBatch = commitsDir.listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(lastBatch > committedBeforeRestart.max,
      "restart must append new batches to the same checkpoint lineage")
    assert(factsSet(out) == factsSet(oracleOut), "facts diverge after recovery")

    // forced replay: crash "between execution and checkpoint commit" — the
    // last batch's commit marker is gone, so restart re-executes it; the
    // sink marker is deleted too so the re-execution runs the FULL publish
    // path, not the fast-path skip
    assert(new java.io.File(s"$ckpt/commits/$lastBatch").delete())
    // the local checksum FS keeps a hidden .N.crc sidecar; left behind it
    // makes the replayed commit's rename fail as a phantom concurrent query
    new java.io.File(s"$ckpt/commits/.$lastBatch.crc").delete()
    new java.io.File(s"$out/_committed_$lastBatch").delete()
    val qc = job.start(src, ckpt)
    qc.processAllAvailable(); qc.stop()
    assert(new java.io.File(s"$out/_committed_$lastBatch").exists(),
      "replayed batch must republish and rewrite its marker")

    assert(factsSet(out) == factsSet(oracleOut), "facts diverge after forced replay")
    assert(statsAgg(out) == statsAgg(oracleOut), "re-aggregated stats diverge")
    for (t <- Seq("dim_order", "dim_user"))
      assert(dimSet(out, t) == dimSet(oracleOut, t), s"dim $t diverges")
    val dirtyCount = (o: String) =>
      if (new java.io.File(s"$o/dirty").exists()) spark.read.parquet(s"$o/dirty").count() else 0L
    assert(dirtyCount(out) == dirtyCount(oracleOut))
  }

  test("dim-batch guard: a fact-sized stream misrouted to the dim side fails loud") {
    import spark.implicits._
    val out = Files.createTempDirectory("whg_out").toString
    val cfg = Files.createTempDirectory("whg_cfg").toString
    val src = Files.createTempDirectory("whg_src").toString
    // misroute: the high-volume view stream declared as a dim sink
    Seq(("view", "hbase", "dim_broken", "user_id", "user_id,ts"))
      .toDF("source_type", "sink_type", "sink_table", "sink_pk", "sink_columns")
      .write.mode("overwrite").parquet(cfg)
    Tables.events(spark, "/root/testdata/sf0.001").write.mode("overwrite").parquet(src)

    spark.conf.set("spark.graft.maxDimBatchRows", "50")
    try {
      val job = new WarehouseJob(spark, out, Some(cfg))
      val q = job.start(src, Files.createTempDirectory("whg_ckpt").toString)
      val e = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("fact-sized stream routed to a dim sink")),
        s"expected the loud misroute guard, got: ${messages(e).mkString(" | ")}")
      q.stop()
    } finally spark.conf.unset("spark.graft.maxDimBatchRows")
  }

  test("every job started while batch N runs, dim upserts included, carries batch N and the query") {
    // Ground truth without timestamps: FENCE jobs run on this thread before
    // a slice becomes visible and after its batch finished. The listener
    // sees job starts in submission order, so the jobs between the two
    // fences are exactly that batch's.
    val events = Tables.events(spark, sf("sf0.001")).localCheckpoint()
    val slices = (0 until 3).map(i => events.filter(pmod(col("event_id"), lit(3)) === i))
    for (s <- slices) assert(s.filter(col("event_type").isin("purchase", "signup"))
      .select("event_type").distinct().count() == 2, "every slice must upsert both dim tables")
    val src = Files.createTempDirectory("whp_src")
    val fence = "graft.spec.fence"
    val seen = new java.util.concurrent.LinkedBlockingQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties()))
    }
    def jobsUntilFence(): Seq[java.util.Properties] = {
      spark.sparkContext.setLocalProperty(fence, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(fence, null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(p => p != null && p.getProperty(fence) == null).toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = new WarehouseJob(spark, Files.createTempDirectory("whp_out").toString)
        .start(src.toString, Files.createTempDirectory("whp_ckpt").toString)
      try {
        for ((slice, i) <- slices.zipWithIndex) {
          // one part file, moved in after the fence: the slice is one batch
          val stage = Files.createTempDirectory("whp_stage").resolve("s")
          slice.coalesce(1).write.parquet(stage.toString)
          val part = Files.list(stage).filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get
          jobsUntilFence()
          Files.move(part, src.resolve(s"slice-$i.parquet"))
          q.processAllAvailable()
          val n = q.lastProgress.batchId.toString
          val batchJobs = jobsUntilFence()
          // dirty/facts/stats writes, config and dim-count collects, 2 upserts
          assert(batchJobs.size >= 6, s"batch $n: only ${batchJobs.size} jobs")
          for (p <- batchJobs) {
            assert(p.getProperty("streaming.sql.batchId") == n,
              s"a job of batch $n carried batch ${p.getProperty("streaming.sql.batchId")}")
            assert(p.getProperty("sql.streaming.queryId") == q.id.toString)
            assert(p.getProperty("spark.jobGroup.id") == q.runId.toString)
          }
        }
      } finally q.stop()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
