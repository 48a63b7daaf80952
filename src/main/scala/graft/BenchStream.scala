package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Memory-stream row shapes (top-level so the product encoders derive; the
  * StreamingParitySpec convention). A J2 row is a left row when `left`,
  * else a right row: both sides of a slice arrive in one offset.
  */
case class BsJ2(left: Boolean, key: Long, ts: Timestamp)
case class BsDoc(doc_id: Long, text: String)

/** Streaming performance evidence — the one engine surface the batch bench
  * rows never touch (round-10 verdict item 2). Every streaming twin carries
  * parity + crash-recovery SPECS; this main records what they COST: per-batch
  * trigger wall, sustained rows/sec, and the state-store trajectory
  * (rows/bytes per batch) over a fixed replay, at 1× and 10× input.
  *
  * The reference's posture on this surface is parallelism-1 Flink jobs
  * (`app/dwd/BaseLogApp.java:35` and siblings); the engine claims micro-batch
  * scale, so the claims that need numbers are:
  *
  *  - `WarehouseJob` (ODS→DWD→DWS `foreachBatch` fan-out) is STATELESS
  *    across batches — per-batch wall must not trend upward over a replay
  *    (a leaked persisted frame or accumulating store would);
  *  - `CorpusJob` (ingest → incremental dedup → IVF refresh) keeps state
  *    that grows with SURVIVORS only — store rows after every batch must be
  *    monotone, ≤ cumulative ingest, and finish at the one-shot oracle's
  *    survivor count (batch-size invariance at bench scale). The corpus
  *    side of its candidate join is served by the PERSISTED band index
  *    (gated here to stay in lockstep with the survivor store), so the
  *    per-batch wall grows only with the narrow index scan; the artifact
  *    records the trajectory either way;
  *  - J2 (`j1IntervalJoin` [-15m, +5s]) holds the right side ~15 minutes
  *    past the watermark — state must PLATEAU at the retention horizon,
  *    not grow with the replay (Flink's interval-join retention contract);
  *  - `streamingNearDupPairs` holds Bands band-rows per admitted doc —
  *    state keys are bounded by docs × Bands and the trajectory is O(corpus)
  *    by design (the batch signature table's posture), recorded per batch.
  *
  * A [[Sweep.Family]]: the six leg kinds run in this order, each at every
  * factor, and `BENCH_STREAM.json` is rewritten after every leg; then the
  * gates run, and any violation exits nonzero (the BenchScale contract),
  * so timings from an invalid run cannot be cited.
  *
  * Env, read by [[Sweep.ctx]]: `SPARK_GRAFT_SF_DIR` (default sf0.1) and the
  * factors (`SPARK_GRAFT_SCALE_FACTOR` pins one, `SPARK_GRAFT_SCALE_FACTORS`
  * picks a list; default `1,10`). The replay is a fixed 20 batches (40 for
  * J2).
  */
object BenchStream extends Sweep.Family[(String, Sweep.Leg)] {
  import Sweep.{median, Ctx, Leg}

  val artifactFile = "BENCH_STREAM.json"
  override def defaultFactors: Seq[Int] = Seq(1, 10)
  private val Batches = 20

  /** The leg kinds in run order; each runs at every factor. The state-store
    * A/B (round-11 verdict item 7) repeats the stateful legs on RocksDB +
    * changelog checkpointing, probing the ~4 s/batch HDFS-backed
    * state-commit floor; same gates, recorded side by side.
    */
  private val kinds: Seq[(String, (Ctx, Int) => Leg)] = Seq(
    "warehouse" -> warehouseLeg,
    "corpus" -> corpusLeg,
    "j2_interval" -> (j2Leg(_, _, "hdfs")),
    "neardup" -> (neardupLeg(_, _, "hdfs")),
    "j2_interval_rocksdb" -> (j2Leg(_, _, "rocksdb")),
    "neardup_rocksdb" -> (neardupLeg(_, _, "rocksdb")))

  def legs(c: Ctx): Iterator[(String, Leg)] =
    kinds.iterator.flatMap { case (kind, leg) => c.factors.iterator.map(f => kind -> leg(c, f)) }

  def artifact(c: Ctx, done: Seq[(String, Leg)]): Sweep.Fields =
    Seq("metric" -> "bench_stream", "sf" -> c.sfDir, "batches" -> Batches,
      "factors" -> c.factors,
      "legs" -> Sweep.obj(done.map(_._1).distinct.map { kind =>
        kind -> Sweep.obj(done.collect { case (`kind`, l) => l.name -> Sweep.obj(l.fields: _*) }: _*)
      }: _*))

  def gates(done: Seq[(String, Leg)]): Unit = done.foreach(_._2.gate())

  /** One data-carrying trigger of a query: input rows, trigger wall, state. */
  private final case class Batch(rows: Long, ms: Long, stateRows: Long, stateBytes: Long) {
    def sec: Double = ms / 1000.0
  }

  /** The data-carrying triggers in the query's progress ring. */
  private def progress(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      Batch(p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }

  /** The fields every leg starts with; `rows` is the leg's input. */
  private def legFields(factor: Int, rows: Long, prog: Seq[Batch]): Sweep.Fields = {
    val ms = prog.map(_.ms).sum
    Seq("factor" -> factor, "input_rows" -> rows, "batches" -> prog.size,
      "trigger_wall_sec" -> ms / 1000.0,
      "rows_per_sec" -> (if (ms > 0) math.round(rows * 1000.0 / ms) else 0L),
      "batch_sec" -> prog.map(_.sec))
  }

  // ---- leg 1: WarehouseJob over an incremental file-topic replay ---------

  private def warehouseLeg(c: Ctx, factor: Int): Leg = {
    val spark = c.spark
    val src = SweepTmp.dir("bstream_wh_src")
    val out = SweepTmp.dir("bstream_wh_out")
    val ckpt = SweepTmp.dir("bstream_wh_ckpt")
    val events = Tables.events(spark, c.sfDir)
    // per-section wall attribution (the fixed-cost floor's breakdown) —
    // negligible overhead (driver-side timers), medians land in the artifact
    spark.conf.set("spark.graft.profileBatch", "true")
    val job = new graft.streaming.WarehouseJob(spark, out)
    val q = job.start(src, ckpt)
    var total = 0L
    try {
      (0 until Batches).foreach { b =>
        // batch b = slice b of every replica, landed as new files in the
        // topic dir (the file source picks up arrivals per trigger)
        val slice = (0 until factor).map { r =>
          events.filter(col("event_id") % Batches === b)
            .withColumn("event_id", col("event_id") + lit(r.toLong * 1000000000L))
            .withColumn("user_id", col("user_id") + lit(r.toLong * 1000000000L))
        }.reduce(_ unionByName _)
        val tmp = SweepTmp.dir(s"bstream_wh_b$b")
        slice.coalesce(4).write.mode("overwrite").parquet(tmp)
        new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(f => graft.sources.LocalFs.replace(f, new java.io.File(src, s"b${b}_${f.getName}")))
        q.processAllAvailable()
      }
      total = spark.read.parquet(src).count()
    } finally q.stop()
    val prog = progress(q)
    val walls = prog.map(_.sec)
    // measure-conservation: the DWS stats partials must re-aggregate to the
    // clean ingest (every routed row counted exactly once upstream).
    // coalesce: an empty stats sink must fail the GATE below with a real
    // message, not NPE before the artifact is written; cleanRows is
    // measured (total minus the dirty sink), not assumed zero-dirty.
    val statsSum = spark.read.parquet(s"$out/stats")
      .agg(coalesce(sum("total_ct"), lit(0L))).first().getLong(0)
    val dirtyRows =
      if (new java.io.File(s"$out/dirty").exists) spark.read.parquet(s"$out/dirty").count()
      else 0L
    val cleanRows = total - dirtyRows
    // stateless-job gate: wall median of the last 5 batches vs batches 1–5
    // (batch 0 pays codegen warmup) — an accumulating leak trends upward
    val warm = walls.drop(1).take(5)
    val tail = walls.takeRight(5)
    // under 12 batches warm and tail windows overlap — too short to assess a
    // trend, so the gate passes vacuously (the batch count is in the artifact)
    val trendOk = walls.size < 12 || median(tail) <= 2.5 * median(warm)
    // per-section medians from the profile sidecar: where the per-batch
    // wall actually goes (dirty/facts/stats writes, dim upserts, publish);
    // a section missing from a batch's line counts as 0 s there. The file
    // reader skips `_`-prefixed files, so its lines are handed over as is.
    val profile = java.nio.file.Paths.get(s"$out/_profile.jsonl")
    val sections: Seq[(String, Double)] =
      if (!java.nio.file.Files.exists(profile)) Nil
      else {
        import spark.implicits._
        val lines = java.nio.file.Files.readAllLines(profile)
        val prof = spark.read.json(spark.createDataset(lines)).drop("batch")
        val perBatch = prof.select(prof.columns.map(k =>
          coalesce(col(k).cast("double"), lit(0.0)).as(k)): _*).collect().toSeq
        prof.columns.toSeq.map(k => k -> median(perBatch.map(_.getAs[Double](k))))
          .sortBy(-_._2)
      }
    val fields = legFields(factor, total, prog) ++ Seq("stats_total_ct" -> statsSum,
      "dirty_rows" -> dirtyRows, "trend_ok" -> trendOk,
      "section_sec_median" -> Sweep.obj(sections: _*))
    Leg(s"x$factor", fields, () => {
      if (statsSum != cleanRows || cleanRows == 0) throw new IllegalStateException(
        s"stream bench invalid: warehouse x$factor stats partials sum $statsSum != " +
          s"clean ingest $cleanRows (total $total, dirty $dirtyRows)")
      if (!trendOk) throw new IllegalStateException(
        s"stream bench invalid: warehouse x$factor per-batch wall trends upward " +
          s"(first-5 median ${median(warm)} s, last-5 median ${median(tail)} s) — " +
          "the foreachBatch fan-out must stay stateless across batches")
    })
  }

  // ---- leg 2: CorpusJob ingest→dedup→IVF over a MemoryStream replay ------

  private def corpusDocs(spark: SparkSession, sfDir: String, factor: Int): Seq[graft.streaming.CorpusJob.CorpusDoc] = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val base = docs.join(embs, "doc_id").orderBy("doc_id")
      .as[(Long, String, Seq[Float])].collect().toSeq
    (0 until factor).flatMap { r =>
      base.map { case (id, t, e) =>
        // every token salted per replica: replicas share NO shingles, so
        // within-replica dup structure is preserved and survivors scale
        val text = if (r == 0) t else t.split(' ').map(w => s"$w$r").mkString(" ")
        graft.streaming.CorpusJob.CorpusDoc(id + r.toLong * 100000000L, text, e)
      }
    }.sortBy(_.doc_id)
  }

  private def dirBytes(d: java.io.File): Long = {
    val kids = d.listFiles()
    if (kids == null) (if (d.isFile) d.length() else 0L)
    else kids.map(dirBytes).sum
  }

  private def corpusLeg(c: Ctx, factor: Int): Leg = {
    val spark = c.spark
    import spark.implicits._
    val main = corpusDocs(spark, c.sfDir, factor)
    val chunk = math.max(1, main.size / Batches)
    // cold tail: 5 batches of UNIQUE documents (every token salted per
    // doc, so no shingle is shared with anything) landing when the store
    // is at its LARGEST — the novel-arrival regime a production ingest
    // mostly runs in. The bloom sidecar must rule these batches out
    // driver-side, so their per-batch read bytes stay near zero however
    // big the store is: the round-13 verdict's "per-batch bytes FLAT as
    // the store grows" gate, measured where it is structurally decidable.
    val coldBatches = 5
    val cold = (0 until coldBatches * chunk).map { i =>
      val t = main(i % main.size)
      graft.streaming.CorpusJob.CorpusDoc(100000000000L + i,
        t.text.split(' ').map(w => s"${w}c$i").mkString(" "), t.embedding)
    }
    val all = main ++ cold
    val stateDir = SweepTmp.dir("bstream_corpus_state")
    val ckpt = SweepTmp.dir("bstream_corpus_ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[graft.streaming.CorpusJob.CorpusDoc]
    val q = graft.streaming.CorpusJob.start(in.toDF(), stateDir, ckpt)
    val storeRows = scala.collection.mutable.ArrayBuffer[Long]()
    val storeBytes = scala.collection.mutable.ArrayBuffer[Long]()
    val rebuilds = scala.collection.mutable.ArrayBuffer[Long]()
    val batchBytes = scala.collection.mutable.ArrayBuffer[Long]()
    val l0Files = scala.collection.mutable.ArrayBuffer[Int]()
    try {
      all.grouped(chunk).foreach { docs =>
        // per-batch task input bytes (parquet probe/fetch reads; the
        // MemoryStream source reads no files) — the sublinear-probe evidence
        batchBytes += c.log.inputBytesOf { in.addData(docs); q.processAllAvailable() }
        val sidecar = java.nio.file.Paths.get(s"$stateDir/corpus_rows")
        storeRows += (if (java.nio.file.Files.exists(sidecar))
          new String(java.nio.file.Files.readAllBytes(sidecar)).trim.toLong else 0L)
        storeBytes += dirBytes(new java.io.File(s"$stateDir/corpus"))
        rebuilds += graft.streaming.CorpusJob.rebuildCount(stateDir)
        l0Files += Option(new java.io.File(s"$stateDir/bands").listFiles())
          .getOrElse(Array.empty).count(_.getName.startsWith("append_"))
      }
    } finally q.stop()
    val prog = progress(q)
    val survivors = storeRows.last
    val parquetRows = spark.read.parquet(s"$stateDir/corpus").count()
    val bandsStoreBytes = dirBytes(new java.io.File(s"$stateDir/bands"))
    // retrieval pruning evidence: the cell-partitioned store must let a
    // 2-of-4-cell probe read strictly less than the all-cells probe
    val queries = Tables.embeddings(spark, c.sfDir).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("q_emb"))
      .localCheckpoint()
    def retrieveBytes(nProbe: Int): Long = c.log.inputBytesOf {
      graft.streaming.CorpusJob.retrieve(spark, stateDir, queries, k = 3, nProbe = nProbe)
        .collect()
    }
    val prunedRetrieveBytes = retrieveBytes(2)
    val fullRetrieveBytes = retrieveBytes(4)
    // persisted band index in lockstep: exactly Bands rows per survivor
    // (crash-free replay — the crash window's redundant rows are allowed
    // only in the spec's forced-replay scenario, never here)
    val bandIdxRows = graft.streaming.CorpusJob.readBands(spark, stateDir).count()
    // one-shot oracle: the whole replay as a single batch (the batch-size
    // invariance contract the parity spec gates at sf0.001, re-checked at
    // bench scale off the timed path)
    val oneDir = SweepTmp.dir("bstream_corpus_oracle")
    graft.streaming.CorpusJob.processBatch(spark, all.toDF(), oneDir)
    val oracleSurvivors = spark.read.parquet(s"$oneDir/corpus").count()
    val monotone = storeRows.zip(storeRows.tail).forall { case (a, b) => a <= b }
    // rare-coarse-rebuild contract (round-11 verdict item 4): full IVF
    // rebuilds happen only while the seed set is forming (< nCells=4
    // survivors). Every bench batch lands hundreds of docs, so the seed set
    // completes within the FIRST batch — any rebuild after a batch that
    // ended with ≥4 survivors is a regression of the append fast path.
    val rebuildsOk = rebuilds.nonEmpty && rebuilds.head >= 1 &&
      storeRows.zip(rebuilds).zip(rebuilds.tail).forall {
        case ((rows, rb), rbNext) => rows < 4 || rbNext == rb
      }
    // sublinear-probe gates (round-13 verdict item: the per-batch candidate
    // probe must not scan the whole store):
    //  - cold-tail flatness: the 5 unique-doc batches land on the LARGEST
    //    store; their read bytes (median — one may absorb a compaction)
    //    must still equal the replay's store-independent per-batch floor,
    //    i.e. the bloom prefilter and bucket/row-group pruning kept the
    //    probe off the corpus;
    //  - L0 bound: appends since the last compaction never exceed
    //    compactEvery — the probe's scan-all term stays bounded;
    //  - retrieval pruning: the 2-of-4-cell probe reads strictly less than
    //    the all-cells probe over the cell-partitioned store.
    val coldBytes = batchBytes.takeRight(coldBatches)
    val coldMedian = median(coldBytes.toSeq)
    val tailStoreBytes = storeBytes.last + bandsStoreBytes
    // Gate fix (r14, measurement bug): every batch pays a store-INDEPENDENT
    // read floor proportional to its own input (the batch materialization's
    // block reads land in inputMetrics too — at ×10 batch size that floor
    // alone crossed the old `0.15 × store` line while the probe term it was
    // meant to bound stayed zero). The floor is observable in-replay: the
    // EARLIEST batches run against a near-empty store, so min(batchBytes)
    // ≈ floor + ~nothing. The invariant the round-13 verdict asked for —
    // novel-arrival cost FLAT as the store grows — is exactly "the cold
    // tail, which lands on the LARGEST store, still reads only the floor":
    // a store-scanning probe would add O(store) on top and fail loudly.
    // (Old numerator/denominator still recorded in the artifact:
    // cold_read_bytes_median, store_bytes, bands_store_bytes.)
    // Floor = MEDIAN of the coldBatches batches after the first (ADVICE
    // r14): those run against the near-empty store with the same batch
    // sizing as the cold tail, so median-vs-median compares like with like
    // — the global min assumed every batch has identical input size and
    // ≤5% read-byte jitter, and a single small or page-aligned batch would
    // flake the gate with a healthy probe. The first batch is left out: it
    // bootstraps the store (IVF seeds, bloom and band-store creation, no
    // prior store to probe), a different read profile from the cold tail.
    // A store-scanning probe still adds O(store) ≫ 5% of a batch floor and
    // fails loudly. The raw min stays recorded alongside.
    val batchFloorBytes = batchBytes.min
    val floorMedian = median(batchBytes.slice(1, coldBatches + 1).toSeq)
    val coldFlatOk = coldMedian <= floorMedian * 1.05
    val compactEvery = spark.conf.get(
      graft.streaming.CorpusJob.CompactEveryConf,
      graft.streaming.CorpusJob.CompactEveryDefault.toString).toInt
    val l0Ok = l0Files.forall(_ <= compactEvery)
    val retrievePruneOk = prunedRetrieveBytes < fullRetrieveBytes &&
      prunedRetrieveBytes > 0
    val fields = legFields(factor, all.size.toLong, prog) ++ Seq(
      "store_rows" -> storeRows, "store_bytes" -> storeBytes, "rebuilds" -> rebuilds,
      "survivors" -> survivors, "oracle_survivors" -> oracleSurvivors,
      "band_index_rows" -> bandIdxRows, "batch_read_bytes" -> batchBytes,
      "l0_appends" -> l0Files, "cold_batches" -> coldBatches,
      "cold_read_bytes_median" -> coldMedian, "batch_floor_bytes" -> batchFloorBytes,
      "batch_floor_median_bytes" -> floorMedian, "bands_store_bytes" -> bandsStoreBytes,
      "retrieve_bytes_pruned" -> prunedRetrieveBytes,
      "retrieve_bytes_full" -> fullRetrieveBytes, "cold_flat_ok" -> coldFlatOk,
      "l0_ok" -> l0Ok, "retrieve_prune_ok" -> retrievePruneOk, "monotone" -> monotone,
      "rebuilds_ok" -> rebuildsOk)
    Leg(s"x$factor", fields, () => {
      if (!coldFlatOk) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor cold-tail read bytes " +
          s"(median $coldMedian over $coldBytes) exceed the replay's " +
          s"store-independent per-batch floor ($floorMedian, the " +
          s"near-empty-store batch median; raw min $batchFloorBytes) on a " +
          s"$tailStoreBytes-byte store — novel-arrival batches must stay " +
          "off the corpus (bloom prefilter + pruned probe)")
      if (!l0Ok) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor L0 append count $l0Files " +
          s"exceeded compactEvery=$compactEvery — compaction is not bounding " +
          "the probe's scan-all term")
      if (!retrievePruneOk) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor retrieve read " +
          s"$prunedRetrieveBytes bytes at nProbe=2 vs $fullRetrieveBytes at " +
          "nProbe=4 — cell partition pruning is not reaching the scan")
      if (!monotone) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor store rows not monotone: $storeRows")
      if (bandIdxRows != survivors * graft.pipeline.Dedup.Bands)
        throw new IllegalStateException(
          s"stream bench invalid: corpus x$factor band index $bandIdxRows rows != " +
            s"survivors $survivors × ${graft.pipeline.Dedup.Bands} — the persisted " +
            "band index fell out of lockstep with the survivor store")
      if (!rebuildsOk) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor rebuild counter $rebuilds regressed " +
          s"the append fast path (store rows $storeRows) — full rebuilds are " +
          "allowed only while the seed set is forming")
      if (survivors != parquetRows) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor sidecar $survivors != store $parquetRows")
      if (survivors != oracleSurvivors) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor streaming survivors $survivors != " +
          s"one-shot oracle $oracleSurvivors — batch-size invariance broken")
      if (survivors > all.size) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor survivors $survivors > ingest ${all.size}")
    })
  }

  // ---- leg 3: J2 interval-join state under watermark cleanup -------------

  /** Run `body` with the given state-store provider ("hdfs" = Spark's
    * default HDFSBackedStateStoreProvider; "rocksdb" = RocksDB with
    * changelog checkpointing — the commit-batching candidate for the
    * ~4 s/batch state-commit floor, round-11 verdict item 7). The conf is
    * read at query START, so set-around-start is sufficient; restored after.
    */
  private def withStateStore[T](spark: SparkSession, provider: String)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val clKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    try {
      if (provider == "rocksdb") {
        spark.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        spark.conf.set(clKey, "true")
      }
      body
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
      spark.conf.unset(clKey)
    }
  }

  private def j2Leg(c: Ctx, factor: Int, provider: String): Leg = {
    val spark = c.spark
    val (nBatches, rowsPerBatch) = (40, 200)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // one source, split by a filter: a slice's left and right rows land in
    // ONE offset, so no trigger can fire between the two halves
    val in = MemoryStream[BsJ2]
    def side(left: Boolean, p: String) = in.toDF().filter(col("left") === left)
      .select(col("key").as(s"${p}_key"), col("ts").as(s"${p}_ts"))
    val joined = graft.streaming.StreamOps.j1IntervalJoin(side(true, "l"), side(false, "r"),
      lowerBound = "15 minutes", upperBound = "5 seconds")
    val q = withStateStore(spark, provider) {
      joined.writeStream.format("noop")
        .option("checkpointLocation", SweepTmp.dir("bstream_j2_ckpt")).start()
    }
    val n = rowsPerBatch * factor
    try {
      for (b <- 0 until nBatches) {
        val t0 = base + b * 60000L
        in.addData((0 until n).flatMap { i =>
          val ts = t0 + (i % 50) * 1000L
          Seq(BsJ2(left = true, i.toLong, new Timestamp(ts)),
            BsJ2(left = false, i.toLong, new Timestamp(ts + 2000L)))
        })
        q.processAllAvailable()
      }
    } finally q.stop()
    val prog = progress(q)
    val states = prog.map(_.stateRows)
    val totalIngested = 2L * nBatches * n
    // retention horizon ≈ (15 min + 10 s) / 1-min batches ≈ 16 batches of
    // right rows: the store must plateau there, not track the replay length.
    // Gated as MID-replay median == TAIL median within a noise band (both
    // windows sit past the horizon, so linear growth separates them by
    // ~(40-23)/16 horizons ≈ 70% and fails; max-min over the tail alone
    // cannot see that — the round-11 ADVICE finding).
    val tail = states.takeRight(10)
    val mid = states.slice(18, 28)
    // under ~34 recorded batches the mid window is not fully past the
    // horizon — fall back to the tail-spread check alone (replay length is
    // in the artifact); the main always replays 40
    val midVsTailOk = states.size < 34 ||
      math.abs(median(tail) - median(mid)) <= math.ceil(0.15 * median(tail).max(1L)).toLong
    val plateauOk = tail.nonEmpty && midVsTailOk &&
      tail.max - tail.min <= math.ceil(0.25 * tail.max).toLong
    val boundOk = states.nonEmpty && states.last <= totalIngested / 2 && states.last > 0
    val fields = legFields(factor, totalIngested, prog) ++ Seq("state_rows" -> states,
      "state_bytes" -> prog.map(_.stateBytes), "plateau_ok" -> plateauOk, "bound_ok" -> boundOk)
    Leg(s"x$factor", fields, () => {
      if (!plateauOk) throw new IllegalStateException(
        s"stream bench invalid: j2 x$factor state did not plateau (last 10: $tail) — " +
          "watermark cleanup must bound interval-join state at the retention horizon")
      if (!boundOk) throw new IllegalStateException(
        s"stream bench invalid: j2 x$factor final state ${states.lastOption} vs ingest $totalIngested")
    })
  }

  // ---- leg 4: streaming near-dup band-index state -------------------------

  private def neardupLeg(c: Ctx, factor: Int, provider: String): Leg = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Tables.documents(spark, c.sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val all = (0 until factor).flatMap { r =>
      base.map { case (id, t) =>
        val text = if (r == 0) t else t.split(' ').map(w => s"$w$r").mkString(" ")
        BsDoc(id + r.toLong * 100000000L, text)
      }
    }.sortBy(_.doc_id)
    val in = MemoryStream[BsDoc]
    val q = withStateStore(spark, provider) {
      graft.streaming.StreamOps.streamingNearDupPairs(in.toDF())
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", SweepTmp.dir("bstream_nd_ckpt")).start()
    }
    val chunk = math.max(1, all.size / Batches)
    try {
      all.grouped(chunk).foreach { c => in.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val prog = progress(q)
    val states = prog.map(_.stateRows)
    // state keys = populated band buckets ≤ admitted docs × Bands — the
    // O(corpus) posture of the batch signature table, never more
    val bound = all.size.toLong * graft.pipeline.Dedup.Bands
    val boundOk = states.nonEmpty && states.last > 0 && states.last <= bound
    val fields = legFields(factor, all.size.toLong, prog) ++ Seq("state_rows" -> states,
      "state_bytes" -> prog.map(_.stateBytes), "state_bound_rows" -> bound, "bound_ok" -> boundOk)
    Leg(s"x$factor", fields, () => {
      if (!boundOk) throw new IllegalStateException(
        s"stream bench invalid: neardup x$factor state ${states.lastOption} outside (0, $bound]")
    })
  }
}
