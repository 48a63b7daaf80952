package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Memory-stream row shapes for the J2 interval-join leg (top-level so the
  * product encoders derive; the StreamingParitySpec convention).
  */
case class BsL(l_key: Long, l_ts: Timestamp)
case class BsR(r_key: Long, r_ts: Timestamp)
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
  * Artifact first (`BENCH_STREAM.json`), nonzero exit on any gate violation
  * (the BenchScale contract), so timings from an invalid run cannot be cited.
  */
object BenchStream {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(s.size / 2)
  }

  /** Locale-pinned float rendering: the artifact is JSON, and the JVM
    * default locale on a comma-decimal host would make `"%.3f".format`
    * emit `1,234` — invalid JSON that crashes the artifact parser.
    */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def f0(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.0f", Double.box(v))

  /** Per-batch (inputRows, triggerExecution sec, stateRows, stateBytes) from
    * the query's progress ring, data-carrying triggers only.
    */
  private def progress(q: StreamingQuery): Seq[(Long, Double, Long, Long)] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      (p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.toDouble / 1000.0).getOrElse(0.0),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }

  private def legJson(name: String, factor: Int, rows: Long, batches: Int,
                      walls: Seq[Double], extra: String): String = {
    val wall = walls.sum
    val rps = if (wall > 0) rows / wall else 0.0
    s""""x$factor":{"factor":$factor,"input_rows":$rows,"batches":$batches,""" +
      s""""trigger_wall_sec":${f3(wall)},"rows_per_sec":${f0(rps)},""" +
      s""""batch_sec":[${walls.map(f3).mkString(",")}]$extra}"""
  }

  // ---- leg 1: WarehouseJob over an incremental file-topic replay ---------

  private def warehouseLeg(spark: SparkSession, sfDir: String, factor: Int,
                           nBatches: Int): (String, () => Unit) = {
    val src = SweepTmp.dir("bstream_wh_src")
    val out = SweepTmp.dir("bstream_wh_out")
    val ckpt = SweepTmp.dir("bstream_wh_ckpt")
    val events = Tables.events(spark, sfDir)
    // per-section wall attribution (the fixed-cost floor's breakdown) —
    // negligible overhead (driver-side timers), medians land in the artifact
    spark.conf.set("spark.graft.profileBatch", "true")
    val job = new graft.streaming.WarehouseJob(spark, out)
    val q = job.start(src, ckpt)
    var total = 0L
    try {
      (0 until nBatches).foreach { b =>
        // batch b = slice b of every replica, landed as new files in the
        // topic dir (the file source picks up arrivals per trigger)
        val slice = (0 until factor).map { r =>
          events.filter(col("event_id") % nBatches === b)
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
    val walls = prog.map(_._2)
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
    // wall actually goes (dirty/facts/stats writes, dim upserts, publish)
    val profFile = new java.io.File(s"$out/_profile.jsonl")
    val sections: Map[String, Double] =
      if (!profFile.exists) Map.empty
      else {
        val perBatch = scala.io.Source.fromFile(profFile).getLines().toSeq.map { l =>
          l.stripPrefix("{").stripSuffix("}").split(",").map(_.split(":"))
            .collect { case Array(k, v) if k != "\"batch\"" =>
              k.stripPrefix("\"").stripSuffix("\"") -> v.toDouble }.toMap
        }
        perBatch.flatMap(_.keys).distinct
          .map(k => k -> median(perBatch.map(_.getOrElse(k, 0.0)))).toMap
      }
    val sectionsJson = sections.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k":${f3(v)}""" }.mkString("{", ",", "}")
    val json = legJson("warehouse", factor, total, prog.size, walls,
      s""","stats_total_ct":$statsSum,"dirty_rows":$dirtyRows,"trend_ok":$trendOk,""" +
        s""""section_sec_median":$sectionsJson""")
    val enforce = () => {
      if (statsSum != cleanRows || cleanRows == 0) throw new IllegalStateException(
        s"stream bench invalid: warehouse x$factor stats partials sum $statsSum != " +
          s"clean ingest $cleanRows (total $total, dirty $dirtyRows)")
      if (!trendOk) throw new IllegalStateException(
        s"stream bench invalid: warehouse x$factor per-batch wall trends upward " +
          s"(first-5 median ${median(warm)} s, last-5 median ${median(tail)} s) — " +
          "the foreachBatch fan-out must stay stateless across batches")
    }
    (json, enforce)
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

  private def corpusLeg(spark: SparkSession, sfDir: String, factor: Int,
                        nBatches: Int): (String, () => Unit) = {
    import spark.implicits._
    val main = corpusDocs(spark, sfDir, factor)
    val chunk = math.max(1, main.size / nBatches)
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
    // per-batch task input bytes (parquet probe/fetch reads; the
    // MemoryStream source reads no files) — the sublinear-probe evidence
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val lsnr = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
        ()
      }
    }
    spark.sparkContext.addSparkListener(lsnr)
    try {
      all.grouped(chunk).foreach { c =>
        val b0 = bytesRead.get()
        in.addData(c)
        q.processAllAvailable()
        Thread.sleep(120) // listener-bus drain before the delta snapshot
        batchBytes += bytesRead.get() - b0
        val sidecar = java.nio.file.Paths.get(s"$stateDir/corpus_rows")
        storeRows += (if (java.nio.file.Files.exists(sidecar))
          new String(java.nio.file.Files.readAllBytes(sidecar)).trim.toLong else 0L)
        storeBytes += dirBytes(new java.io.File(s"$stateDir/corpus"))
        rebuilds += graft.streaming.CorpusJob.rebuildCount(stateDir)
        l0Files += Option(new java.io.File(s"$stateDir/bands").listFiles())
          .getOrElse(Array.empty).count(_.getName.startsWith("append_"))
      }
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(lsnr)
    }
    val prog = progress(q)
    val walls = prog.map(_._2)
    val survivors = storeRows.last
    val parquetRows = spark.read.parquet(s"$stateDir/corpus").count()
    val bandsStoreBytes = dirBytes(new java.io.File(s"$stateDir/bands"))
    // retrieval pruning evidence: the cell-partitioned store must let a
    // 2-of-4-cell probe read strictly less than the all-cells probe
    val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("q_emb"))
      .localCheckpoint()
    def retrieveBytes(nProbe: Int): Long = {
      val r0 = bytesRead.get()
      spark.sparkContext.addSparkListener(lsnr)
      try {
        graft.streaming.CorpusJob.retrieve(spark, stateDir, queries,
          k = 3, nProbe = nProbe).collect()
        Thread.sleep(120)
      } finally spark.sparkContext.removeSparkListener(lsnr)
      bytesRead.get() - r0
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
    val coldMedian = median(coldBytes.map(_.toDouble).toSeq)
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
    val floorMedian = median(batchBytes.slice(1, coldBatches + 1).map(_.toDouble).toSeq)
    val coldFlatOk = coldMedian <= floorMedian * 1.05
    val compactEvery = spark.conf.get(
      graft.streaming.CorpusJob.CompactEveryConf,
      graft.streaming.CorpusJob.CompactEveryDefault.toString).toInt
    val l0Ok = l0Files.forall(_ <= compactEvery)
    val retrievePruneOk = prunedRetrieveBytes < fullRetrieveBytes &&
      prunedRetrieveBytes > 0
    val json = legJson("corpus", factor, all.size.toLong, prog.size, walls,
      s""","store_rows":[${storeRows.mkString(",")}],""" +
        s""""store_bytes":[${storeBytes.mkString(",")}],""" +
        s""""rebuilds":[${rebuilds.mkString(",")}],""" +
        s""""survivors":$survivors,"oracle_survivors":$oracleSurvivors,""" +
        s""""band_index_rows":$bandIdxRows,""" +
        s""""batch_read_bytes":[${batchBytes.mkString(",")}],""" +
        s""""l0_appends":[${l0Files.mkString(",")}],""" +
        s""""cold_batches":$coldBatches,"cold_read_bytes_median":${f0(coldMedian)},""" +
        s""""batch_floor_bytes":$batchFloorBytes,""" +
        s""""batch_floor_median_bytes":${f0(floorMedian)},""" +
        s""""bands_store_bytes":$bandsStoreBytes,""" +
        s""""retrieve_bytes_pruned":$prunedRetrieveBytes,""" +
        s""""retrieve_bytes_full":$fullRetrieveBytes,""" +
        s""""cold_flat_ok":$coldFlatOk,"l0_ok":$l0Ok,""" +
        s""""retrieve_prune_ok":$retrievePruneOk,""" +
        s""""monotone":$monotone,"rebuilds_ok":$rebuildsOk""")
    val enforce = () => {
      if (!coldFlatOk) throw new IllegalStateException(
        s"stream bench invalid: corpus x$factor cold-tail read bytes " +
          s"(median ${f0(coldMedian)} over $coldBytes) exceed the replay's " +
          s"store-independent per-batch floor (${f0(floorMedian)}, the " +
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
    }
    (json, enforce)
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

  private def j2Leg(spark: SparkSession, factor: Int, nBatches: Int,
                    rowsPerBatch: Int, provider: String = "hdfs"): (String, () => Unit) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val lIn = MemoryStream[BsL]
    val rIn = MemoryStream[BsR]
    val joined = graft.streaming.StreamOps.j1IntervalJoin(lIn.toDF(), rIn.toDF(),
      lowerBound = "15 minutes", upperBound = "5 seconds")
    val q = withStateStore(spark, provider) {
      joined.writeStream.format("noop")
        .option("checkpointLocation", SweepTmp.dir("bstream_j2_ckpt")).start()
    }
    val n = rowsPerBatch * factor
    try {
      for (b <- 0 until nBatches) {
        val t0 = base + b * 60000L
        lIn.addData((0 until n).map(i => BsL(i.toLong, new Timestamp(t0 + (i % 50) * 1000L))))
        rIn.addData((0 until n).map(i => BsR(i.toLong, new Timestamp(t0 + (i % 50) * 1000L + 2000L))))
        q.processAllAvailable()
      }
    } finally q.stop()
    val prog = progress(q)
    val walls = prog.map(_._2)
    val states = prog.map(_._3)
    val bytes = prog.map(_._4)
    val totalIngested = 2L * nBatches * n
    // retention horizon ≈ (15 min + 10 s) / 1-min batches ≈ 16 batches of
    // right rows: the store must plateau there, not track the replay length.
    // Gated as MID-replay median == TAIL median within a noise band (both
    // windows sit past the horizon, so linear growth separates them by
    // ~(40-23)/16 horizons ≈ 70% and fails; max-min over the tail alone
    // cannot see that — the round-11 ADVICE finding).
    val tail = states.takeRight(10)
    val mid = states.slice(18, 28)
    def med(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    // under ~34 recorded batches the mid window is not fully past the
    // horizon — fall back to the tail-spread check alone (replay length is
    // in the artifact); the main always replays 40
    val midVsTailOk = states.size < 34 ||
      math.abs(med(tail) - med(mid)) <= math.ceil(0.15 * med(tail).max(1L)).toLong
    val plateauOk = tail.nonEmpty && midVsTailOk &&
      tail.max - tail.min <= math.ceil(0.25 * tail.max).toLong
    val boundOk = states.nonEmpty && states.last <= totalIngested / 2 && states.last > 0
    val json = legJson("j2_interval", factor, totalIngested, prog.size, walls,
      s""","state_rows":[${states.mkString(",")}],""" +
        s""""state_bytes":[${bytes.mkString(",")}],""" +
        s""""plateau_ok":$plateauOk,"bound_ok":$boundOk""")
    val enforce = () => {
      if (!plateauOk) throw new IllegalStateException(
        s"stream bench invalid: j2 x$factor state did not plateau (last 10: $tail) — " +
          "watermark cleanup must bound interval-join state at the retention horizon")
      if (!boundOk) throw new IllegalStateException(
        s"stream bench invalid: j2 x$factor final state ${states.lastOption} vs ingest $totalIngested")
    }
    (json, enforce)
  }

  // ---- leg 4: streaming near-dup band-index state -------------------------

  private def neardupLeg(spark: SparkSession, sfDir: String, factor: Int,
                         nBatches: Int, provider: String = "hdfs"): (String, () => Unit) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
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
    val chunk = math.max(1, all.size / nBatches)
    try {
      all.grouped(chunk).foreach { c => in.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val prog = progress(q)
    val walls = prog.map(_._2)
    val states = prog.map(_._3)
    val bytes = prog.map(_._4)
    // state keys = populated band buckets ≤ admitted docs × Bands — the
    // O(corpus) posture of the batch signature table, never more
    val bound = all.size.toLong * graft.pipeline.Dedup.Bands
    val boundOk = states.nonEmpty && states.last > 0 && states.last <= bound
    val json = legJson("neardup", factor, all.size.toLong, prog.size, walls,
      s""","state_rows":[${states.mkString(",")}],""" +
        s""""state_bytes":[${bytes.mkString(",")}],""" +
        s""""state_bound_rows":$bound,"bound_ok":$boundOk""")
    val enforce = () => {
      if (!boundOk) throw new IllegalStateException(
        s"stream bench invalid: neardup x$factor state ${states.lastOption} outside (0, $bound]")
    }
    (json, enforce)
  }

  // -------------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_STREAM_FACTORS", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "20").toInt
    val spark = GraftSession.get()

    def leg(mk: Int => (String, () => Unit)): (String, Seq[() => Unit]) = {
      val runs = factors.map(mk)
      (runs.map(_._1).mkString(","), runs.map(_._2))
    }
    val (whJson, whGates) = leg(f => warehouseLeg(spark, sfDir, f, nBatches))
    val (cpJson, cpGates) = leg(f => corpusLeg(spark, sfDir, f, nBatches))
    val (j2Json, j2Gates) = leg(f => j2Leg(spark, f, nBatches = 40, rowsPerBatch = 200))
    val (ndJson, ndGates) = leg(f => neardupLeg(spark, sfDir, f, nBatches))
    // state-store A/B (round-11 verdict item 7): the same stateful legs on
    // RocksDB + changelog checkpointing, probing the ~4 s/batch HDFS-backed
    // state-commit floor; same gates, recorded side by side
    val (j2RJson, j2RGates) = leg(f => j2Leg(spark, f, nBatches = 40,
      rowsPerBatch = 200, provider = "rocksdb"))
    val (ndRJson, ndRGates) = leg(f => neardupLeg(spark, sfDir, f, nBatches,
      provider = "rocksdb"))

    val json =
      s"""{"metric":"bench_stream","sf":"$sfDir","batches":$nBatches,""" +
        s""""factors":[${factors.mkString(",")}],"legs":{""" +
        s""""warehouse":{$whJson},"corpus":{$cpJson},""" +
        s""""j2_interval":{$j2Json},"neardup":{$ndJson},""" +
        s""""j2_interval_rocksdb":{$j2RJson},"neardup_rocksdb":{$ndRJson}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_STREAM.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(json)
    // uncaught throw after the print exits the JVM nonzero (BenchScale contract)
    (whGates ++ cpGates ++ j2Gates ++ ndGates ++ j2RGates ++ ndRGates)
      .foreach(_.apply())
  }
}
