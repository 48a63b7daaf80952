package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{OrderWideJob, PaymentWideJob, WarehouseJob}

/** The gmall chain end to end: `WarehouseJob` (ODS → DWD route, dims, DWS
  * stats), `OrderWideJob` and `PaymentWideJob` (which reads the order-wide
  * sink) run concurrently in one session over file topics.
  *
  * Slices are staged by `gen.py` (one parquet file per topic per slice);
  * landing a slice renames its four files into the live topic directories.
  * Phases:
  *  - catch-up: `backlog` slices land at once, then the queries start
  *    cold, as after an outage; the phase ends when all three sinks have
  *    committed every backlog slice;
  *  - open loop: one generator thread lands a slice every `interval_ms`,
  *    on schedule whatever the queries do, for the measured window; then
  *    the chain drains.
  *
  * Commit times come from each query's progress events; which slice a
  * micro-batch carried comes from the query's checkpointed source log,
  * and which order-wide files an order-wide batch wrote from its sink log.
  * A slice is published when the last of the three sinks has committed it.
  */
final class Gmall(ctx: Ctx, res: Result, collector: Option[JobCollector]) {
  import Gmall.Chain
  private val spark: SparkSession = ctx.spark
  private val tr = ctx.tracer
  private val p = ctx.params
  private val backlog = p("backlog").toInt
  private val intervalMs = p("interval_ms").toDouble
  private val stage = p("stream")
  private val root = ctx.work + "/gmall"
  private val Topics = Seq("events", "orders", "lineitem", "payments")

  /** Progress of every micro-batch, by query id. */
  private val progress = new java.util.concurrent.ConcurrentHashMap[String, mutable.ArrayBuffer[StreamingQueryProgress]]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val buf = progress.computeIfAbsent(e.progress.id.toString, _ => mutable.ArrayBuffer())
      buf.synchronized { buf += e.progress }
      ()
    }
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  private def duBytes(f: File): Long =
    Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(if (f.isFile) f.length() else 0L)

  private def start(dir: String): Chain = {
    Topics.foreach(t => new File(s"$dir/topics/$t").mkdirs())
    val wh = new WarehouseJob(spark, s"$dir/wh").start(s"$dir/topics/events", s"$dir/ckpt/wh")
    val ow = new OrderWideJob(spark, s"$dir/ow").start(s"$dir/topics/orders",
      s"$dir/topics/lineitem", ctx.data, s"$dir/ckpt/ow")
    // the order-wide sink creates its metadata log on start; the payment-wide
    // source must see that log to read only committed order-wide files
    while (!new File(s"$dir/ow/order_wide/_spark_metadata").exists) Thread.sleep(20)
    val pw = new PaymentWideJob(spark, s"$dir/pw").start(s"$dir/topics/payments",
      s"$dir/ow/order_wide", s"$dir/ckpt/pw")
    Chain(dir, wh, ow, pw)
  }

  /** Rename slice `s`'s staged files into the live topics of `dir`. */
  private def land(from: String, dir: String, s: Int): Unit = Topics.foreach { t =>
    val name = f"s$s%04d.parquet"
    java.nio.file.Files.move(new File(s"$from/$t/$name").toPath, new File(s"$dir/topics/$t/$name").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- checkpoint and sink logs -------------------------------------------

  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r
  private val LogName = "(\\d+)(\\.compact)?".r

  /** (log batch, json line) of every entry of a metadata log directory. */
  private def logLines(dir: File): Seq[(Long, String)] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      f.getName match {
        case LogName(n, _) =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.getLines().drop(1).map(l => n.toLong -> l).toList finally src.close()
        case _ => Nil
      }
    }

  /** File path → micro-batch that read it, over all sources of a query. */
  private def sourceBatches(ckpt: String): Map[String, Long] =
    Option(new File(s"$ckpt/sources").listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(d => logLines(d)).flatMap { case (_, l) =>
        for (pm <- PathRe.findFirstMatchIn(l); bm <- BatchRe.findFirstMatchIn(l))
          yield pm.group(1) -> bm.group(1).toLong
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }

  /** Order-wide batch → files it wrote. */
  private def sinkFiles(sinkDir: String): Map[Long, Seq[String]] =
    logLines(new File(s"$sinkDir/_spark_metadata")).flatMap { case (b, l) =>
      PathRe.findFirstMatchIn(l).map(m => m.group(1) -> b)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
      .toSeq.groupBy(_._2).map { case (b, v) => b -> v.map(_._1) }

  private def fileName(path: String): String = path.substring(path.lastIndexOf('/') + 1)
  private def topicOf(path: String): String = {
    val d = path.substring(0, path.lastIndexOf('/'))
    d.substring(d.lastIndexOf('/') + 1)
  }
  private val SliceRe = "s(\\d+)\\.parquet".r

  private def prog(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    val buf = progress.getOrDefault(q.id.toString, mutable.ArrayBuffer())
    buf.synchronized(buf.toList)
  }
  private def startMs(pr: StreamingQueryProgress): Double =
    java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
  private def dur(pr: StreamingQueryProgress, k: String): Double =
    Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
  private def endMs(pr: StreamingQueryProgress): Double = startMs(pr) + dur(pr, "triggerExecution")

  /** Publish time (epoch ms) of each slice the chain fully committed. */
  private def publishTimes(c: Chain): Map[Int, Double] = {
    def ends(q: StreamingQuery) = prog(q).map(pr => pr.batchId -> endMs(pr)).toMap
    val (whEnd, owEnd, pwEnd) = (ends(c.wh), ends(c.ow), ends(c.pw))
    val whSrc = sourceBatches(s"${c.dir}/ckpt/wh")
    val owSrc = sourceBatches(s"${c.dir}/ckpt/ow")
    val pwSrc = sourceBatches(s"${c.dir}/ckpt/pw")
    val pwByName = pwSrc.map { case (k, v) => fileName(k) -> v }
    val owWrote = sinkFiles(s"${c.dir}/ow/order_wide")
    def slices(src: Map[String, Long]): Map[(String, Int), Long] = src.collect {
      case (path, b) if SliceRe.pattern.matcher(fileName(path)).matches() =>
        val SliceRe(n) = fileName(path)
        (topicOf(path), n.toInt) -> b
    }
    val wh = slices(whSrc)
    val ow = slices(owSrc)
    val pw = slices(pwSrc)
    val ids = wh.keys.map(_._2).toSet
    ids.toSeq.flatMap { s =>
      val owBatch = ow.get(("orders", s))
      val parts: Seq[Option[Double]] = Seq(
        wh.get(("events", s)).flatMap(whEnd.get),
        owBatch.flatMap(owEnd.get),
        ow.get(("lineitem", s)).flatMap(owEnd.get),
        pw.get(("payments", s)).flatMap(pwEnd.get)) ++
        owBatch.toSeq.flatMap(b => owWrote.getOrElse(b, Nil))
          .map(f => pwByName.get(fileName(f)).flatMap(pwEnd.get))
      if (parts.forall(_.isDefined)) Some(s -> parts.flatten.max) else None
    }.toMap
  }

  // ---- the run ------------------------------------------------------------

  def run(): Unit = {
    rmTree(new File(root))
    spark.streams.addListener(listener)
    if (ctx.trace) spark.conf.set("spark.graft.profileBatch", "true")
    val openSlices = math.max(1, math.floor(ctx.seconds * 1000.0 / intervalMs).toInt)
    val live = s"$root/live"
    Topics.foreach(t => new File(s"$live/topics/$t").mkdirs())
    ctx.ready()
    // ---- catch-up: a restart over a landed backlog. The queries start
    // cold, as after an outage, and drain the backlog through all sinks.
    val catchStart = Clock.nowMs
    val chain = tr.span("catchup", "harness") {
      (0 until backlog).foreach(s => land(stage, live, s))
      val c = tr.span("start", "streaming")(start(live))
      c.drain()
      c
    }
    // ---- open loop: land on schedule, then drain
    val due = new Array[Double](openSlices)
    val landed = new Array[Double](openSlices)
    val landS = new Array[Double](openSlices)
    val openStart = Clock.nowMs + 50
    tr.span("open_loop", "harness") {
      val gen = new Thread(() => {
        (0 until openSlices).foreach { i =>
          due(i) = openStart + i * intervalMs
          val wait = due(i) - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
          val t0 = Clock.nowMs
          land(stage, live, backlog + i)
          landed(i) = Clock.nowMs
          landS(i) = (landed(i) - t0) / 1000.0
          tr.add(Span(tr.newId(), 0, s"land s${backlog + i}", "sources", t0, landed(i)))
        }
      }, "slice-generator")
      gen.start()
      gen.join()
      tr.span("drain", "harness")(chain.drain())
    }
    chain.stop()
    Thread.sleep(300) // let the listener bus deliver the last progress events
    spark.streams.removeListener(listener)

    // ---- latency and throughput, from progress and the logs
    val pub = publishTimes(chain)
    val total = backlog + openSlices
    res.attempted += total
    res.failed += (0 until total).count(s => !pub.contains(s))
    val catchEnd = (0 until backlog).flatMap(pub.get).maxOption.getOrElse(Clock.nowMs)
    val lagVals = (0 until openSlices).flatMap(i => pub.get(backlog + i).map(t => (t - due(i)) / 1000.0))
    val (tail, pct, n) = Stats.tail(lagVals)
    val genLate = (0 until openSlices).map(i => (landed(i) - due(i)) / 1000.0).maxOption.getOrElse(0.0)

    // ---- correctness, off the clock
    val (completeness, catchRows) = tr.span("check", "harness")(checks(live, total, pub.size))
    val catchS = (catchEnd - catchStart) / 1000.0
    res.e2e("latency_p50_s") = Stats.median(lagVals)
    res.e2e("latency_tail_s") = tail
    res.e2e("throughput_per_s") = catchRows / catchS
    res.e2e("completeness") = completeness
    res.named("publish_lag_p50_s") = Stats.median(lagVals)
    res.named("publish_lag_tail_s") = tail
    res.named("catchup_rows_per_s") = catchRows / catchS
    res.named("dwm_completeness") = completeness
    res.info("tail_percentile") = pct.toString
    res.info("samples") = n.toString
    res.info("backlog_slices") = backlog.toString
    res.info("open_slices") = openSlices.toString
    res.info("interval_ms") = Json.num(intervalMs)
    res.info("gen_late_max_s") = Json.num(genLate)
    // validity of the open loop: the generator kept its schedule, and lag
    // does not trend upward (a growing backlog means the rate is not
    // sustainable, and its lag is not a latency figure)
    val third = lagVals.size / 3
    val (early, late) = (lagVals.take(third), lagVals.takeRight(third))
    val sustained = third == 0 || Stats.median(late) <= 1.5 * Stats.median(early) + intervalMs / 1000.0
    res.info("lag_first_third_s") = Json.num(Stats.median(early))
    res.info("lag_last_third_s") = Json.num(Stats.median(late))
    res.check("open loop sustainable (lag does not trend upward)", sustained)
    res.check("generator on schedule (late < one interval)", genLate < intervalMs / 1000.0)

    collector.foreach(c => perLayer(c, chain, catchStart, catchEnd, openStart, landS.toSeq, genLate))
  }

  /** Off-the-clock checks against the batch composition of the same pure
    * transforms over everything landed. Returns (completeness, backlog rows).
    */
  private def checks(live: String, total: Int, published: Int): (Double, Double) = {
    val ev = spark.read.parquet(s"$live/topics/events")
    val orders = spark.read.parquet(s"$live/topics/orders")
    val lineitem = spark.read.parquet(s"$live/topics/lineitem")
    val payments = spark.read.parquet(s"$live/topics/payments")
    val parsed = ev.withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
    val clean = parsed.filter(col("k").isNotNull)
    val cleanN = clean.count()
    val wh = s"$live/wh"
    val statsSum = spark.read.parquet(s"$wh/stats").agg(coalesce(sum("total_ct"), lit(0L))).first().getLong(0)
    res.check("stats total_ct equals clean rows ingested", statsSum == cleanN && cleanN > 0)
    val factsN = spark.read.parquet(s"$wh/facts").count()
    val routedN = clean.filter(col("event_type").isin("view", "click")).count()
    res.check("facts rows equal batch routing", factsN == routedN)
    val dirtyN = spark.read.parquet(s"$wh/dirty").count()
    res.check("dirty rows equal malformed rows", dirtyN == parsed.filter(col("k").isNull).count())
    val dims = new graft.sources.DimStore(spark, s"$wh/dim")
    Seq("dim_order" -> "purchase", "dim_user" -> "signup").foreach { case (table, kind) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc)
      val want = clean.filter(col("event_type") === kind)
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("user_id", "ts", "value")
      val got = dims.read(table).map(_.select("user_id", "ts", "value"))
      val ok = got.exists(g => g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty)
      res.check(s"DimStore.read($table) equals latest per key", ok)
    }
    val owJob = new OrderWideJob(spark, s"$root/ref")
    val refOw = owJob.transform(orders, lineitem, graft.Tables.customer(spark, ctx.data),
      graft.Tables.nation(spark, ctx.data))
    val refPw = new PaymentWideJob(spark, s"$root/ref").transform(payments, refOw)
    val gotOw = spark.read.parquet(s"$live/ow/order_wide")
    val gotPw = spark.read.parquet(s"$live/pw/payment_wide")
    res.check("order_wide is a subset of the batch transform", gotOw.exceptAll(refOw).isEmpty)
    res.check("payment_wide is a subset of the batch transform", gotPw.exceptAll(refPw).isEmpty)
    val refN = refPw.count()
    val completeness = if (refN == 0) 0.0 else gotPw.count().toDouble / refN
    val backlogRows = Topics.map { t =>
      spark.read.parquet((0 until backlog).map(s => f"$live/topics/$t/s$s%04d.parquet"): _*).count()
    }.sum.toDouble
    res.info("published_slices") = Json.str(s"$published/$total")
    (completeness, backlogRows)
  }

  // ---- per-layer metrics (traced run) -------------------------------------

  private def perLayer(c: JobCollector, chain: Chain, catchStart: Double, catchEnd: Double,
                       openStart: Double, landS: Seq[Double], genLate: Double): Unit = {
    val (jobs, stages) = c.snapshot()
    val byBatch = jobs.groupBy(j => (j.streamQuery, j.batchId))
    def batchStats(q: StreamingQuery, pr: StreamingQueryProgress) =
      JobStats.of(byBatch.getOrElse((q.id.toString, pr.batchId), Nil), stages)
    val named = Seq("warehouse" -> chain.wh, "order_wide" -> chain.ow, "payment_wide" -> chain.pw)
    // batch spans, with the jobs that ran inside them
    named.foreach { case (name, q) =>
      prog(q).foreach { pr =>
        val id = tr.newId()
        tr.add(Span(id, 0, s"$name batch ${pr.batchId}", "streaming", startMs(pr), endMs(pr)))
        JobStats.addSpans(tr, byBatch.getOrElse((q.id.toString, pr.batchId), Nil), stages, _ => id)
      }
    }
    res.layer("sources.slice_land_s", Stats.median(landS))
    res.layer("sources.gen_late_max_s", genLate)
    // WarehouseJob's own per-batch sections (spark.graft.profileBatch), of
    // the open-loop batches
    val openBatches = prog(chain.wh).filter(pr => startMs(pr) >= openStart - 1).map(_.batchId.toDouble).toSet
    val profFile = new File(s"${chain.dir}/wh/_profile.jsonl")
    val prof: Seq[Map[String, Double]] =
      if (!profFile.exists) Nil
      else scala.io.Source.fromFile(profFile).getLines().toList.map { l =>
        "\"([a-z_]+)\":([0-9.]+)".r.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.filter(m => openBatches(m.getOrElse("batch", -1.0)))
    def profMed(f: Map[String, Double] => Double) = Stats.median(prof.map(f))
    res.layer("sources.dim_upsert_s", profMed(m => m.filter(_._1.startsWith("dim_upsert_")).values.maxOption.getOrElse(0.0)))
    Seq("staged_write", "touched_collect", "bucket_open", "swap").foreach { ph =>
      res.layer(s"sources.dim_${ph}_s", profMed(_.getOrElse(s"dim_phase_$ph", 0.0)))
    }
    Seq("dirty_write", "facts_write", "dim_counts", "stats_write", "publish").foreach { s =>
      res.layer(s"streaming.warehouse.section.${s}_s", profMed(_.getOrElse(s, 0.0)))
    }
    named.foreach { case (name, q) =>
      val ps = prog(q)
      val open = ps.filter(pr => startMs(pr) >= openStart - 1 && pr.numInputRows > 0)
      val st = open.map(pr => pr -> batchStats(q, pr))
      res.layer(s"streaming.$name.trigger_s", Stats.median(open.map(dur(_, "triggerExecution") / 1000.0)))
      res.layer(s"streaming.$name.jobs_per_batch", Stats.median(st.map(_._2.jobs.toDouble)))
      res.layer(s"streaming.$name.tasks_per_batch", Stats.median(st.map(_._2.tasks.toDouble)))
      if (name == "warehouse") {
        res.layer("streaming.warehouse.add_batch_s", Stats.median(open.map(dur(_, "addBatch") / 1000.0)))
        res.layer("streaming.warehouse.overhead_s",
          Stats.median(open.map(pr => (dur(pr, "triggerExecution") - dur(pr, "addBatch")) / 1000.0)))
        res.layer("streaming.warehouse.driver_gap_s",
          Stats.median(st.map { case (pr, s) => s.driverGapS(startMs(pr), endMs(pr)) }))
      } else {
        val last = ps.lastOption
        res.layer(s"streaming.$name.state_rows", last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
        res.layer(s"streaming.$name.state_bytes", last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0))
        res.layer(s"streaming.$name.no_data_batches",
          ps.count(pr => startMs(pr) >= openStart - 1 && pr.numInputRows == 0).toDouble)
        res.layer(s"streaming.$name.late_rows_dropped",
          ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
      }
    }
    // catch-up: the batches that ran before the backlog was drained
    val catchBatches = named.flatMap { case (name, q) =>
      prog(q).filter(pr => startMs(pr) < catchEnd && pr.numInputRows > 0).map(pr => (name, q, pr))
    }
    named.foreach { case (name, _) =>
      res.layer(s"streaming.catchup.${name}_trigger_s",
        catchBatches.filter(_._1 == name).map(x => dur(x._3, "triggerExecution") / 1000.0).sum)
    }
    val catchStats = catchBatches.map { case (_, q, pr) => batchStats(q, pr) }
    res.layer("streaming.catchup.shuffle_bytes", catchStats.map(_.shuffleBytes.toDouble).sum)
    res.layer("streaming.catchup.task_skew", Stats.median(catchStats.flatMap(_.skews)))
    val inBytes = duBytes(new File(s"${chain.dir}/topics"))
    val outBytes = Seq("wh", "ow", "pw", "ckpt").map(d => duBytes(new File(s"${chain.dir}/$d"))).sum
    res.layer("sources.bytes_written_per_input_byte", outBytes.toDouble / (inBytes max 1L))
    res.layer("sources.dim_store_bytes", duBytes(new File(s"${chain.dir}/wh/dim")).toDouble)
  }
}

object Gmall {
  /** The three running queries of one chain, rooted at `dir`. */
  final case class Chain(dir: String, wh: StreamingQuery, ow: StreamingQuery, pw: StreamingQuery) {
    def all: Seq[StreamingQuery] = Seq(wh, ow, pw)
    def drain(): Unit = all.foreach(_.processAllAvailable())
    def stop(): Unit = all.foreach(_.stop())
  }
}
