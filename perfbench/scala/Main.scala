package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, started by `run.py` in a fresh JVM.
  *
  * Arguments are `key=value` pairs (see `Ctx`). The harness builds the
  * session the way every graft main does (`GraftSession`), sets up the
  * workload, prints `PERFBENCH_READY <epoch ms>` once timing may start,
  * runs the workload for the measured window, checks the outputs off the
  * clock, and writes one JSON result object to `out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    if (kv.contains("digest_dir")) return digestDir(kv)
    val spark = graft.GraftSession.builder(shufflePartitions = kv("shuffle_partitions").toInt)
      .config("spark.local.dir", kv("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", kv("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, kv)
    val collector = if (ctx.trace) Some(new JobCollector) else None
    collector.foreach(spark.sparkContext.addSparkListener)
    val res = new Result
    try {
      ctx.tracer.span(ctx.workload, "harness") {
        ctx.workload match {
          case "registry_batch" => new Registry(ctx, res, collector).run()
          case "gmall_stream"   => new Gmall(ctx, res, collector).run()
          case w                => throw new IllegalArgumentException(s"unknown workload $w")
        }
      }
      if (ctx.trace) {
        val self = ctx.tracer.selfTimeByLayer()
        Seq("sources", "streaming", "operators", "pipeline", "plans").foreach { l =>
          res.layer(s"layer.$l.self_s", self.getOrElse(l, 0.0))
        }
        res.info("self_time_s") = Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
        ctx.tracer.write(kv("spans"), s"${ctx.workload}-seed${ctx.seed}")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.error = Option(e.toString)
    }
    res.e2e("peak_rss_mb") = peakRssMb()
    res.info("jdk") = Json.str(System.getProperty("java.version"))
    res.info("spark") = Json.str(spark.version)
    java.nio.file.Files.write(java.nio.file.Paths.get(kv("out")),
      res.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Digest each `<digest_dir>/<query>` parquet result (as `graft.Verify`
    * dumps them) the way the harness digests collected results, and write
    * the {query: digest} map to `out`.
    */
  private def digestDir(kv: Map[String, String]): Unit = {
    val spark = graft.GraftSession.get()
    val ds = kv("names").split(",").toSeq.map { q =>
      val df = spark.read.parquet(s"${kv("digest_dir")}/$q")
      q -> Json.str(Digest.of(df.columns.toSeq, df.collect()))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(kv("out")), Json.obj(ds).getBytes("UTF-8"))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Run-wide settings and shared helpers. */
final class Ctx(val spark: SparkSession, kv: Map[String, String]) {
  val workload: String = kv("workload")
  val seed: Long = kv("seed").toLong
  val seconds: Double = kv("seconds").toDouble
  val trace: Boolean = kv("trace") == "1"
  val data: String = kv("data")
  val work: String = kv("work")
  val digests: Map[String, String] = kv.get("digests").filter(new java.io.File(_).exists)
    .map(readFlatJson).getOrElse(Map.empty)
  val record: Option[String] = kv.get("record").filter(_.nonEmpty)
  val params: Map[String, String] = kv
  val tracer = new Tracer(trace, spark.sparkContext)

  /** Flat {"k": "v"} object reader for the digest file. */
  private def readFlatJson(path: String): Map[String, String] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
  }

  def ready(): Unit = {
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
    System.out.flush()
  }
}

/** What a run reports; serialised for `run.py`. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var error: Option[String] = None
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val named = mutable.LinkedHashMap[String, Double]()
  val perLayer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()

  def layer(name: String, v: Double): Unit = perLayer(name) = v
  def check(name: String, ok: Boolean): Unit = {
    checks(name) = ok
    attempted += 1
    if (!ok) failed += 1
    if (!ok) System.err.println(s"[perfbench] check failed: $name")
  }

  def json: String = Json.obj(Seq(
    "attempted" -> attempted.toString, "failed" -> failed.toString,
    "error" -> error.map(Json.str).getOrElse("null"),
    "checks" -> Json.obj(checks.map { case (k, v) => k -> v.toString }),
    "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
    "named" -> Json.obj(named.map { case (k, v) => k -> Json.num(v) }),
    "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }),
    "info" -> Json.obj(info)))
}

