package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The bench harness behind every `BenchScale*` main, `BenchStream`,
  * `PlanAudit` and `AnnCalibrate`. A sweep family declares only what is
  * its own — how it builds the scaled input, the variants it times, its
  * invariants and its artifact fields — and the harness owns the rest of
  * the contract every sweep shares:
  *
  *  - the sweep env, read here and nowhere else: `SPARK_GRAFT_SF_DIR`
  *    (default the family's own dir, sf0.1 for all but `PlanAudit`), the
  *    factor list (`SPARK_GRAFT_SCALE_FACTOR` pins one leg; a multi-leg
  *    family also takes `SPARK_GRAFT_SCALE_FACTORS`, default its own list,
  *    `10,100` for most) and `SPARK_GRAFT_BENCH_REPS` (default 2);
  *  - warm-up off the clock, min-of-reps timing, and releasing pinned
  *    blocks between runs;
  *  - the one job listener, [[JobLog]], registered once per run;
  *  - the artifact: rewritten after EVERY leg (a crash in a late leg keeps
  *    the finished ones), printed as the last stdout line once all legs
  *    ran, then the session stops;
  *  - the validity gates, run last: a leg's gate is deferred until the
  *    artifact is on disk, so an invalid run leaves its flagged record but
  *    the process still exits nonzero and its timings cannot be cited.
  */
object Sweep {

  type Fields = Seq[(String, Any)]

  private val DefaultSfDir = "/root/testdata/sf0.1"

  /** One finished leg: its artifact fields and its deferred validity gate. */
  final case class Leg(name: String, fields: Fields, gate: () => Unit = () => ())

  /** A running sweep: the session, the env, and the timing primitives. */
  final case class Ctx(spark: SparkSession, sfDir: String, factors: Seq[Int], reps: Int) {

    def factor: Int = factors.head

    /** The job log, registered with the session on first use and only
      * then: a main never adds or removes a listener around its windows.
      */
    lazy val log: JobLog = {
      val l = new JobLog(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      l
    }

    /** Release every pinned block (lineage checkpoints included). */
    def drop(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    /** Warm codegen/JIT off the clock. Failures propagate: a broken
      * variant must fail here, not inside the timed loop.
      */
    def warm(dfs: DataFrame*): Unit = {
      dfs.foreach(df => exec(df.limit(1)))
      drop()
    }

    /** Min wall over `reps` runs of `body` (blocks released after each),
      * with the first run's result.
      */
    def timed[T](body: => T): (Double, T) = {
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val r = body
        val dt = (System.nanoTime() - t0) / 1e9
        drop()
        (dt, r)
      }
      (runs.map(_._1).min, runs.head._2)
    }

    /** Min-of-reps wall of executing `df`. */
    def time(df: => DataFrame): Double = timed(exec(df))._1
  }

  /** The one job listener: per job its name, wall, stages, tasks and
    * shuffle bytes; per completed stage its job's name, tasks, max and sum
    * task ms and shuffle bytes; the input bytes of every task; and per SQL
    * execution, in start order, its id, description and formatted physical
    * plan. A job without a `spark.job.description` is named after its SQL
    * execution (`count at Multimodal.scala:NNN`), so the stages AQE submits
    * under a generic call site still say which action ran them. Events
    * arrive on Spark's listener bus after the job returns, so read it after
    * [[settle]].
    */
  final class JobLog(sc: SparkContext) extends SparkListener {
    import JobLog.{Exec, Job, Stage}

    private val FenceKey = "graft.joblog.fence"
    private val jobMap = mutable.LinkedHashMap[Int, Job]()
    private val stageMap = mutable.LinkedHashMap[Int, Stage]()
    private val stageToJob = mutable.HashMap[Int, Int]()
    private val taskMs = mutable.HashMap[Int, (Long, Long)]()
    private val execs = mutable.ArrayBuffer[Exec]()
    private var input = 0L
    private var fence = (-1, new CountDownLatch(0))

    def jobs: Seq[Job] = synchronized(jobMap.values.toSeq)
    def stages: Seq[Stage] = synchronized(stageMap.values.toSeq)
    def executions: Seq[Exec] = synchronized(execs.toSeq)
    def inputBytes: Long = synchronized(input)
    def reset(): Unit = synchronized {
      jobMap.clear(); stageMap.clear(); stageToJob.clear(); taskMs.clear(); execs.clear(); input = 0
    }

    /** Wait until the log holds every job submitted before the call: a
      * one-task fence job runs, and the bus delivers events in order. The
      * fence itself is not logged.
      */
    def settle(): Unit = {
      val latch = new CountDownLatch(1)
      synchronized { fence = (-1, latch) }
      sc.setLocalProperty(FenceKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
      if (!latch.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("the job log saw no fence job within 60 s")
    }

    /** Task input bytes read while `body` runs. */
    def inputBytesOf(body: => Unit): Long = {
      settle()
      val b0 = inputBytes
      body
      settle()
      inputBytes - b0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop(FenceKey).isDefined) fence = (e.jobId, fence._2)
      else {
        val exec = prop("spark.sql.execution.id").map(_.toLong)
          .flatMap(id => execs.find(_.id == id)).map(_.desc)
        jobMap(e.jobId) = Job(e.jobId,
          prop("spark.job.description").orElse(exec).getOrElse(""), e.time, e.stageIds)
        e.stageIds.foreach(stageToJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == fence._1) fence._2.countDown()
      jobMap.get(e.jobId).foreach(j => j.ms = e.time - j.start)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) input += e.taskMetrics.inputMetrics.bytesRead
      if (stageToJob.contains(e.stageId)) {
        val (mx, sum) = taskMs.getOrElse(e.stageId, (0L, 0L))
        taskMs(e.stageId) = (mx max e.taskInfo.duration, sum + e.taskInfo.duration)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized(execs += Exec(x.executionId, x.description, x.physicalPlanDescription))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stageToJob.get(s.stageId).flatMap(jobMap.get).foreach { j =>
        val read = s.taskMetrics.shuffleReadMetrics.totalBytesRead
        val written = s.taskMetrics.shuffleWriteMetrics.bytesWritten
        j.tasks += s.numTasks
        j.shuffleRead += read
        j.shuffleWrite += written
        val (mx, sum) = taskMs.getOrElse(s.stageId, (0L, 0L))
        stageMap(s.stageId) = Stage(s.stageId, s.name.takeWhile(_ != '\n').take(60), j.desc,
          s.numTasks, mx, sum, read, written)
      }
    }
  }

  object JobLog {
    final case class Exec(id: Long, desc: String, plan: String)
    final case class Job(id: Int, desc: String, start: Long, stageIds: Seq[Int],
                         var ms: Long = -1, var tasks: Int = 0,
                         var shuffleRead: Long = 0, var shuffleWrite: Long = 0)
    final case class Stage(id: Int, name: String, job: String, tasks: Int, maxTaskMs: Long,
                           sumTaskMs: Long, shuffleRead: Long, shuffleWrite: Long)
  }

  /** A sweep family. Its object's `main` runs it through the harness. */
  trait Family[L] {
    def artifactFile: String
    def defaultFactors: Seq[Int] = Seq(10, 100)
    def defaultSfDir: String = DefaultSfDir
    /** The legs, run lazily in order: the artifact is rewritten after each. */
    def legs(c: Ctx): Iterator[L]
    /** The artifact's fields given the legs finished so far. */
    def artifact(c: Ctx, done: Seq[L]): Fields
    /** The validity gates over all finished legs; throws on a violation. */
    def gates(done: Seq[L]): Unit

    def main(args: Array[String]): Unit = {
      val spark = GraftSession.get()
      run(this, ctx(spark, defaultFactors, defaultSfDir), java.nio.file.Paths.get(artifactFile),
        () => spark.stop())
    }
  }

  /** The usual family: one `Leg` per factor, listed under `legs` by name. */
  trait Legs extends Family[Leg] {
    def metric: String
    def leg(c: Ctx, factor: Int): Leg
    def legs(c: Ctx): Iterator[Leg] = c.factors.iterator.map(leg(c, _))
    def gates(done: Seq[Leg]): Unit = done.foreach(_.gate())
    /** Family-wide fields, placed ahead of the legs. */
    def extra(done: Seq[Leg]): Fields = Nil
    def artifact(c: Ctx, done: Seq[Leg]): Fields =
      Seq("metric" -> metric, "sf" -> c.sfDir, "reps" -> c.reps, "factors" -> c.factors) ++
        extra(done) :+ ("legs" -> obj(done.map(l => l.name -> obj(l.fields: _*)): _*))
  }

  /** A family with one leg at one factor, whose fields sit at the top level. */
  trait SingleLeg extends Legs {
    override def defaultFactors: Seq[Int] = Seq(10)
    override def artifact(c: Ctx, done: Seq[Leg]): Fields =
      Seq("metric" -> metric, "sf" -> c.sfDir, "factor" -> c.factor, "reps" -> c.reps) ++
        extra(done) ++ done.flatMap(_.fields)
  }

  /** The sweep env, each variable read here and nowhere else. A family
    * with a single default factor runs exactly one leg, so only
    * `SPARK_GRAFT_SCALE_FACTOR` moves it.
    */
  def ctx(spark: SparkSession, defaultFactors: Seq[Int],
          defaultSfDir: String = DefaultSfDir): Ctx = {
    val list =
      if (defaultFactors.size > 1)
        sys.env.get("SPARK_GRAFT_SCALE_FACTORS").map(_.split(",").map(_.trim.toInt).toSeq)
      else None
    Ctx(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSfDir),
      sys.env.get("SPARK_GRAFT_SCALE_FACTOR").map(f => Seq(f.toInt)).orElse(list)
        .getOrElse(defaultFactors),
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1))
  }

  /** Run a family: each leg, then the artifact rewrite; after the last leg
    * print the artifact, `stop`, and run the gates. A leg that throws ends
    * the run with the finished legs on disk and no gate run.
    */
  def run[L](f: Family[L], c: Ctx, out: java.nio.file.Path, stop: () => Unit): Unit = {
    val done = scala.collection.mutable.ArrayBuffer[L]()
    def write(): String = {
      val json = render(obj(f.artifact(c, done.toSeq): _*))
      java.nio.file.Files.write(out, (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      json
    }
    val json =
      try {
        f.legs(c).foreach { l => done += l; write() }
        write()
      } catch { case e: Throwable => stop(); throw e }
    println(json)
    stop()
    f.gates(done.toSeq)
  }

  def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** The upper median; zero when `xs` is empty. */
  def median[T](xs: Seq[T])(implicit n: Numeric[T]): T =
    if (xs.isEmpty) n.zero else xs.sorted.apply(xs.size / 2)

  /** The replication invariant most families gate: the scaled run has the
    * base run's non-empty key set, and every count is `factor ×` the base.
    */
  def exactMultiple[K](base: Map[K, Long], scaled: Map[K, Long], factor: Int): Boolean =
    base.nonEmpty && scaled.keySet == base.keySet &&
      base.forall { case (k, v) => scaled(k) == factor * v }

  /** An ordered JSON object. */
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  /** JSON text of a value built from maps, sequences, strings, booleans and
    * numbers. Non-finite doubles have no JSON form and render as null.
    */
  def render(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => quote(s)
    case d: Double                 => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]            => s.map(render).mkString("[", ",", "]")
    case x @ (_: Boolean | _: Int | _: Long) => x.toString
    case other => throw new IllegalArgumentException(s"no JSON form for ${other.getClass}")
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'            => b ++= "\\\""
      case '\\'           => b ++= "\\\\"
      case c if c < ' '   => b ++= "\\u%04x".format(c.toInt)
      case c              => b += c
    }
    (b += '"').toString
  }

  /** Write `factor` key-shifted replicas of the sf table `name` as parquet
    * under `dir`: replica i adds `i · step` to each shifted column. With no
    * shifts and factor 1 this copies a fixed dimension table.
    */
  def replicate(c: Ctx, dir: String, name: String, factor: Int,
                shifts: (String, Long)*): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val t = Tables.table(c.spark, c.sfDir, name)
    (0 until factor).map { i =>
      shifts.foldLeft(t) { case (df, (k, step)) => df.withColumn(k, col(k) + lit(i * step)) }
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }
}
