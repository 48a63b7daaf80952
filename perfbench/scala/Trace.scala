package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are epoch milliseconds (fractional), so the
  * harness's own spans and Spark's listener times share one clock.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** In-memory span recorder. Spans nest through a per-thread stack; the
  * innermost span id and the enclosing operation id ride on Spark local
  * properties so the listener can attribute jobs to them. Off (untraced
  * runs) it only runs the body.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def nowMs: Double = Clock.nowMs

  def newId(): Long = ids.incrementAndGet()
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `body` inside a span. `op` marks the span as one workload
    * operation: its id becomes the job tag for everything beneath it.
    */
  def span[T](name: String, layer: String, op: Boolean = false)(body: => T): T = {
    if (!on) return body
    val id = newId()
    val parent = current
    val saved = (sc.getLocalProperty(Tracer.SpanKey), sc.getLocalProperty(Tracer.OpKey))
    stack.set(id :: stack.get)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    if (op) sc.setLocalProperty(Tracer.OpKey, id.toString)
    val t0 = nowMs
    try body
    finally {
      spans.add(Span(id, parent, name, layer, t0, nowMs))
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tracer.SpanKey, saved._1)
      sc.setLocalProperty(Tracer.OpKey, saved._2)
    }
  }

  def add(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover.
    */
  def selfTimeByLayer(): Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = Tracer.unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (c.start max s.start, c.end min s.end)).filter(p => p._2 > p._1))
      s.layer -> (s.dur - covered) / 1000.0
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  def write(path: String, runId: String): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":"${s.layer}","start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}""" + "\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanKey = "graft.bench.span"
  val OpKey = "graft.bench.op"

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class StageRec(stageId: Int, jobId: Int, var submit: Double = 0, var complete: Double = 0,
                          launches: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer(),
                          taskMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer(),
                          var shuffleWrite: Long = 0, var spill: Long = 0) {
  /** Mean wait from stage submission to a task's launch on a free slot. */
  def slotWaitMs: Double =
    if (launches.isEmpty) 0.0 else launches.map(l => (l - submit) max 0.0).sum / launches.size
  /** Longest task over the median task; 1.0 for single-task stages. */
  def skew: Double =
    if (taskMs.size < 2) 1.0
    else {
      val s = taskMs.sorted
      s.last / (s(s.size / 2) max 1.0)
    }
}

final case class JobRec(jobId: Int, op: Long, span: Long, streamQuery: String, batchId: Long,
                        start: Double, var end: Double = 0, stages: Seq[Int] = Nil)

/** Spark listener that keeps job, stage and task facts per job tag. Added
  * only in traced runs.
  */
final class JobCollector extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def long(k: String) = Option(prop(p, k)).flatMap(_.toLongOption).getOrElse(0L)
    val sq = Option(prop(p, "sql.streaming.queryId")).getOrElse("")
    val batch = Option(prop(p, "streaming.sql.batchId")).flatMap(_.toLongOption).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, long(Tracer.OpKey), long(Tracer.SpanKey), sq, batch,
      e.time.toDouble, stages = e.stageIds)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = StageRec(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submit = e.stageInfo.submissionTime.getOrElse(0L).toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.complete = e.stageInfo.completionTime.getOrElse(0L).toDouble)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get(e.stageId).foreach(_.launches += e.taskInfo.launchTime.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.taskMs += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): (Seq[JobRec], Map[Int, StageRec]) = synchronized {
    (jobs.values.toSeq, stages.toMap)
  }
}

/** Per-tag rollups over collected jobs. */
final case class JobStats(jobs: Int, tasks: Int, shuffleBytes: Long, spill: Long,
                          slotWaitS: Double, skews: Seq[Double], busy: Seq[(Double, Double)]) {
  /** Wall of `from..to` during which none of these jobs ran. */
  def driverGapS(from: Double, to: Double): Double =
    ((to - from) - Tracer.unionLength(busy.map(b => (b._1 max from, b._2 min to))
      .filter(b => b._2 > b._1))) / 1000.0
}

object JobStats {
  def of(js: Seq[JobRec], stages: Map[Int, StageRec]): JobStats = {
    val ss = js.flatMap(_.stages).distinct.flatMap(stages.get).filter(_.launches.nonEmpty)
    JobStats(js.size, ss.map(_.taskMs.size).sum, ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum,
      ss.map(_.slotWaitMs).sum / 1000.0, ss.filter(_.taskMs.size > 1).map(_.skew),
      js.map(j => (j.start, if (j.end > 0) j.end else j.start)))
  }

  /** Job and stage spans under their owning spans. */
  def addSpans(tr: Tracer, js: Seq[JobRec], stages: Map[Int, StageRec],
               parentOf: JobRec => Long): Unit = js.foreach { j =>
    val jid = tr.newId()
    tr.add(Span(jid, parentOf(j), s"job ${j.jobId}", "engine", j.start, j.end max j.start))
    j.stages.flatMap(stages.get).filter(_.launches.nonEmpty).foreach { s =>
      tr.add(Span(tr.newId(), jid, s"stage ${s.stageId}", "engine", s.submit,
        s.complete max s.submit))
    }
  }
}
