package graft

/** Per-query Spark-job/stage profiler (guide §1: decide WHERE the time goes
  * before changing anything). For each named query: one untimed full warm
  * pass, then min-of-reps timed passes with the harness's job log holding
  * the last one — every job's wall, stage count, task count and shuffle
  * bytes, and the stages with the most task time: the local[32] stand-in
  * for the Spark UI's Jobs/Stages pages (UI is disabled in GraftSession).
  *
  * Env:
  *   SPARK_GRAFT_PROFILE_ONLY  comma-separated query names (required)
  *   SPARK_GRAFT_SF_DIR        data dir (default: the sweeps' sf0.1 dir)
  *   SPARK_GRAFT_BENCH_REPS    timed reps (default 2; job log from the last)
  */
object ProfileQuery {

  def main(args: Array[String]): Unit = {
    val names = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ONLY",
      sys.error("set SPARK_GRAFT_PROFILE_ONLY")).split(",").map(_.trim).filter(_.nonEmpty)
    val c = Sweep.ctx(GraftSession.get(), Seq(1))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      Sweep.exec(fn(c.spark, c.sfDir)) // warm pass (codegen/JIT), untimed
      c.drop()
      val (wall, _) = c.timed { c.log.reset(); Sweep.exec(fn(c.spark, c.sfDir)) }
      c.log.settle()
      println(f"== $name%s: wall $wall%.3f s (min of ${c.reps}%d; last-rep job log below)")
      val jobs = c.log.jobs
      jobs.foreach { j =>
        val d = if (j.desc.length > 70) j.desc.take(67) + "..." else j.desc
        println(f"   job ${j.id}%3d ${j.ms}%6d ms stages=${j.stageIds.size}%2d tasks=${j.tasks}%4d " +
          f"shufR=${j.shuffleRead / 1e6}%8.2fMB shufW=${j.shuffleWrite / 1e6}%8.2fMB  $d%s")
      }
      println(f"   sum of job walls: ${jobs.filter(_.ms > 0).map(_.ms).sum}%d ms over ${jobs.size}%d jobs")
      c.log.stages.filter(_.sumTaskMs > 200).sortBy(-_.sumTaskMs).take(12).foreach { s =>
        println(f"   stage ${s.id}%3d tasks=${s.tasks}%4d maxTask=${s.maxTaskMs}%6d ms " +
          f"sumTask=${s.sumTaskMs}%7d ms shufR=${s.shuffleRead / 1e6}%8.2fMB " +
          f"shufW=${s.shuffleWrite / 1e6}%8.2fMB ${s.name}%s")
      }
    }
    c.spark.stop()
  }
}
