package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** The scale-sweep harness behind every `BenchScale*` main. A sweep family
  * declares only what is its own — how it builds the scaled input, the
  * variants it times, its invariants and its artifact fields — and the
  * harness owns the rest of the contract every sweep shares:
  *
  *  - the env: `SPARK_GRAFT_SF_DIR` (default sf0.1), the factor list
  *    (`SPARK_GRAFT_SCALE_FACTOR` pins one leg; a multi-leg family also
  *    takes `SPARK_GRAFT_SCALE_FACTORS`, default `10,100`) and
  *    `SPARK_GRAFT_BENCH_REPS` (default 2);
  *  - warm-up off the clock, min-of-reps timing, and releasing pinned
  *    blocks between runs;
  *  - the artifact: rewritten after EVERY leg (a crash in a late leg keeps
  *    the finished ones), printed as the last stdout line once all legs
  *    ran, then the session stops;
  *  - the validity gates, run last: a leg's gate is deferred until the
  *    artifact is on disk, so an invalid run leaves its flagged record but
  *    the process still exits nonzero and its timings cannot be cited.
  */
object Sweep {

  type Fields = Seq[(String, Any)]

  /** One finished leg: its artifact fields and its deferred validity gate. */
  final case class Leg(name: String, fields: Fields, gate: () => Unit = () => ())

  /** A running sweep: the session, the env, and the timing primitives. */
  final case class Ctx(spark: SparkSession, sfDir: String, factors: Seq[Int], reps: Int) {

    def factor: Int = factors.head

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

  /** A sweep family. Its object's `main` runs it through the harness. */
  trait Family[L] {
    def artifactFile: String
    def defaultFactors: Seq[Int] = Seq(10, 100)
    /** The legs, run lazily in order: the artifact is rewritten after each. */
    def legs(c: Ctx): Iterator[L]
    /** The artifact's fields given the legs finished so far. */
    def artifact(c: Ctx, done: Seq[L]): Fields
    /** The validity gates over all finished legs; throws on a violation. */
    def gates(done: Seq[L]): Unit

    def main(args: Array[String]): Unit = {
      val spark = GraftSession.get()
      run(this, ctx(spark, defaultFactors), java.nio.file.Paths.get(artifactFile),
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
  def ctx(spark: SparkSession, defaultFactors: Seq[Int]): Ctx = {
    val list =
      if (defaultFactors.size > 1)
        sys.env.get("SPARK_GRAFT_SCALE_FACTORS").map(_.split(",").map(_.trim.toInt).toSeq)
      else None
    Ctx(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
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
