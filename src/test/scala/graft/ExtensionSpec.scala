package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Scale
import graft.plans.GraftExtensions

/** The scale-mode sketch rewrites, both driven by `spark.graft.scaleMode`
  * alone: `size(collect_set(x))` → `approx_count_distinct(x)` and
  * `percentile(x, p)` → `approx_percentile(x, p)`, untouched otherwise.
  */
class ExtensionSpec extends SparkSpecBase {

  private def withExtSession[T](f: SparkSession => T): T = {
    val base = spark // force TestSpark init so a SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("scale mode rewrites exact percentile to t-digest sketch; off by default") {
    withExtSession { s =>
      import s.implicits._
      val df = (1 to 2000).map(i => (i % 4, i.toDouble)).toDF("k", "v")

      Scale.scaleMode(s, on = false)
      val exact = df.groupBy("k").agg(expr("percentile(v, 0.5)").as("p50"))
      assert(exact.queryExecution.optimizedPlan.toString.contains("percentile("))
      val exactRows = exact.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

      Scale.scaleMode(s)
      val approx = df.groupBy("k").agg(expr("percentile(v, 0.5)").as("p50"))
      val plan = approx.queryExecution.optimizedPlan.toString
      assert(plan.contains("percentile_approx") || plan.contains("approx_percentile"),
        s"not rewritten:\n$plan")
      val approxRows = approx.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(approxRows.keySet == exactRows.keySet)
      // t-digest at default accuracy is near-exact on 500 values per group
      exactRows.foreach { case (k, v) =>
        assert(math.abs(approxRows(k) - v) <= math.max(2.0, v * 0.02), s"k=$k: ${approxRows(k)} vs $v")
      }
      Scale.scaleMode(s, on = false)
    }
  }

  test("spark.graft.scaleMode is the one-switch profile: both rules flip together") {
    withExtSession { s =>
      import s.implicits._
      val df = (1 to 500).map(i => (i % 3, i % 53, i.toDouble)).toDF("k", "u", "v")
      def plans(): (String, String) = (
        df.groupBy("k").agg(size(collect_set($"u")).as("ct"))
          .queryExecution.optimizedPlan.toString,
        df.groupBy("k").agg(expr("percentile(v, 0.5)").as("p50"))
          .queryExecution.optimizedPlan.toString)

      Scale.scaleMode(s)
      val (d1, p1) = plans()
      assert(d1.contains("approx_count_distinct") && !d1.contains("collect_set"))
      assert(p1.contains("percentile_approx") || p1.contains("approx_percentile"))

      Scale.scaleMode(s, on = false)
      val (d2, p2) = plans()
      assert(d2.contains("collect_set") && p2.contains("percentile("))
    }
  }

  test("scale mode rewrites exact set distinct to HLL sketch; off by default") {
    withExtSession { s =>
      import s.implicits._
      val df = (1 to 1000).map(i => (i % 7, i % 101)).toDF("k", "u")

      Scale.scaleMode(s, on = false)
      val exact = df.groupBy("k").agg(size(collect_set($"u")).as("ct"))
      assert(exact.queryExecution.optimizedPlan.toString.contains("collect_set"))
      val exactRows = exact.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(exactRows.values.forall(_ == 101))

      Scale.scaleMode(s)
      val approx = df.groupBy("k").agg(size(collect_set($"u")).as("ct"))
      val optimized = approx.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("collect_set"), s"not rewritten:\n$optimized")
      assert(optimized.contains("approx_count_distinct"), s"no sketch:\n$optimized")
      // HLL++ at default rsd (5%): 101 distinct per key lands within ±10
      val approxRows = approx.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(approxRows.keySet == exactRows.keySet)
      approxRows.values.foreach(v => assert(math.abs(v - 101) <= 10, s"approx too far: $v"))
      Scale.scaleMode(s, on = false)
    }
  }
}
