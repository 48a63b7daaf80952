package graft

import java.nio.file.Files
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._

/** Unit gates for the PlanAudit counters — in particular the pushdown
  * detector: it must see the predicates a healthy scan-bound plan pushes,
  * and it must report ZERO for a deliberately-broken probe (a cast on the
  * filter column silently defeats parquet pushdown without changing the
  * result — exactly the regression the registry-wide gate exists to trip).
  * The walker cases run on the shared session with a no-op stop, writing
  * to temp paths only.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count() // finalize AQE like the audit does
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("pushed-filter counter: q6-style scan-bound filters reach the scan") {
    val dir = "/root/testdata/sf0.001"
    for (name <- PlanAudit.MustPushFilters) {
      val plan = planOf(SparkEntry.queries(name)(spark, dir))
      assert(PlanAudit.pushedFilterCount(plan) >= 1,
        s"$name plan pushed no filters into the scan:\n$plan")
    }
  }

  test("corpus Han gate: clean corpora pass, a planted URO/ExtA doc trips it") {
    Verify.assertHanFree(spark, "/root/testdata/sf0.001") // the real corpus is clean
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("han_gate").toString
    Seq((1L, "plain ascii text"), (2L, "mixed 你好 han run"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] { Verify.assertHanFree(spark, dir) }
    assert(e.getMessage.contains("Han characters"))
  }

  test("pushed-filter counter: a cast on the filter column trips the gate (0 pushed)") {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, dir)
    // healthy probe: a plain comparison pushes
    val healthy = planOf(li.filter(col("l_quantity") < 10).select(col("l_orderkey")))
    assert(PlanAudit.pushedFilterCount(healthy) >= 1, s"healthy probe pushed nothing:\n$healthy")
    // broken probe: casting the DECIMAL column to string before comparing
    // defeats parquet pushdown — the detector must report 0 so the
    // registry gate fails loud instead of silently scanning everything
    val broken = planOf(li.filter(col("l_quantity").cast("string") === "7.00")
      .select(col("l_orderkey")))
    assert(PlanAudit.pushedFilterCount(broken) == 0,
      s"broken probe still counted pushed filters:\n$broken")
  }

  test("pushed-filter counter: truncation fragments never count (ADVICE r10)") {
    // Spark truncates scan metadata around ~100 chars, which can leave a
    // trailing fragment like "IsNotN..." — the tail of an IsNotNull entry.
    // Counting it would let an all-IsNotNull-but-truncated list pass the
    // >=1 gate; the counter must treat any "..."-terminated token as
    // unknowable and keep the count a true lower bound.
    val allTruncated = "PushedFilters: [IsNotNull(a), IsNotNull(b), IsNotN..."
    assert(PlanAudit.pushedFilterCount(allTruncated) == 0,
      "a truncated all-IsNotNull list must count zero substantive filters")
    // (the comma-split sees multi-arg predicates as several tokens — fine
    // for a >=1 gate, so assert presence, not an exact count)
    val substantive = "PushedFilters: [IsNotNull(a), GreaterThan(b,7), IsNotN..."
    assert(PlanAudit.pushedFilterCount(substantive) >= 1)
    val bareEllipsis = "PushedFilters: [IsNotNull(a), ..."
    assert(PlanAudit.pushedFilterCount(bareEllipsis) == 0)
  }

  /** Walk `names` at sf0.001 with reps 1: the artifact goes to
    * `tmp/PLAN_AUDIT.json`, the plans under `tmp/plans`.
    */
  private def walk(tmp: java.nio.file.Path, names: String*): JsonNode = {
    val out = tmp.resolve("PLAN_AUDIT.json")
    val c = Sweep.Ctx(spark, sf("sf0.001"), Seq(1), 1)
    try Console.withOut(new java.io.ByteArrayOutputStream()) {
      Sweep.run(PlanAudit.Walk(names, tmp.resolve("plans").toString, 4000), c, out, () => ())
    } finally spark.sparkContext.removeSparkListener(c.log)
    new ObjectMapper().readTree(new String(Files.readAllBytes(out), "UTF-8"))
  }

  test("walker: an unknown query name fails at start, naming it, before any query runs") {
    val tmp = Files.createTempDirectory("plan_audit")
    val e = intercept[IllegalArgumentException](walk(tmp, "q6_forecast_revenue", "q6_forcast_revenue"))
    assert(e.getMessage.contains("unknown query names: q6_forcast_revenue"), e.getMessage)
    assert(Files.list(tmp).count == 0, "no artifact and no plan dir")
  }

  test("walker: the dump shows the plans a construction-time localCheckpoint ran") {
    val tmp = Files.createTempDirectory("plan_audit")
    walk(tmp, "dedup_minhash_lsh")
    val txt = new String(Files.readAllBytes(tmp.resolve("plans/dedup_minhash_lsh.txt")), "UTF-8")
    val Array(build, last) = txt.split("==== final frame ====\n")
    assert(last.startsWith("== Physical Plan =="), last.take(200))
    // the final frame reads the signature table as a checkpointed RDD; the
    // build section holds the chain behind it: the documents scan and the
    // signature kernel
    assert(last.contains("Scan ExistingRDD") && !last.contains("graft_minhash"))
    assert(build.contains("localCheckpoint"), build.take(400))
    assert(build.contains("documents.parquet") && build.contains("graft_minhash"), build)
  }

  test("walker: counters and job attribution per query, artifact on the given path") {
    val j = walk(Files.createTempDirectory("plan_audit"), "q6_forecast_revenue", "dedup_minhash_lsh")
    assert(j.get("queries").asInt == 2 && j.get("failed").size == 0)
    val q6 = j.get("per_query").get("q6_forecast_revenue")
    for (k <- Seq("exchanges", "single_partition", "sp_max_rows", "cartesian", "bnlj",
      "codegen_spans", "pushed_filters")) assert(q6.has(k), s"q6 lacks $k: $q6")
    assert(q6.get("pushed_filters").asLong >= 1)
    for (name <- Seq("q6_forecast_revenue", "dedup_minhash_lsh")) {
      val a = j.get("per_query").get(name).get("attrib")
      val (wall, gap) = (a.get("wall_ms").asLong, a.get("driver_gap_ms").asLong)
      assert(a.get("jobs").asLong >= 1, s"$name: $a")
      assert(0 <= gap && gap <= wall, s"$name: $a")
      assert(a.get("job_rows").size == a.get("jobs").asInt, s"$name: $a")
    }
  }
}
