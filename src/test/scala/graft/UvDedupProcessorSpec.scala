package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamOps

/** ST2 exact-TTL dedup (`StreamOps.st2UvDedupTtl`): keyed state passes
  * exactly one event per (user, date), across micro-batches, re-admits
  * after a date change, and re-admits the same (user, date) once the TTL
  * since its last pass has lapsed (the reference's UniqueVisitApp
  * contract).
  */
class UvDedupProcessorSpec extends SparkSpecBase {
  import spark.implicits._

  // The TTL rendering (ProcessingTimeTimeout — the reference's
  // `StateTtlConfig.newBuilder(Time.hours(24))` on processing time)
  // exercised at a seconds-scale horizon: the 24h duration itself is just
  // a constant, and a 24h test cannot observe expiry. Under a
  // processing-time timeout the operator schedules a no-data micro-batch
  // continuously (to fire timeouts), so `processAllAvailable` never
  // returns. The tests therefore await on the OBSERVABLE — memory-sink
  // row counts — and sequence each step behind an admitted sentinel event
  // from the same input batch, which proves the preceding suppressed
  // duplicate was processed too. Contract verified: suppress-within-TTL
  // across batches, re-admit after expiry, and expiry counted from the
  // last pass — the OnCreateAndWrite semantics of UniqueVisitApp.java:62-66.
  private def withTtlQuery(ttl: java.time.Duration)(
      body: (MemoryStream[(Long, String)], String, Int => Unit) => Unit): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = StreamOps.st2UvDedupTtl(input.toDS(), ttl)
    val name = s"uvttl${System.nanoTime()}"
    val q = out.toDF("user_id", "dt").writeStream
      .format("memory").queryName(name).outputMode("update").start()
    def awaitRows(n: Int): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table(name).count() < n && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(spark.table(name).count() >= n,
        s"sink never reached $n rows: ${spark.table(name).collect().toSeq}")
    }
    try body(input, name, awaitRows) finally q.stop()
  }

  test("TTL ValueState dedup: duplicate suppressed while the TTL holds") {
    withTtlQuery(java.time.Duration.ofHours(1)) { (input, name, awaitRows) =>
      input.addData(Seq((1L, "2024-01-01"), (1L, "2024-01-01"), (2L, "2024-01-01")))
      awaitRows(2) // one pass per key; same-batch dup suppressed
      // sentinel user 3 in the SAME input batch proves the duplicate was
      // processed by the time the sentinel lands in the sink
      input.addData(Seq((1L, "2024-01-01"), (3L, "2024-01-01")))
      awaitRows(3)
      val got = spark.table(name).as[(Long, String)].collect().toSeq
      assert(got.count(_ == (1L, "2024-01-01")) == 1,
        s"within-TTL duplicate passed: $got")
    }
  }

  test("TTL ValueState dedup: re-admits after processing-time expiry") {
    withTtlQuery(java.time.Duration.ofSeconds(2)) { (input, name, awaitRows) =>
      input.addData(Seq((1L, "2024-01-01")))
      awaitRows(1)
      Thread.sleep(2500) // let the 2s TTL lapse on the wall clock
      input.addData(Seq((1L, "2024-01-01")))
      awaitRows(2) // state expired → the same (user, date) passes again
      val got = spark.table(name).as[(Long, String)].collect().toSeq
      assert(got == Seq((1L, "2024-01-01"), (1L, "2024-01-01")))
    }
  }

  test("TTL dedup: a suppressed duplicate does not push the expiry back (OnCreateAndWrite)") {
    // Only a pass writes state, so the TTL counts from the first pass. A
    // rendering that renews the timeout on every call would still hold
    // the key 3.5 s after the first pass (1.5 s + 3 s after the duplicate)
    // and suppress the third event.
    def sleepUntil(nanos: Long): Unit =
      Thread.sleep(math.max(0L, (nanos - System.nanoTime()) / 1000000L))
    withTtlQuery(java.time.Duration.ofSeconds(3)) { (input, name, awaitRows) =>
      val sent = System.nanoTime() // at or before the pass's batch time
      input.addData(Seq((1L, "2024-01-01")))
      awaitRows(1)
      val passed = System.nanoTime() // at or after the pass's batch time
      sleepUntil(sent + 1500L * 1000000L)
      // the duplicate, with sentinel user 2 in the same input batch
      input.addData(Seq((1L, "2024-01-01"), (2L, "2024-01-01")))
      awaitRows(2)
      val mid = spark.table(name).as[(Long, String)].collect().toSeq
      assert(mid.count(_ == (1L, "2024-01-01")) == 1, s"within-TTL duplicate passed: $mid")
      sleepUntil(passed + 3500L * 1000000L)
      input.addData(Seq((1L, "2024-01-01")))
      awaitRows(3) // 3 s since the only pass → the same (user, date) passes again
      val got = spark.table(name).as[(Long, String)].collect().toSeq
      assert(got.count(_ == (1L, "2024-01-01")) == 2 && got.contains((2L, "2024-01-01")),
        s"unexpected sink rows: $got")
    }
  }

  test("transformWithState ValueState dedup: one pass per (user, date) across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = StreamOps.st2UvDedupTtl(input.toDS(), java.time.Duration.ZERO)
    val name = s"uvsink${System.nanoTime()}"
    val q = out.toDF("user_id", "dt").writeStream
      .format("memory").queryName(name).outputMode("update").start()
    try {
      input.addData(Seq(
        (1L, "2024-01-01"), (1L, "2024-01-01"), // same batch dup
        (2L, "2024-01-01")))
      q.processAllAvailable()
      input.addData(Seq(
        (1L, "2024-01-01"), // cross-batch dup: state remembers
        (1L, "2024-01-02"), // new day: passes
        (3L, "2024-01-01")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"),
      (2L, "2024-01-01"), (3L, "2024-01-01")))
  }
}
