package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.sources.{DimStore, LocalFs}

/** The bucketed dim store (S8/ST8). `CrashPointSpec` crashes an upsert
  * before each of its commit steps; the crash-window cases here are the
  * on-disk states it cannot produce —
  *
  *  - swap window retried by a DIFFERENT batch: `read()` must read the
  *    sealed staging in, and the next `upsert()` must first complete the
  *    pending swaps instead of deleting the staging (which would drop
  *    every key not in the retry's batch);
  *  - write window: the crash landed MID staged write (no seal,
  *    unreadable files), so no destination bucket was touched; dropping
  *    the partial staging is the correct recovery;
  *  - swap window before a live bucket's delete, with a staged copy that
  *    duplicates the live one.
  */
class DimStoreSpec extends SparkSpecBase {

  private def keySet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  /** The bucket each key of `table` lives in, read off the store's own
    * `graft_bucket=` dirs (partition discovery), so no test repeats the
    * store's bucket hash.
    */
  private def bucketsOnDisk(base: String, table: String): Map[Long, Int] = {
    import spark.implicits._
    spark.read.parquet(s"$base/$table").select("k", "graft_bucket")
      .as[(Long, Int)].collect().toMap
  }

  /** Manufacture the swap window for bucket `b` of `table`: move the live
    * bucket dir into a fresh `_tmp_upsert` (as the completed staging's
    * output) and seal it — the on-disk state after the live bucket's
    * delete succeeded and the move never ran.
    */
  private def makeSwapWindow(base: String, table: String, b: Int): Unit = {
    val tmp = Paths.get(s"$base/$table/_tmp_upsert")
    Files.createDirectories(tmp)
    Files.move(Paths.get(s"$base/$table/graft_bucket=$b"),
      tmp.resolve(s"graft_bucket=$b"), StandardCopyOption.ATOMIC_MOVE)
    LocalFs.seal(tmp.toFile)
  }

  test("swap-window crash: read is lossless and the retry recovers the staged bucket") {
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_swap").toString
    val store = new DimStore(spark, base)
    // enough keys that every bucket is populated
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")

    // pick a bucket, stage the crash window there
    val buckets = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).map(_.getName)
    assert(buckets.length > 1)
    val victim = buckets.head.stripPrefix("graft_bucket=").toInt
    makeSwapWindow(base, "t", victim)

    // read during the window: every key still visible, exactly once
    val inWindow = store.read("t").get
    assert(keySet(inWindow) == (0L until 64L).toSet,
      "read in the swap window must union the completed staging back in")
    assert(inWindow.count() == 64, "no duplicate rows from the staging union")

    // the retry (a later batch touching OTHER keys' buckets) must first
    // complete the pending swap, not delete the staging
    store.upsert("t", Seq((1000L, 2L, "new")).toDF("k", "ts", "v"), "k", "ts")
    assert(!new java.io.File(s"$base/t/_tmp_upsert").exists(), "staging cleared after recovery")
    val after = store.read("t").get
    assert(keySet(after) == (0L until 64L).toSet + 1000L,
      "retry must recover the orphaned bucket's keys, not rebuild it from the batch alone")
    // versioned convergence still holds through the recovered state
    store.upsert("t", Seq((5L, 9L, "v5new"), (5L, 3L, "stale")).toDF("k", "ts", "v"), "k", "ts")
    val r5 = store.read("t").get.filter(col("k") === 5L).collect()
    assert(r5.length == 1 && r5.head.getAs[String]("v") == "v5new")
  }

  test("write-window crash: a staging without _SUCCESS is dropped, store unchanged") {
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_partial").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 16L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    // partial staging: bucket dirs present, no _SUCCESS (crash mid-write)
    val tmp = Paths.get(s"$base/t/_tmp_upsert/graft_bucket=0")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("part-garbage.parquet"), Array[Byte](1, 2, 3))
    // read ignores it…
    assert(keySet(store.read("t").get) == (0L until 16L).toSet)
    // …and the retry drops it without swapping garbage into the store
    store.upsert("t", Seq((99L, 1L, "x")).toDF("k", "ts", "v"), "k", "ts")
    assert(!new java.io.File(s"$base/t/_tmp_upsert").exists())
    assert(keySet(store.read("t").get) == (0L until 16L).toSet + 99L)
  }

  test("upsert stages one file per bucket (the write's task-commit floor)") {
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_files").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 256L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    val perBucket = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).map { d =>
        d.listFiles().count(f => f.getName.endsWith(".parquet"))
      }
    assert(perBucket.nonEmpty && perBucket.forall(_ == 1),
      s"each bucket must be one parquet file, got ${perBucket.mkString(",")}")
  }

  test("pre-meta store in the swap window: staged bucket replaces the live copy, no duplicate keys") {
    // the window where a destination bucket was NOT yet deleted: both the
    // live bucket and its completed staged successor exist. read() must
    // prefer the staged copy — a raw union would show every key of that
    // bucket twice, and a pre-meta store has no key/version metadata to
    // dedup it by
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_premeta").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    // simulate a store written before _graft_meta existed
    Files.deleteIfExists(Paths.get(s"$base/t/_graft_meta"))
    // completed staging whose bucket was not yet swapped: staged copy is a
    // COPY of the live bucket (the upsert's merged output for a no-change
    // batch), live dir still in place
    val victim = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).head.getName
    val tmp = Paths.get(s"$base/t/_tmp_upsert/$victim")
    Files.createDirectories(tmp)
    val live = new java.io.File(s"$base/t/$victim")
    live.listFiles().filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, tmp.resolve(f.getName))
    }
    Files.createFile(Paths.get(s"$base/t/_tmp_upsert/_graft_staged_ok"))
    val r = store.read("t").get
    assert(keySet(r) == (0L until 64L).toSet)
    assert(r.count() == 64,
      "staged bucket must replace the live copy on read — no duplicate keys in the window")
  }

  test("the bucket count is fixed: a changed spark.graft.dim.buckets loses and duplicates no key") {
    // the count was a conf read on every upsert, but no store records it:
    // re-hashing a touched bucket's old rows under another count moved
    // them into buckets the upsert never swapped, and keys left in the
    // untouched old buckets showed up twice
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_buckets").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    spark.conf.set("spark.graft.dim.buckets", "12")
    try store.upsert("t", Seq((3L, 2L, "v3b"), (1000L, 2L, "new")).toDF("k", "ts", "v"), "k", "ts")
    finally spark.conf.unset("spark.graft.dim.buckets")
    val r = store.read("t").get
    assert(keySet(r) == (0L until 64L).toSet + 1000L, "keys lost")
    assert(r.count() == 65, "keys duplicated")
    assert(r.filter(col("k") === 3L).select("v").as[String].collect().toSeq == Seq("v3b"))
  }

  test("schema cache survives evolution: new columns merge, fresh stores re-seed") {
    // the r15 bucket-schema cache must stay a SUPERSET of every on-disk
    // bucket: a column introduced by one batch (living only in its bucket)
    // must survive a LATER upsert of that bucket from a FRESH store
    // instance (process restart, empty cache) whose batch lacks the column
    // — the cache re-seeds from ALL bucket dirs, so the merged read still
    // carries it. Asserted against the bucket files (mergeSchema read).
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_schema").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    // batch with a NEW column on key 3 (highest version for that key)
    store.upsert("t", Seq((3L, 5L, "v3b", "extra3")).toDF("k", "ts", "v", "w"), "k", "ts")
    def allBuckets() = {
      val dirs = new java.io.File(s"$base/t").listFiles()
        .filter(_.getName.startsWith("graft_bucket=")).map(_.getPath).toIndexedSeq
      spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    }
    // FRESH instance after a restart (the process-wide cache emptied): an
    // upsert that touches key 3's bucket with a batch LACKING w and an
    // older version — the re-seeded superset schema must keep (ts=5,
    // w=extra3) as key 3's winner
    DimStore.bucketSchemaCache.clear()
    val store2 = new DimStore(spark, base)
    store2.upsert("t", Seq((3L, 2L, "v3-stale")).toDF("k", "ts", "v"), "k", "ts")
    val row3 = allBuckets().filter(col("k") === 3L).collect()
    assert(row3.length == 1)
    assert(row3.head.getAs[Long]("ts") == 5L && row3.head.getAs[String]("w") == "extra3",
      "re-seeded cache must preserve the column living only in the touched bucket")
    // same-instance follow-up over the now-cached schema: merge still exact
    store2.upsert("t", Seq((3L, 9L, "v3c")).toDF("k", "ts", "v"), "k", "ts")
    val row3b = allBuckets().filter(col("k") === 3L).collect()
    assert(row3b.length == 1 && row3b.head.getAs[Long]("ts") == 9L)
    assert(allBuckets().count() == 64)
  }

  test("two interleaved instances on one path share the schema cache: no column dropped") {
    // instance A caches the narrow schema; instance B (same table, path
    // spelled differently) adds a column on key 3; A's next upsert of key
    // 3's bucket must read that bucket WITH the new column — a per-instance
    // cache would read it with A's stale narrow schema and write it back
    // without the column
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_interleave").toString
    val a = new DimStore(spark, base)
    val b = new DimStore(spark, s"$base/.")
    a.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    b.upsert("t", Seq((3L, 5L, "v3b", "extra3")).toDF("k", "ts", "v", "w"), "k", "ts")
    a.upsert("t", Seq((3L, 2L, "v3-stale")).toDF("k", "ts", "v"), "k", "ts")
    val dirs = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).map(_.getPath).toIndexedSeq
    val all = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    assert(all.columns.contains("w"), "the interleaved upsert dropped column w")
    val row3 = all.filter(col("k") === 3L).collect()
    assert(row3.length == 1)
    assert(row3.head.getAs[Long]("ts") == 5L && row3.head.getAs[String]("w") == "extra3")
    assert(all.count() == 64)
  }

  test("read() shows a column that only some buckets hold, with the store's superset schema") {
    // a plain partitioned read takes its schema from one file, so it
    // drops a column that graft_bucket=0 lacks
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_readschema").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    val bucketOf = bucketsOnDisk(base, "t")
    assert(bucketOf.values.toSet.contains(0), "setup: graft_bucket=0 holds a key")
    val key = bucketOf.collectFirst { case (k, b) if b != 0 => k }.get
    store.upsert("t", Seq((key, 2L, "vw", "extra")).toDF("k", "ts", "v", "w"), "k", "ts")
    def check(r: org.apache.spark.sql.DataFrame): Unit = {
      assert(r.columns.toSeq == Seq("k", "ts", "v", "w"))
      val w = r.select("k", "w").as[(Long, Option[String])].collect().toMap
      assert(w.size == 64 && w(key).contains("extra"))
      assert((w - key).values.forall(_.isEmpty))
    }
    check(store.read("t").get)
    DimStore.bucketSchemaCache.clear() // a restart: read() re-seeds the superset
    check(new DimStore(spark, base).read("t").get)
  }

  test("an upsert touching only new buckets keeps every column in the schema cache") {
    // a cache refreshed to the staged write's schema alone narrows when a
    // batch lands only in empty buckets, and the next rewrite of a bucket
    // holding the dropped column writes the bucket back without it
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_newbucket").toString
    val store = new DimStore(spark, base)
    store.upsert("t", Seq((1L, 1L, "a", "w1")).toDF("k", "ts", "v", "w"), "k", "ts")
    store.upsert("probe", (1L until 100L).map(k => (k, 1L)).toDF("k", "ts"), "k", "ts")
    val bucketOf = bucketsOnDisk(base, "probe")
    val other = (2L until 100L).find(k => bucketOf(k) != bucketOf(1L)).get
    store.upsert("t", Seq((other, 1L, "b")).toDF("k", "ts", "v"), "k", "ts")
    store.upsert("t", Seq((1L, 0L, "stale")).toDF("k", "ts", "v"), "k", "ts")
    // the bucket files themselves, not read(), which widens to the cache
    val dirs = LocalFs.listDirs(new java.io.File(s"$base/t"), "graft_bucket=").map(_.getPath)
    val all = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    assert(all.columns.contains("w"), "the rewrite of key 1's bucket dropped column w")
    assert(all.filter(col("k") === 1L).select("ts", "w").as[(Long, String)].collect().toSeq == Seq((1L, "w1")))
  }

  test("a key whose type changed survives a restart: every key read once, the next upsert succeeds") {
    // the Double upsert widens k: rewriting only key 7's bucket as
    // k: double would leave the others at k: bigint, a store that no one
    // schema reads (a strict merge refuses it, and parquet cannot read
    // INT64 as double), so a restarted process could neither read nor
    // upsert
    import spark.implicits._
    val base = Files.createTempDirectory("dimstore_keytype").toString
    val store = new DimStore(spark, base)
    store.upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    store.upsert("t", Seq((7.0, 2L, "v7b")).toDF("k", "ts", "v"), "k", "ts")
    DimStore.bucketSchemaCache.clear() // a restart
    val restarted = new DimStore(spark, base)
    def rows() = restarted.read("t").get
      .select(col("k").cast("long"), col("v")).as[(Long, String)].collect().toSeq
    val keys = rows().map(_._1)
    assert(keys.sorted == (0L until 64L), s"keys lost or duplicated: ${keys.sorted}")
    assert(rows().toMap.apply(7L) == "v7b")
    restarted.upsert("t", Seq((8L, 3L, "v8b")).toDF("k", "ts", "v"), "k", "ts")
    val after = rows()
    assert(after.map(_._1).sorted == (0L until 64L))
    assert(after.toMap.apply(8L) == "v8b" && after.toMap.apply(7L) == "v7b")
  }
}
