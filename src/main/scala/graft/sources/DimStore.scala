package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed dimension store — the Spark rendering of the reference's
  * Phoenix/HBase dim tables + Redis cache (S8/S9:
  * `app/function/DimSinkFunction.java:21-77`,
  * `TableProcessFunction.java:66-122`, `utils/DimUtil.java:13-45`).
  *
  * Upserts land via `foreachBatch`; the read side is a plain scan that a
  * fact-stream join broadcasts — Catalyst's broadcast hash join replaces
  * the whole async/Redis/thread-pool point-lookup machinery, and "cache
  * invalidation" disappears because each micro-batch re-reads the store.
  *
  * Storage is last-write-wins keyed parquet, HASH-BUCKETED by key
  * (`graft_bucket=<i>` subdirectories, `spark.graft.dim.buckets` of them,
  * default 16): an upsert rewrites ONLY the buckets its batch keys hash
  * into, so per-batch I/O is O(touched buckets), not O(table) — the Spark
  * rendering of the reference's per-row Phoenix UPSERT
  * (`app/function/DimSinkFunction.java:68-77`). A slowly-growing dim (the
  * user table) costs each micro-batch a few buckets however large the
  * table gets; untouched bucket files are left byte-identical. (A
  * Delta/Iceberg MERGE replaces this layout in a real deployment; the
  * upsert contract is identical.)
  */
class DimStore(spark: SparkSession, basePath: String,
               profileHook: (String, Double) => Unit = (_, _) => ()) {

  private def path(table: String) = s"$basePath/$table"

  /** Per-phase wall attribution for `upsert` (the streaming warehouse's
    * per-batch fixed-cost breakdown): each phase's seconds are reported to
    * `profileHook`, a no-op by default.
    */
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    profileHook(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  private def numBuckets: Int =
    spark.conf.get("spark.graft.dim.buckets", "16").toInt

  /** This store's key into the process-wide `DimStore.bucketSchemaCache`:
    * the canonical table path, resolved once here so two instances over
    * the same directory (however spelled) share one cache entry and no
    * upsert pays a filesystem call for it.
    */
  private val canonicalBase = new java.io.File(basePath).getCanonicalPath
  private def cacheKey(table: String) = s"$canonicalBase/$table"

  /** Bucket of a key value: hash of a CANONICAL string form so the same
    * logical key buckets identically whatever numeric type a batch arrives
    * with. Integral/string keys hash their plain string form (`7L → "7"`,
    * unchanged from the original layout, so existing integral-keyed stores
    * keep their bucket placement). Floating/decimal keys with an INTEGRAL
    * value are normalized to that same integral form — `7.0d → "7"`,
    * `decimal 7.00 → "7"` — so a key arriving as Long in one batch and
    * Double in the next lands in ONE bucket and the versioned dedup can
    * collapse it (a raw string cast puts `"7.0"` and `"7"` in different
    * buckets: duplicate keys `read()` would never see merged). Genuinely
    * fractional values hash their double string form (`7.5` however typed
    * → `"7.5"`). Integral keys are the recommended contract (the
    * reference's dims are all integer-keyed); integral-valued keys beyond
    * long range fall back to the double form (consistent, just no longer
    * cross-type with a long — a long can't hold them anyway).
    */
  private def canonicalKey(df: DataFrame, keyCol: String) =
    df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType |
           _: org.apache.spark.sql.types.DecimalType =>
        val k = col(keyCol)
        // NOT decimal→string (BigDecimal renders 0 at scale 9 as "0E-9");
        // the long-range guard keeps the integral cast from overflowing
        when(k === floor(k) && abs(k) < lit(9.0e18),
          floor(k).cast("long").cast("string"))
          .otherwise(k.cast("double").cast("string"))
      case _ => col(keyCol).cast("string")
    }

  private def bucketOf(df: DataFrame, keyCol: String, nb: Int) =
    pmod(xxhash64(canonicalKey(df, keyCol)), lit(nb.toLong)).cast("int")

  /** Last-write-wins collapse shared by the upsert merge and the
    * mixed-layout read: highest `versionCol` per `keyCol` wins, version
    * ties broken deterministically by a whole-row hash.
    */
  private def dedupLatest(df: DataFrame, keyCol: String, versionCol: String): DataFrame = {
    val rowHash = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc, rowHash.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Per-table key/version metadata (`_graft_meta`, underscore-prefixed so
    * parquet readers and the flat-file scan ignore it), written before any
    * bucket write so the crashed-migration window always knows how to
    * collapse a mixed layout on read.
    */
  private def writeMeta(table: String, keyCol: String, versionCol: String): Unit = {
    new java.io.File(path(table)).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${path(table)}/_graft_meta"),
      s"keyCol=$keyCol\nversionCol=$versionCol\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readMeta(table: String): Option[(String, String)] = {
    val f = java.nio.file.Paths.get(s"${path(table)}/_graft_meta")
    if (java.nio.file.Files.exists(f)) {
      val kv = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.filter(_.contains("=")).map { l =>
          val Array(k, v) = l.split("=", 2); k -> v
        }.toMap
      for (k <- kv.get("keyCol"); v <- kv.get("versionCol")) yield (k, v)
    } else None
  }

  /** Completed-staging marker, written by the STORE itself (driver-side,
    * after the staged write returns) rather than relying on Spark's
    * job-committer `_SUCCESS` file: a deployment with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` never writes
    * `_SUCCESS`, which would make a genuinely completed staging look like
    * a partial write and get deleted AFTER a destination bucket was
    * already removed — exactly the lost-bucket window the swap recovery
    * exists to close. `_SUCCESS` is still honored on read for stores
    * staged by older versions of this code.
    */
  private def stagedComplete(tmp: java.io.File): Boolean =
    new java.io.File(tmp, "_graft_staged_ok").exists ||
      new java.io.File(tmp, "_SUCCESS").exists

  /** Complete a crashed upsert's pending bucket swaps before anything else
    * touches the store. The staged dirs under `_tmp_upsert` are the
    * AUTHORITATIVE merged state (old bucket ∪ batch, deduped) only once the
    * staged write finished — the store's own `_graft_staged_ok` sentinel
    * (see `stagedComplete`) records exactly that. Without the marker the
    * staging is a partial write from a crash BEFORE any destination bucket
    * was deleted, so dropping it loses nothing. With it, the crash may
    * have landed between a destination bucket's delete and the move that
    * replaces it — the bucket's ONLY surviving copy lives in staging — so
    * every staged bucket still present is swapped into place (a staged
    * bucket strictly supersedes the pre-batch bucket it merged), and only
    * then is the staging dir removed. Idempotent: already-moved buckets
    * have no staged src left.
    */
  private def recoverStaged(table: String): Unit = {
    val tmp = new java.io.File(s"${path(table)}/_tmp_upsert")
    if (!tmp.exists) return
    if (stagedComplete(tmp)) {
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("graft_bucket="))
        .foreach { src =>
          val dst = new java.io.File(s"${path(table)}/${src.getName}")
          rmTreeF(dst)
          java.nio.file.Files.move(src.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          ()
        }
    }
    rmTree(tmp.getPath)
  }

  /** Upsert a batch of rows keyed by `keyCol`, versioned by `versionCol`
    * (highest version wins; version ties broken deterministically by a
    * whole-row hash so repeated runs of the same input converge).
    *
    * Only the key-hash buckets present in the batch are merged and
    * rewritten — in ONE Spark job: the batch plus the touched buckets'
    * current rows are unioned, collapsed last-write-wins, and written to a
    * staging dir `partitionBy(graft_bucket)`; each staged bucket dir is
    * then swapped into place with a driver-side atomic rename. (The
    * previous rendering looped the buckets sequentially — two jobs per
    * bucket, ~35 jobs for a batch touching all 16 — and was the dominant
    * term of the streaming warehouse's per-batch fixed cost.) Crash
    * recovery: a retry FIRST completes any pending swaps from a crashed
    * prior attempt (`recoverStaged` — a completed staging is authoritative,
    * so the delete-then-move window cannot orphan a bucket's only copy),
    * then re-merges; the versioned dedup converges, and `read()` both
    * ignores the `_`-prefixed staging dir and unions a COMPLETED staging
    * back in, so the store is never unreadable or lossy in the window.
    *
    * A store written by the pre-bucket flat layout is migrated in the same
    * one pass (every bucket rewritten once, flat files then removed).
    */
  def upsert(table: String, batch: DataFrame, keyCol: String, versionCol: String): Unit = {
    recoverStaged(table)
    val nb = numBuckets
    val tableDir = new java.io.File(path(table))
    val flatFiles = Option(tableDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    // legacy flat store: fold every row in once. Read by EXPLICIT file
    // paths, not the directory — a migration that crashed between bucket
    // writes and flat-file deletion leaves a mixed layout that directory
    // listing + partition discovery reject ("conflicting directory
    // structures"); explicit paths make the retry converge instead.
    // During a retry rows may exist BOTH in a bucket and in the remaining
    // flat files — both sides are merged; the versioned dedup collapses
    // the overlap deterministically.
    val legacy: Option[DataFrame] =
      if (flatFiles.nonEmpty)
        Some(spark.read.parquet(flatFiles.map(_.getPath).toIndexedSeq: _*))
      else None
    writeMeta(table, keyCol, versionCol) // before any bucket write: a crash
    // mid-migration must leave enough metadata for read() to collapse the
    // mixed layout it creates
    val batchB = batch.withColumn("__b", bucketOf(batch, keyCol, nb))
    // touched buckets: driver-side collect bounded by numBuckets
    val touched: Seq[Int] = phase("touched_collect") {
      if (legacy.isDefined) 0 until nb
      else batchB.select(col("__b")).distinct().collect().map(_.getInt(0)).toSeq.sorted
    }
    // ONE multi-path read for every touched bucket: a per-bucket
    // spark.read.parquet pays driver-side footer/schema inference per
    // bucket (~45 ms × buckets × tables — measured as HALF the remaining
    // per-batch dim floor in BENCH_STREAM's dim_phase_bucket_open), while
    // one read over the path list infers once and lists once. r15: the
    // merged schema is CACHED per table, so steady-state batches read
    // with an explicit schema and pay NO footer inference at all — the
    // remaining bucket_open cost after the r14 multi-path fold was
    // exactly that per-batch mergeSchema pass. The cache seeds from ALL
    // bucket dirs (not just touched — a column living only in an
    // untouched bucket must survive into the superset) and is refreshed
    // to the staged write's union schema below, so it is always a
    // superset of every on-disk bucket; parquet nulls the gaps of files
    // missing a cached column exactly like mergeSchema did. Buckets can
    // still legitimately differ in schema (an upsert batch with new
    // columns rewrites only ITS buckets).
    val bucketExisting: Option[DataFrame] = phase("bucket_open") {
      val paths = touched.map(i => s"${path(table)}/graft_bucket=$i")
        .filter(p => new java.io.File(p).exists)
      if (paths.isEmpty) None
      else {
        val sch = DimStore.bucketSchemaCache.getOrElseUpdate(cacheKey(table), {
          val allDirs = Option(tableDir.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.startsWith("graft_bucket="))
            .map(_.getPath).toIndexedSeq
          org.apache.spark.sql.types.StructType(
            spark.read.option("mergeSchema", "true").parquet(allDirs: _*)
              .schema.filterNot(_.name == "graft_bucket"))
        })
        Some(spark.read.schema(sch).parquet(paths: _*))
      }
    }
    // merge WITHOUT the bucket column so the dedup tie-break hash sees
    // exactly the upserted schema (the bucket is re-derived afterwards —
    // it is a pure function of the key, so rows land where they came from)
    val merged = (Seq(batchB.drop("__b")) ++ bucketExisting.toSeq ++ legacy.toSeq)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val deduped = dedupLatest(merged, keyCol, versionCol)
    val staged = deduped.withColumn("graft_bucket", bucketOf(deduped, keyCol, nb))
    val tmp = s"${path(table)}/_tmp_upsert"
    phase("staged_write") {
      // repartition ON the partition column first: the dedup window leaves
      // the frame hash-partitioned by key (32 shuffle partitions), and
      // `partitionBy` from that layout writes up to 32 files PER BUCKET —
      // each an output-task file commit. One partition per bucket writes
      // exactly one file per bucket: the bucket is this store's unit of
      // rewrite (at 100 TB you raise spark.graft.dim.buckets, not the
      // per-bucket file count). This shape is the measured floor: a
      // round-14 A/B over a 20-batch, two-table replay of the warehouse's
      // dim traffic (OPTIMIZATION_r14.md) recorded 0.47 s/upsert median
      // isolated, with the v2 file-output committer at 0.50 and a
      // single-task dynamic write at 0.56 — the ~0.47 s floor is Spark job
      // fixed cost, not task commits, so neither variant is kept.
      staged.repartition(nb, col("graft_bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("graft_bucket").parquet(tmp)
      // the store's own completion sentinel, independent of the committer
      // conf (see stagedComplete) — written only once the job returned
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/_graft_staged_ok"), Array.empty[Byte])
    }
    // refresh the schema cache to the staged union (⊇ old cache ⊇ every
    // untouched bucket; the touched buckets ARE this schema)
    DimStore.bucketSchemaCache.put(cacheKey(table), org.apache.spark.sql.types.StructType(
      staged.schema.filterNot(_.name == "graft_bucket")))
    phase("swap") {
      touched.foreach { i =>
        val src = new java.io.File(s"$tmp/graft_bucket=$i")
        // a touched bucket always stages ≥1 row (the batch's rows hash there
        // and dedup keeps one row per key); absent src = genuinely empty
        // bucket during a full migration — nothing to place
        if (src.exists()) {
          val dst = new java.io.File(s"${path(table)}/graft_bucket=$i")
          rmTreeF(dst)
          java.nio.file.Files.move(src.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          ()
        }
      }
      rmTree(tmp)
      // migration complete: the flat files' rows now live in the buckets
      flatFiles.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    }
  }

  private def rmTreeF(d: java.io.File): Unit = {
    if (d.isDirectory) d.listFiles().foreach(rmTreeF)
    d.delete(); ()
  }

  private def rmTree(dir: String): Unit = {
    val d = new java.io.File(dir)
    if (d.exists)
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
  }

  /** Whole-store read: partition discovery over the bucket directories;
    * the synthetic `graft_bucket` partition column is dropped so callers see
    * exactly the upserted schema.
    *
    * A store caught in the crashed-migration window — flat leftover files
    * next to bucket directories — is readable too: a directory-path read
    * would reject the mixed layout ("conflicting directory structures"), so
    * both halves are read by EXPLICIT paths and collapsed with the same
    * versioned last-write-wins dedup the upsert retry applies (key/version
    * columns from `_graft_meta`). A store caught in the SWAP window — a
    * COMPLETED staging (the `_graft_staged_ok` sentinel, see
    * `stagedComplete`) whose bucket moves were interrupted, possibly after
    * a destination bucket was deleted — is read losslessly too: each
    * staged bucket dir is read IN PLACE OF the live bucket it supersedes
    * (so even a pre-meta store never shows a key twice), WITHOUT mutating
    * the store —
    * repair itself belongs to the next `upsert`'s `recoverStaged`. The
    * store is thus never unreadable or lossy in the exact windows the
    * upsert retry exists to recover from.
    */
  def read(table: String): Option[DataFrame] = {
    val tableDir = new java.io.File(path(table))
    if (!tableDir.exists) None
    else {
      val entries = Option(tableDir.listFiles()).getOrElse(Array.empty)
      val flat = entries
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      val buckets = entries
        .filter(f => f.isDirectory && f.getName.startsWith("graft_bucket="))
      val tmp = new java.io.File(s"${path(table)}/_tmp_upsert")
      val stagedDirs: Array[java.io.File] =
        if (stagedComplete(tmp))
          Option(tmp.listFiles()).getOrElse(Array.empty)
            .filter(d => d.isDirectory && d.getName.startsWith("graft_bucket="))
        else Array.empty
      // a completed staged bucket strictly SUPERSEDES the live bucket it
      // merged (old ∪ batch, deduped) — read the staged copy INSTEAD of
      // unioning both. With `_graft_meta` present the versioned dedup
      // would collapse the overlap anyway, but a pre-meta store caught in
      // the swap window has no key/version to dedup by, and the raw union
      // would show every key in a not-yet-swapped bucket twice.
      val stagedNames = stagedDirs.map(_.getName).toSet
      val liveBuckets = buckets.filterNot(b => stagedNames.contains(b.getName))
      // dir holding only metadata (crash between the meta write and the
      // first bucket write): an empty store, not a schema-inference error
      if (flat.isEmpty && buckets.isEmpty && stagedDirs.isEmpty) return None
      val df =
        if (flat.nonEmpty || stagedDirs.nonEmpty) {
          // explicit leaf-dir paths: no partition discovery, so no synthetic
          // graft_bucket column and no layout conflict between the halves
          val parts = Seq(
            liveBuckets.map(_.getPath).toSeq, flat.map(_.getPath).toSeq,
            stagedDirs.map(_.getPath).toSeq)
            .filter(_.nonEmpty)
            .map(ps => spark.read.parquet(ps: _*))
          val merged = parts.reduce(_.unionByName(_, allowMissingColumns = true))
          readMeta(table) match {
            case Some((keyCol, versionCol)) => dedupLatest(merged, keyCol, versionCol)
            // pre-meta store caught mid-crash: raw union is still a read
            // (the next upsert's retry collapses it)
            case None => merged
          }
        } else spark.read.parquet(path(table))
      Some(if (df.columns.contains("graft_bucket")) df.drop("graft_bucket") else df)
    }
  }

  /** Point lookup — test/debug convenience mirroring `DimUtil.getDimInfo`;
    * production joins the whole store via broadcast instead.
    */
  def lookup(table: String, keyCol: String, key: Any): Array[org.apache.spark.sql.Row] =
    read(table).map(_.filter(col(keyCol) === lit(key)).collect()).getOrElse(Array.empty)
}

object DimStore {

  /** Per-table superset of every on-disk bucket's columns (r15), keyed by
    * canonical table path and shared by every instance in the process:
    * seeded from a one-time mergeSchema pass over all bucket dirs,
    * refreshed to each staged write's union schema (which by construction
    * contains the previous entry, hence every untouched bucket). Lets
    * steady-state upserts read touched buckets with an explicit schema —
    * zero per-batch footer inference. Per instance, a second store on the
    * same path that added a column would leave the first one's entry
    * stale, and its explicit-schema read would silently drop the column;
    * shared, every writer in the process widens the one entry. The store
    * has one writing process, so no other process can widen a bucket
    * behind the cache.
    */
  private[graft] val bucketSchemaCache =
    scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.types.StructType]()
}

/** S5 analog: dynamic per-row topic routing
  * (`utils/MyKafkaUtil.java:29-38`, used `BaseDBApp.java:93-99`): rows
  * carry their destination in a column; the sink writes each group to its
  * own path/topic. With a real Kafka sink this is just the `topic` column;
  * the file rendering is `partitionBy` — one directory per sink table.
  */
object DynamicTopicSink {
  def write(df: DataFrame, outDir: String, topicCol: String = "sink_table"): Unit =
    df.write.mode(SaveMode.Append).partitionBy(topicCol).parquet(outDir)
}
