package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * (`graft_bucket=<i>` subdirectories, [[DimStore.Buckets]] of them): an
  * upsert rewrites ONLY the buckets its batch keys hash
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

  private def bucketOf(df: DataFrame, keyCol: String) =
    pmod(xxhash64(canonicalKey(df, keyCol)), lit(DimStore.Buckets.toLong)).cast("int")

  /** Last-write-wins collapse of the upsert merge: highest `versionCol`
    * per `keyCol` wins, version ties broken deterministically by a
    * whole-row hash.
    */
  private def dedupLatest(df: DataFrame, keyCol: String, versionCol: String): DataFrame = {
    val rowHash = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc, rowHash.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  private def staging(table: String) = new java.io.File(s"${path(table)}/_tmp_upsert")

  /** The table's column superset (`DimStore.bucketSchemaCache`), seeded on
    * first use by one mergeSchema pass over `dirs`, which must hold every
    * column of the store between them.
    */
  private def schemaOf(table: String, dirs: Seq[java.io.File]): StructType =
    DimStore.bucketSchemaCache.getOrElseUpdate(cacheKey(table),
      spark.read.option("mergeSchema", "true").parquet(dirs.map(_.getPath): _*).schema)

  /** The upsert's commit, run both as its own swap step and, at the start
    * of every upsert, to settle a crashed attempt (`LocalFs.recover`): a
    * sealed staging holds the merged state (old bucket ∪ batch, deduped)
    * of exactly the buckets the batch touched, so each staged bucket
    * replaces its live one; an unsealed one is dropped.
    */
  private def recoverStaged(table: String): Unit = {
    val tmp = staging(table)
    LocalFs.recover(tmp, LocalFs.isSealed(tmp)) {
      LocalFs.swapIn(tmp, new java.io.File(path(table)), "graft_bucket=")
    }
  }

  /** Upsert a batch of rows keyed by `keyCol`, versioned by `versionCol`
    * (highest version wins; version ties broken deterministically by a
    * whole-row hash so repeated runs of the same input converge).
    *
    * Only the key-hash buckets present in the batch are merged and
    * rewritten — in ONE Spark job: the batch plus the touched buckets'
    * current rows are unioned, collapsed last-write-wins, and written to a
    * staging dir `partitionBy(graft_bucket)`, sealed, and swapped into
    * place by the staged-commit protocol in `LocalFs`. (The
    * previous rendering looped the buckets sequentially — two jobs per
    * bucket, ~35 jobs for a batch touching all 16 — and was the dominant
    * term of the streaming warehouse's per-batch fixed cost.) Crash
    * recovery: a retry FIRST settles a crashed prior attempt
    * (`recoverStaged`), then re-merges; the versioned dedup converges, and
    * `read()` reads a sealed staging in place of the buckets it
    * supersedes, so the store is never unreadable or lossy in the window.
    */
  def upsert(table: String, batch: DataFrame, keyCol: String, versionCol: String): Unit = {
    recoverStaged(table)
    val tableDir = new java.io.File(path(table))
    val batchB = batch.withColumn("__b", bucketOf(batch, keyCol))
    // touched buckets: driver-side collect bounded by the bucket count
    val touched: Seq[Int] = phase("touched_collect") {
      batchB.select(col("__b")).distinct().collect().map(_.getInt(0)).toSeq.sorted
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
    // to the staged write's union schema below. A batch that touches only
    // new buckets still merges an EMPTY frame of the cached schema, so
    // that union always contains the previous entry: the cache is a
    // superset of every on-disk bucket, and parquet nulls the gaps of
    // files missing a cached column exactly like mergeSchema did. Buckets
    // can still legitimately differ in schema (an upsert batch with new
    // columns rewrites only ITS buckets), but never in a column's type: a
    // batch that widens one (a Long key arriving as Double) rewrites EVERY
    // bucket, since parquet cannot read an INT64 column as double and a
    // store with mixed types could be read by no single schema.
    //
    // The merge runs WITHOUT the bucket column so the dedup tie-break hash
    // sees exactly the upserted schema (the bucket is re-derived afterwards
    // — it is a pure function of the key, so rows land where they came from).
    val merged: DataFrame = phase("bucket_open") {
      val live = LocalFs.listDirs(tableDir, "graft_bucket=")
      if (live.isEmpty) batch
      else {
        val sch = schemaOf(table, live)
        def mergeWith(paths: Seq[String]) = batch.unionByName(
          if (paths.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), sch)
          else spark.read.schema(sch).parquet(paths: _*),
          allowMissingColumns = true)
        val touchedOnly = mergeWith(touched.map(i => new java.io.File(tableDir, s"graft_bucket=$i"))
          .filter(_.exists).map(_.getPath))
        if (sch.forall(f => touchedOnly.schema(f.name).dataType == f.dataType)) touchedOnly
        else mergeWith(live.map(_.getPath))
      }
    }
    val deduped = dedupLatest(merged, keyCol, versionCol)
    val staged = deduped.withColumn("graft_bucket", bucketOf(deduped, keyCol))
    val tmp = staging(table)
    phase("staged_write") {
      // repartition ON the partition column first: the dedup window leaves
      // the frame hash-partitioned by key, and `partitionBy` from that
      // layout writes up to one file per shuffle partition PER BUCKET —
      // each an output-task file commit. One partition per bucket writes
      // exactly one file per bucket: the bucket is this store's unit of
      // rewrite (a bigger store needs a bigger `Buckets`, not more files
      // per bucket). This shape is the measured floor: a
      // round-14 A/B over a 20-batch, two-table replay of the warehouse's
      // dim traffic (OPTIMIZATION_r14.md) recorded 0.47 s/upsert median
      // isolated, with the v2 file-output committer at 0.50 and a
      // single-task dynamic write at 0.56 — the ~0.47 s floor is Spark job
      // fixed cost, not task commits, so neither variant is kept.
      staged.repartition(DimStore.Buckets, col("graft_bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("graft_bucket").parquet(tmp.getPath)
      LocalFs.seal(tmp) // only once the job returned
    }
    // refresh the schema cache to the staged union (⊇ old cache ⊇ every
    // untouched bucket; the touched buckets ARE this schema)
    DimStore.bucketSchemaCache.put(cacheKey(table), merged.schema)
    phase("swap") {
      // the staged buckets are exactly the ones read or touched: each
      // stages ≥1 row, and every merged row re-hashes to the bucket it came
      // from (the bucket count is fixed)
      recoverStaged(table)
    }
  }

  /** Whole-store read, one path: the live bucket dirs, except any that a
    * SEALED staging supersedes (the swap window: the staged bucket holds
    * the merged old ∪ batch rows, and its live copy may already be
    * deleted), plus those staged buckets — read in place, without
    * mutating the store; the repair belongs to the next `upsert`'s
    * `recoverStaged`. Every key lives in exactly one bucket, so no key
    * shows twice. The dirs are read by explicit path (no partition
    * discovery, so no synthetic `graft_bucket` column) with the store's
    * column superset: a plain read takes its schema from one file and
    * drops a column that bucket lacks.
    */
  def read(table: String): Option[DataFrame] = {
    val tmp = staging(table)
    val staged = if (LocalFs.isSealed(tmp)) LocalFs.listDirs(tmp, "graft_bucket=") else Nil
    val replaced = staged.map(_.getName).toSet
    val dirs = LocalFs.listDirs(new java.io.File(path(table)), "graft_bucket=")
      .filterNot(d => replaced(d.getName)) ++ staged
    if (dirs.isEmpty) None
    else Some(spark.read.schema(schemaOf(table, dirs)).parquet(dirs.map(_.getPath): _*))
  }

  /** Point lookup — test/debug convenience mirroring `DimUtil.getDimInfo`;
    * production joins the whole store via broadcast instead.
    */
  def lookup(table: String, keyCol: String, key: Any): Array[org.apache.spark.sql.Row] =
    read(table).map(_.filter(col(keyCol) === lit(key)).collect()).getOrElse(Array.empty)
}

object DimStore {

  /** Buckets per table. Fixed: nothing records the count in a store, and
    * a store re-hashed under another count would lose the rows of every
    * bucket an upsert does not touch.
    */
  val Buckets = 16

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
    scala.collection.concurrent.TrieMap[String, StructType]()
}
