package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the driver's local[32] test rig but with settings that hold on a
  * real cluster: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), UTC session time zone (the reference hard-codes UTC+8 at
  * `utils/DateTimeUtil.java:20` — that is environment, not semantics), and a
  * shuffle-partition count sized to the local core count rather than the 200
  * default. On a 1000-executor cluster the same builder is used with
  * `spark.sql.shuffle.partitions` raised to O(2–3× total cores) by config.
  *
  * `file:` is re-registered to `graft.sources.LocalFs`'s filesystem, for
  * both Hadoop APIs: `FileSystem` (parquet sinks, file-stream sources, state
  * stores) and `FileContext` (Spark's default checkpoint file manager, which
  * writes every offset/commit log entry and state delta through a temp file
  * and a rename). Without libhadoop, Hadoop's stock local filesystem starts
  * a `chmod` process for every file and directory it creates and a
  * `readlink` process for every checkpoint rename — thousands per minute of
  * micro-batches. The graft class does both in-process. Symlink handling,
  * the `.crc` sidecars, umask and the checkpoint manager are unchanged, so
  * file contents, modes and commit atomicity are too.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, else the 32-core rig's. The
    * default master and the default shuffle-partition count both follow it.
    */
  private def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String = s"local[$cores]",
              shufflePartitions: Int = cores.toInt): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions())
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // static conf, default 100: the Janino generated-class cache. The
      // bench/verify registry compiles ~190 distinct plans, so at the
      // default every rep of every query re-compiles its WholeStageCodegen
      // classes after eviction (measured: q1 min-of-3 0.88 s inside the full
      // registry vs 0.59 s isolated in a fresh JVM — the gap is cache
      // thrash, not execution). A long-lived production session serving many
      // distinct queries wants the same headroom; 2000 entries of generated
      // classes is a few hundred MB of metaspace at worst.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.GraftLocalFs].getName)

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
