package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{DimStore, LocalFs}
import graft.streaming.{CorpusJob, WarehouseJob}
import graft.streaming.CorpusJob.CorpusDoc

/** Every crash point of the stores' staged-commit protocol (`LocalFs`).
  *
  * Each case runs one operation cleanly and counts its K mutating
  * `LocalFs` steps under its own temp dir. Then, for every k = 1..K, it
  * runs the operation again from the same starting state, crashes it
  * before step k (an exception thrown from `LocalFs.beforeStep`), drops
  * the process-wide DimStore schema cache as a JVM restart would, and
  * replays. For every k:
  *  - a `DimStore.read` inside the crash window shows every key once,
  *    with its old or its new row;
  *  - after the replay, the stores and sinks equal the uninterrupted run;
  *  - no staging (`_staging/<id>`, `_tmp_upsert`, `_compact_tmp`) is left
  *    behind.
  */
class CrashPointSpec extends SparkSpecBase {
  import spark.implicits._

  private final class InjectedCrash(k: Int) extends RuntimeException(s"injected crash before step $k")

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  /** Runs `op`, crashing it before its `crashAt`-th `LocalFs` step under
    * `root` (never when 0), and returns the number of steps it reached.
    */
  private def withCrashAt(root: Path, crashAt: Int)(op: => Unit): Int = {
    val steps = new AtomicInteger
    LocalFs.beforeStep = f =>
      if (f.toPath.toAbsolutePath.normalize.startsWith(root) && steps.incrementAndGet() == crashAt)
        throw new InjectedCrash(crashAt)
    try op
    catch { case e: Throwable if causes(e).exists(_.isInstanceOf[InjectedCrash]) => () }
    finally LocalFs.beforeStep = _ => ()
    steps.get
  }

  /** Enumerates the crash points: `prepare` builds a fresh starting state
    * and returns its root, `op` runs the operation on it, `check(k, root)`
    * verifies a crashed-at-k-and-replayed root (`k = 0`: `check` sees the
    * uninterrupted run first, to keep as its reference). Returns K.
    */
  private def everyCrashPoint(prepare: () => Path)(op: Path => Unit)
                             (inWindow: Path => Unit)(check: (Int, Path) => Unit): Int = {
    val clean = prepare()
    val k = withCrashAt(clean, 0)(op(clean))
    assert(k > 0, "the operation took no LocalFs step")
    check(0, clean)
    for (crashAt <- 1 to k) {
      val root = prepare()
      assert(withCrashAt(root, crashAt)(op(root)) == crashAt, s"k=$crashAt: the crash did not stop the operation")
      DimStore.bucketSchemaCache.clear() // the restart
      inWindow(root)
      op(root)
      assert(residue(root).isEmpty, s"k=$crashAt: staging left behind: ${residue(root).mkString(", ")}")
      check(crashAt, root)
    }
    k
  }

  private def residue(root: Path): Seq[Path] = {
    val names = Set("_tmp_upsert", "_compact_tmp")
    val w = Files.walk(root)
    try w.iterator.asScala.filter(p => names(p.getFileName.toString) ||
      Option(p.getParent).exists(_.getFileName.toString == "_staging")).toList
    finally w.close()
  }

  private def copyOf(src: Path, prefix: String): Path = {
    val dst = Files.createTempDirectory(prefix).toAbsolutePath
    val w = Files.walk(src)
    try w.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      ()
    } finally w.close()
    dst
  }

  /** Rows of `df` as sorted strings over name-sorted columns: a multiset
    * comparable across runs whatever the file layout.
    */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted

  private def rowsAt(path: Path): Seq[String] =
    if (Files.exists(path)) rows(spark.read.parquet(path.toString)) else Nil

  /** Names of the parts that differ between two named snapshots. */
  private def differing(a: Seq[(String, Any)], b: Seq[(String, Any)]): Seq[String] =
    a.zip(b).collect { case ((n, x), (_, y)) if x != y => n }

  private def text(path: Path): Option[String] =
    if (Files.exists(path)) Some(new String(Files.readAllBytes(path), "UTF-8")) else None

  /** Every key of `before` once, each key with its `before` or `after`
    * row, keys new in `after` at most once.
    */
  private def assertOldOrNew(window: DataFrame, key: String, before: DataFrame,
                             after: DataFrame, where: String): Unit = {
    def byKey(df: DataFrame) = df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().toSeq.groupBy(_.getAs[Any](key)).view.mapValues(_.map(_.toSeq)).toMap
    val (w, b, a) = (byKey(window), byKey(before), byKey(after))
    assert(b.keySet.subsetOf(w.keySet), s"$where: keys lost: ${b.keySet -- w.keySet}")
    for ((k, rs) <- w) {
      assert(rs.size == 1, s"$where: key $k shown ${rs.size} times")
      assert(b.get(k).contains(rs) || a.get(k).contains(rs), s"$where: key $k shows ${rs.head}, neither old nor new")
    }
  }

  test("DimStore.upsert: every crash point is recovered by the replayed batch") {
    val seed = Files.createTempDirectory("cp_dim_seed").toAbsolutePath
    new DimStore(spark, seed.toString)
      .upsert("t", (0L until 64L).map(k => (k, 1L, s"v$k")).toDF("k", "ts", "v"), "k", "ts")
    val batch = Seq((3L, 2L, "v3b"), (1000L, 2L, "new")).toDF("k", "ts", "v")
    val before = new DimStore(spark, seed.toString).read("t").get.localCheckpoint()
    var after: DataFrame = null
    var cleanBuckets: Seq[String] = Nil
    val k = everyCrashPoint(() => copyOf(seed, "cp_dim")) { root =>
      new DimStore(spark, root.toString).upsert("t", batch, "k", "ts")
    } { root =>
      assertOldOrNew(new DimStore(spark, root.toString).read("t").get, "k", before, after,
        s"crash window of $root")
    } { (k, root) =>
      // with the bucket column: each row in the bucket it belongs to
      val buckets = rowsAt(root.resolve("t"))
      if (k == 0) {
        cleanBuckets = buckets
        after = new DimStore(spark, root.toString).read("t").get.localCheckpoint()
      } else assert(buckets.diff(cleanBuckets).isEmpty && cleanBuckets.diff(buckets).isEmpty,
        s"k=$k: store differs from the uninterrupted upsert: " +
          s"extra ${buckets.diff(cleanBuckets)}, missing ${cleanBuckets.diff(buckets)}")
    }
    info(s"K = $k")
  }

  test("WarehouseJob batch: every crash point is recovered by the query restarted from its checkpoint") {
    val events = Tables.events(spark, sf("sf0.001")).localCheckpoint()
    // one dim table, so one upsert per batch
    val cfg = Files.createTempDirectory("cp_wh_cfg").toString
    Seq(("view", "kafka", "dwd_page_log", null: String, null: String),
      ("click", "kafka", "dwd_click_log", null: String, null: String),
      ("purchase", "hbase", "dim_order", "user_id", "user_id,ts,value"))
      .toDF("source_type", "sink_type", "sink_table", "sink_pk", "sink_columns")
      .write.mode("overwrite").parquet(cfg)
    // batch 0 runs once: its sinks, dims and checkpoint are the starting
    // state; batch 1 (15 events, two purchases by users batch 0 stored)
    // is the operation
    val src = Files.createTempDirectory("cp_wh_src").toString
    val seed = Files.createTempDirectory("cp_wh_seed").toAbsolutePath
    def runBatch(root: Path): Unit = {
      val q = new WarehouseJob(spark, root.resolve("out").toString, Some(cfg))
        .start(src, root.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
    }
    events.filter(col("event_id") < 500).coalesce(1).write.mode("append").parquet(src)
    runBatch(seed)
    events.filter(col("event_id") >= 500 && col("event_id") < 515).coalesce(1)
      .write.mode("append").parquet(src)
    def dims(root: Path) = new DimStore(spark, root.resolve("out/dim").toString)
    val before = dims(seed).read("dim_order").get.localCheckpoint()
    var after: DataFrame = null
    var cleanSinks: Seq[(String, Any)] = Nil
    val k = everyCrashPoint(() => copyOf(seed, "cp_wh")) (runBatch) { root =>
      assertOldOrNew(dims(root).read("dim_order").get, "user_id", before, after, s"crash window of $root")
    } { (k, root) =>
      val out = root.resolve("out")
      val markers = Files.list(out).iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_committed_")).toSeq.sorted
      val sinks = Seq("facts", "stats", "dirty", "dim/dim_order").map(d => d -> rowsAt(out.resolve(d))) :+
        ("markers" -> markers)
      if (k == 0) {
        assert(markers == Seq("_committed_0", "_committed_1"))
        cleanSinks = sinks
        after = dims(root).read("dim_order").get.localCheckpoint()
      } else assert(differing(sinks, cleanSinks).isEmpty,
        s"k=$k: ${differing(sinks, cleanSinks).mkString(", ")} differ from the uninterrupted batch")
    }
    info(s"K = $k")
  }

  test("CorpusJob.processBatch with a compaction: every crash point is recovered by the replayed batch") {
    val docs = {
      val dir = sf("sf0.001")
      Tables.documents(spark, dir).select("doc_id", "text")
        .join(Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .orderBy("doc_id").limit(70).as[(Long, String, Seq[Float])].collect().toSeq
        .map { case (id, t, e) => CorpusDoc(id, t, e) }
    }
    spark.conf.set(CorpusJob.BandBucketsConf, "4")
    spark.conf.set(CorpusJob.CompactEveryConf, "1") // every appending batch compacts
    try {
      val seed = Files.createTempDirectory("cp_corpus_seed").toAbsolutePath
      CorpusJob.processBatch(spark, docs.take(30).toDF(), seed.toString) // bootstrap rebuild
      CorpusJob.processBatch(spark, docs.slice(30, 50).toDF(), seed.toString)
      // a base bucket the next compaction does not list, holding only rows
      // of documents the corpus lacks (what a purge that empties a bucket
      // leaves): the swap must delete it
      val phantoms = CorpusJob.readBands(spark, seed.toString).limit(8)
        .withColumn("doc_id", col("doc_id") + 1000000L).localCheckpoint()
      phantoms.repartition(1).write.parquet(seed.resolve("bands/kb=9").toString)
      // batch 3 appends, then compacts; it carries a near-duplicate of an
      // early document, found only through the base buckets the swap
      // replaces (a replay probes the recovered ones)
      val dup = CorpusDoc(docs.map(_.doc_id).max + 1, docs(3).text + " tok",
        docs(3).embedding.map(_ + 0.001f))
      val batch = (docs.slice(50, 70) :+ dup).toDF()
      var clean: Seq[(String, Any)] = Nil
      var cleanCount: Option[String] = None
      val k = everyCrashPoint(() => copyOf(seed, "cp_corpus")) { root =>
        CorpusJob.processBatch(spark, batch, root.toString)
      } (_ => ()) { (k, root) =>
        val bands = root.resolve("bands")
        val layout = Files.list(bands).iterator.asScala.map(_.getFileName.toString)
          .filterNot(_.startsWith(".")).toSeq.sorted
        val state = Seq("corpus" -> rowsAt(root.resolve("corpus")),
          "bands" -> rows(CorpusJob.readBands(spark, root.toString)), "bands layout" -> layout,
          "seeds" -> rowsAt(root.resolve("seeds")), "_v2" -> text(bands.resolve("_v2")),
          "rebuilds" -> text(root.resolve("rebuilds")), "_bloom" -> Files.readAllBytes(bands.resolve("_bloom")).toSeq)
        val count = text(root.resolve("corpus_rows"))
        if (k == 0) {
          assert(!layout.exists(_.startsWith("append_")) && !layout.contains("kb=9"), "setup: the batch compacts")
          assert(spark.read.parquet(root.resolve("corpus").toString).filter(col("doc_id") === dup.doc_id)
            .isEmpty, "setup: the near-duplicate is dropped")
          clean = state
          cleanCount = count
        } else {
          assert(differing(state, clean).isEmpty,
            s"k=$k: ${differing(state, clean).mkString(", ")} differ from the uninterrupted batch")
          assert(count == cleanCount, s"k=$k: survivor count $count, uninterrupted $cleanCount")
        }
      }
      info(s"K = $k")
    } finally {
      spark.conf.unset(CorpusJob.BandBucketsConf)
      spark.conf.unset(CorpusJob.CompactEveryConf)
    }
  }
}
