package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup
import graft.sources.LocalFs
import graft.streaming.CorpusJob
import graft.streaming.CorpusJob.CorpusDoc

/** The e2e streaming-composition proof (round-9 stretch): stream ingest →
  * incremental MinHash dedup → IVF index refresh → retrieval, run once as
  * a single batch (the oracle) and once chopped into micro-batches
  * through the real `foreachBatch` query — identical survivors, identical
  * index, identical retrieval top-k. Plus a planted bite: injected
  * near-duplicates (same text + one token, across AND within batches)
  * must be dropped.
  */
class CorpusJobSpec extends SparkSpecBase {
  import spark.implicits._

  private def loadDocs(n: Int): Seq[CorpusDoc] = {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id"), col("embedding"))
    docs.join(embs, "doc_id").orderBy("doc_id").limit(n)
      .as[(Long, String, Seq[Float])].collect().toSeq
      .map { case (id, t, e) => CorpusDoc(id, t, e) }
  }

  private def survivors(stateDir: String): Set[Long] =
    spark.read.parquet(s"$stateDir/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
      ()
    }
  }

  private def queriesDf = {
    val dir = "/root/testdata/sf0.001"
    Tables.embeddings(spark, dir).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("q_emb"))
  }

  test("streaming corpus pipeline == one-batch run (dedup + IVF + retrieval)") {
    val base = loadDocs(100)
    val maxId = base.map(_.doc_id).max
    // planted near-dups: one duplicating a doc from an EARLIER chunk
    // (cross-batch, must hit the corpus store) and one duplicating a doc
    // of its OWN chunk (in-batch, must hit the greedy prefix rule)
    val crossDup = CorpusDoc(maxId + 1, base(10).text + " extratok",
      base(10).embedding.map(_ + 0.001f))
    val inBatchDup = CorpusDoc(maxId + 2, base(95).text + " othertok",
      base(95).embedding.map(_ + 0.001f))
    val all = base ++ Seq(crossDup, inBatchDup)

    val oneDir = java.nio.file.Files.createTempDirectory("corpus_one").toString
    CorpusJob.processBatch(spark, all.toDF(), oneDir)
    val oneSurv = survivors(oneDir)
    val oneTop = CorpusJob.retrieve(spark, oneDir, queriesDf)
      .collect().map(_.toSeq).toSet

    val streamDir = java.nio.file.Files.createTempDirectory("corpus_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("corpus_ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[CorpusDoc]
    val q = CorpusJob.start(in.toDF(), streamDir, ckpt)
    try {
      // 4 chunks in id order; the last carries both planted dups
      all.grouped(30).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val streamSurv = survivors(streamDir)
    val streamTop = CorpusJob.retrieve(spark, streamDir, queriesDf)
      .collect().map(_.toSeq).toSet

    assert(streamSurv == oneSurv,
      s"survivor drift: stream-only=${streamSurv -- oneSurv} one-only=${oneSurv -- streamSurv}")
    assert(oneSurv.nonEmpty && oneSurv.size < all.size)
    // planted bites: both injected near-duplicates dropped, originals kept
    assert(!streamSurv.contains(crossDup.doc_id) && !streamSurv.contains(inBatchDup.doc_id))
    assert(streamSurv.contains(base(10).doc_id) && streamSurv.contains(base(95).doc_id))
    // identical live index → identical retrieval
    assert(streamTop == oneTop)
    assert(streamTop.map(_.head).map(_.asInstanceOf[Long]).toSet == Set(0L, 1L, 2L),
      "every query returned rows")
    assert(streamTop.size == 9, s"expected 3 queries x k=3, got ${streamTop.size}")
  }

  test("wide appends (kb-bucketed bands, cell-keyed corpus) == flat appends") {
    // r15 adaptive append layout: force every fast-path append WIDE and
    // assert nothing observable changes — survivors, band-index lockstep,
    // retrieval, and the pruned probe all read the bucketed append subdirs
    val base = loadDocs(100)
    val maxId = base.map(_.doc_id).max
    val crossDup = CorpusDoc(maxId + 1, base(10).text + " extratok",
      base(10).embedding.map(_ + 0.001f))
    val all = base ++ Seq(crossDup)

    val flatDir = java.nio.file.Files.createTempDirectory("corpus_flat").toString
    all.grouped(30).foreach(chunk => CorpusJob.processBatch(spark, chunk.toDF(), flatDir))
    val flatSurv = survivors(flatDir)
    val flatTop = CorpusJob.retrieve(spark, flatDir, queriesDf).collect().map(_.toSeq).toSet

    val wideDir = java.nio.file.Files.createTempDirectory("corpus_wide").toString
    spark.conf.set(CorpusJob.AppendWideRowsConf, "1")
    try {
      all.grouped(30).foreach(chunk => CorpusJob.processBatch(spark, chunk.toDF(), wideDir))
    } finally spark.conf.unset(CorpusJob.AppendWideRowsConf)
    // the wide layout actually materialized: some append dir has kb= subdirs
    val appendDirs = Option(new java.io.File(s"$wideDir/bands").listFiles())
      .getOrElse(Array.empty).filter(d => d.isDirectory && d.getName.startsWith("append_"))
    assert(appendDirs.nonEmpty &&
      appendDirs.exists(d => d.listFiles().exists(x =>
        x.isDirectory && x.getName.startsWith("kb="))),
      "forced-wide run must write bucketed append subdirs")

    assert(survivors(wideDir) == flatSurv)
    assert(!flatSurv.contains(crossDup.doc_id))
    assert(CorpusJob.retrieve(spark, wideDir, queriesDf).collect().map(_.toSeq).toSet == flatTop)
    // band index in lockstep under the wide layout too
    assert(CorpusJob.readBands(spark, wideDir).count() ==
      flatSurv.size.toLong * Dedup.Bands)
  }

  test("ST8 crash-restart: survivor store recovers from checkpoint and equals the uninterrupted run") {
    // Recovery evidence for the composition job: crash (stop) after ≥1
    // committed batch, restart from the SAME checkpoint over a file
    // source, then force a replay of the last batch by deleting its
    // checkpoint commit marker — the recovered store must equal the
    // uninterrupted one-batch run ROW-FOR-ROW (doc_id, sig, emb, nrm,
    // cell), and retrieval over it must match.
    val docs = loadDocs(80)
    def storeRows(dir: String): Set[Seq[Any]] =
      spark.read.parquet(s"$dir/corpus").collect().map(_.toSeq).toSet

    val oneDir = java.nio.file.Files.createTempDirectory("corpus_cr_one").toString
    CorpusJob.processBatch(spark, docs.toDF(), oneDir)

    val inDir = java.nio.file.Files.createTempDirectory("corpus_cr_in").toString
    val stateDir = java.nio.file.Files.createTempDirectory("corpus_cr_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("corpus_cr_ckpt").toString
    val chunks = docs.grouped(20).toSeq
    val schema = docs.toDF().schema
    def start() = CorpusJob.start(
      spark.readStream.schema(schema).parquet(inDir), stateDir, ckpt)

    chunks(0).toDF().write.mode("append").parquet(inDir)
    val qa = start()
    qa.processAllAvailable()
    chunks(1).toDF().write.mode("append").parquet(inDir)
    qa.processAllAvailable()
    qa.stop() // the crash, after ≥1 committed batch
    val commitsDir = new java.io.File(s"$ckpt/commits")
    assert(commitsDir.listFiles().exists(_.getName.forall(_.isDigit)))

    // two more chunks land while the job is down; restart resumes mid-stream
    chunks(2).toDF().write.mode("append").parquet(inDir)
    chunks(3).toDF().write.mode("append").parquet(inDir)
    val qb = start()
    qb.processAllAvailable(); qb.stop()
    assert(storeRows(stateDir) == storeRows(oneDir), "store diverges after recovery")

    // forced replay: delete the newest commit marker — the restart
    // re-executes that batch; every replayed doc must re-drop as a
    // corpus self-duplicate, leaving the store (and sidecar) unchanged
    val lastBatch = commitsDir.listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(s"$ckpt/commits/$lastBatch").delete())
    // the local checksum FS keeps a hidden .N.crc sidecar; left behind it
    // makes the replayed commit's rename fail as a phantom concurrent query
    new java.io.File(s"$ckpt/commits/.$lastBatch.crc").delete()
    val qc = start()
    qc.processAllAvailable(); qc.stop()
    assert(storeRows(stateDir) == storeRows(oneDir), "store diverges after forced replay")

    val oneTop = CorpusJob.retrieve(spark, oneDir, queriesDf).collect().map(_.toSeq).toSet
    val recTop = CorpusJob.retrieve(spark, stateDir, queriesDf).collect().map(_.toSeq).toSet
    assert(recTop == oneTop && recTop.nonEmpty, "retrieval diverges after recovery")
  }

  test("retrieve over a missing store returns zero rows with the contract schema") {
    val emptyDir = java.nio.file.Files.createTempDirectory("corpus_cr_empty").toString
    val res = CorpusJob.retrieve(spark, emptyDir, queriesDf)
      .select("query_id", "neighbor_id", "cos", "rnk") // must not throw
    assert(res.count() == 0)
  }

  test("replayed micro-batch leaves the corpus unchanged (idempotent ingest)") {
    val docs = loadDocs(40)
    val dir = java.nio.file.Files.createTempDirectory("corpus_idem").toString
    CorpusJob.processBatch(spark, docs.toDF(), dir)
    val first = survivors(dir)
    CorpusJob.processBatch(spark, docs.toDF(), dir) // at-least-once replay
    assert(survivors(dir) == first,
      "replaying the same batch must re-drop every document as a corpus duplicate")
  }

  test("bands crash-window replay keeps the persisted index in lockstep (no duplicate rows)") {
    // The one ordering window of the fast path: band rows land BEFORE the
    // survivor append, so a crash between the two leaves phantom band rows
    // for docs the corpus never received. The replay re-keeps the same
    // docs (the phantoms drop out of the candidate join at the corpus-sig
    // inner join) and must OVERWRITE its own deterministic `append_<id>`
    // subdir — the round-12 root-append rendering appended a second copy,
    // and with full rebuilds gated to the seed bootstrap nothing ever
    // purged it, permanently failing the survivors × Bands lockstep gate.
    val docs = loadDocs(60)
    val dir = java.nio.file.Files.createTempDirectory("corpus_bandwin").toString
    CorpusJob.processBatch(spark, docs.take(30).toDF(), dir)
    // snapshot the survivor store + sidecar as of batch 1
    val corpusP = java.nio.file.Paths.get(s"$dir/corpus")
    val backup = java.nio.file.Files.createTempDirectory("corpus_bandwin_bak")
    copyTree(corpusP, backup)
    val sidecarP = java.nio.file.Paths.get(s"$dir/corpus_rows")
    val sidecarV = java.nio.file.Files.readAllBytes(sidecarP)

    CorpusJob.processBatch(spark, docs.drop(30).toDF(), dir)
    val survAfter = survivors(dir)
    // manufacture the window: batch 2's bands landed, its corpus append
    // (and sidecar bump) lost
    LocalFs.rmTree(corpusP.toFile)
    copyTree(backup, corpusP)
    java.nio.file.Files.write(sidecarP, sidecarV)
    assert(survivors(dir).size < survAfter.size, "window setup: corpus rolled back")

    CorpusJob.processBatch(spark, docs.drop(30).toDF(), dir) // the replay
    assert(survivors(dir) == survAfter, "replay must converge to the same survivor set")
    val bandRows = CorpusJob.readBands(spark, dir).count()
    assert(bandRows == survAfter.size.toLong * Dedup.Bands,
      s"band index must stay in lockstep after a crash-window replay: " +
        s"$bandRows rows for ${survAfter.size} survivors")
    // and the index content itself is duplicate-free per (doc_id, band)
    assert(CorpusJob.readBands(spark, dir)
      .groupBy("doc_id", "band").count().filter(col("count") > 1).count() == 0)
  }

  test("crashed bootstrap rebuild: the replay leaves the count short, so the next batch rebuilds the seeds") {
    // a second bootstrap rebuild crashes after its corpus overwrite: the
    // seeds, count and rebuilds sidecars still hold the pre-batch values.
    // The replay finds its own docs and keeps none; were it to recount,
    // the next batch would take the fast path with the old, short seeds
    val docs = loadDocs(24)
    val (b1, b2, b3) = (docs.take(2), docs.slice(2, 5), docs.drop(5))
    def cells(d: String) = spark.read.parquet(s"$d/corpus")
      .select("doc_id", "cell").collect().map(_.toSeq).toSet
    def seedIds(d: String) = spark.read.parquet(s"$d/seeds")
      .select("cell_seed").collect().map(_.getLong(0)).sorted.toSeq
    def top(d: String) = CorpusJob.retrieve(spark, d, queriesDf).collect().map(_.toSeq).toSet

    val clean = java.nio.file.Files.createTempDirectory("corpus_boot_clean").toString
    Seq(b1, b2, b3).foreach(b => CorpusJob.processBatch(spark, b.toDF(), clean))

    val dir = java.nio.file.Files.createTempDirectory("corpus_boot_crash").toString
    CorpusJob.processBatch(spark, b1.toDF(), dir)
    val seedsP = java.nio.file.Paths.get(s"$dir/seeds")
    val seedsBak = java.nio.file.Files.createTempDirectory("corpus_boot_seeds")
    copyTree(seedsP, seedsBak)
    val sidecars = Seq("corpus_rows", "rebuilds").map(n => java.nio.file.Paths.get(s"$dir/$n"))
    val sidecarBytes = sidecars.map(java.nio.file.Files.readAllBytes)
    CorpusJob.processBatch(spark, b2.toDF(), dir)
    assert(survivors(dir).size >= 4, "setup: batch 2 completes the seed set")
    LocalFs.rmTree(seedsP.toFile)
    copyTree(seedsBak, seedsP)
    sidecars.zip(sidecarBytes).foreach { case (p, b) => java.nio.file.Files.write(p, b) }
    assert(seedIds(dir).size < 4, "setup: seeds rolled back to the short set")

    CorpusJob.processBatch(spark, b2.toDF(), dir) // the replay
    CorpusJob.processBatch(spark, b3.toDF(), dir)
    assert(seedIds(dir) == seedIds(clean))
    assert(cells(dir) == cells(clean))
    assert(top(dir) == top(clean))
    assert(CorpusJob.rebuildCount(dir) == CorpusJob.rebuildCount(clean))
  }

  test("seeds sidecar: frozen centroids served without a corpus scan; lost sidecar backfilled") {
    val docs = loadDocs(60)
    val dir = java.nio.file.Files.createTempDirectory("corpus_seeds").toString
    val seeds = java.nio.file.Paths.get(s"$dir/seeds")
    CorpusJob.processBatch(spark, docs.take(30).toDF(), dir)
    assert(java.nio.file.Files.exists(seeds), "bootstrap rebuild must write the seeds sidecar")
    val seedRows = spark.read.parquet(seeds.toString)
      .orderBy("cell_seed").collect().map(_.toSeq)
    assert(seedRows.length == 4)
    // frozen contract: the sidecar IS the first-4-survivors derivation
    val derived = spark.read.parquet(s"$dir/corpus").orderBy(col("doc_id")).limit(4)
      .select(col("doc_id"), col("emb"), col("nrm")).collect().map(_.toSeq)
    assert(seedRows.map(_.head) sameElements derived.map(_.head))
    // a lost sidecar (legacy store) is re-derived and backfilled by the
    // next fast-path batch, and the assignment is unchanged
    def cells(d: String) = spark.read.parquet(s"$d/corpus")
      .select("doc_id", "cell").collect().map(_.toSeq).toSet
    LocalFs.rmTree(seeds.toFile)
    CorpusJob.processBatch(spark, docs.drop(30).toDF(), dir)
    assert(java.nio.file.Files.exists(seeds), "fast path must backfill a missing sidecar")
    // oracle: the one-shot run over the same 60 docs assigns identically
    val oneDir = java.nio.file.Files.createTempDirectory("corpus_seeds_one").toString
    CorpusJob.processBatch(spark, docs.toDF(), oneDir)
    assert(cells(dir) == cells(oneDir), "sidecar-served seeds must not change the assignment")
  }

  test("compaction folds L0 appends into the bucketed base and changes nothing observable") {
    // LSM contract: after compactEvery appends the L0 files are folded
    // into the kb=-bucketed base in one job. Survivor set, band-index
    // lockstep, dedup behavior (a post-compaction near-dup must still be
    // dropped) and retrieval are all invariant; only the layout changes.
    val docs = loadDocs(100)
    val dir = java.nio.file.Files.createTempDirectory("corpus_compact").toString
    spark.conf.set(CorpusJob.CompactEveryConf, "3")
    try {
      docs.grouped(20).foreach(c => CorpusJob.processBatch(spark, c.toDF(), dir))
      val bands = new java.io.File(s"$dir/bands")
      val appends = bands.listFiles().count(_.getName.startsWith("append_"))
      val baseBuckets = bands.listFiles().count(_.getName.startsWith("kb="))
      assert(appends < 3, s"compaction must bound L0, found $appends appends")
      assert(baseBuckets > 0, "compaction must produce kb= base buckets")
      // lockstep + duplicate-free through the compactions
      val surv = survivors(dir)
      assert(CorpusJob.readBands(spark, dir).count() ==
        surv.size.toLong * Dedup.Bands)
      // oracle equality: same survivors as the one-shot run
      val oneDir = java.nio.file.Files.createTempDirectory("corpus_compact_one").toString
      CorpusJob.processBatch(spark, docs.toDF(), oneDir)
      assert(surv == survivors(oneDir))
      // the compacted index still serves dedup: a near-dup of an EARLY doc
      // (whose band rows live in the base, not L0) must be dropped
      val dup = CorpusDoc(docs.map(_.doc_id).max + 1, docs(3).text + " tok",
        docs(3).embedding.map(_ + 0.001f))
      CorpusJob.processBatch(spark, Seq(dup).toDF(), dir)
      assert(!survivors(dir).contains(dup.doc_id),
        "post-compaction corpus duplicate must still be detected")
    } finally spark.conf.unset(CorpusJob.CompactEveryConf)
  }

  test("compaction purges phantom append rows (crashed attempt replayed under different batching)") {
    // The one debris the deterministic append_<id> overwrite cannot
    // collapse: a crashed batch's band rows whose corpus append never
    // landed, replayed under a DIFFERENT batch boundary. The phantoms must
    // never dedup a live arrival (verification is corpus-confirmed), and
    // compaction must garbage-collect them so the index returns to
    // survivors × Bands lockstep.
    val docs = loadDocs(40)
    val dir = java.nio.file.Files.createTempDirectory("corpus_phantom").toString
    CorpusJob.processBatch(spark, docs.take(20).toDF(), dir)
    // manufacture a phantom append: band rows for ids the corpus never saw
    val ghostIds = Set(900001L, 900002L)
    // ghost text shares NO shingle with any real doc (every token salted),
    // so its live twin can only be deduped by the PHANTOM — the bug probe
    val ghosts = docs.take(2).zip(ghostIds.toSeq.sorted).map { case (d, id) =>
      CorpusDoc(id, d.text.split(' ').map(w => s"${w}gh$id").mkString(" "), d.embedding)
    }
    // the phantom subdir, exactly as a crashed fast path would leave it:
    // the same signature chain and band rows `processBatch` writes
    Dedup.bandRows(ghosts.toDF()
        .select(col("doc_id"), Dedup.minhashSignature(col("text")).as("sig")))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/bands/append_900001")
    val lockstepBroken = CorpusJob.readBands(spark, dir).count()
    assert(lockstepBroken > survivors(dir).size.toLong * Dedup.Bands,
      "setup: phantom rows present")
    // a live arrival near-duplicating a GHOST (not a survivor) must be
    // KEPT — phantoms are not survivors and cannot dedup anything
    val liveTwin = CorpusDoc(900100L, ghosts.head.text + " extra",
      ghosts.head.embedding.map(_ + 0.001f))
    spark.conf.set(CorpusJob.CompactEveryConf, "1") // next batch compacts
    try CorpusJob.processBatch(spark, (docs.drop(20) :+ liveTwin).toDF(), dir)
    finally spark.conf.unset(CorpusJob.CompactEveryConf)
    assert(survivors(dir).contains(liveTwin.doc_id),
      "phantom band rows must never dedup a live arrival")
    assert(CorpusJob.readBands(spark, dir).count() ==
      survivors(dir).size.toLong * Dedup.Bands,
      "compaction must purge phantom rows back to lockstep")
  }

  test("lost bloom sidecar is backfilled and duplicates are still detected") {
    val docs = loadDocs(40)
    val dir = java.nio.file.Files.createTempDirectory("corpus_bloomloss").toString
    CorpusJob.processBatch(spark, docs.take(20).toDF(), dir)
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/bands/_bloom")))
    // and the _v2 marker: the band index is rebuilt from the corpus too
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/bands/_v2")))
    val dup = CorpusDoc(docs.map(_.doc_id).max + 1, docs(2).text + " tok",
      docs(2).embedding.map(_ + 0.001f))
    CorpusJob.processBatch(spark, (docs.drop(20) :+ dup).toDF(), dir)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/bands/_bloom")),
      "fast path must backfill a missing bloom sidecar")
    assert(!survivors(dir).contains(dup.doc_id),
      "a corpus duplicate must be dropped right through the backfill")
    // bloom soundness across batches: replay drops everything (no false
    // negatives — every indexed key is visible to the rebuilt sidecar)
    val before = survivors(dir)
    CorpusJob.processBatch(spark, docs.toDF(), dir)
    assert(survivors(dir) == before)
  }

  test("survivor-count sidecar: kept in lockstep; a legacy store without one is backfilled") {
    val docs = loadDocs(60)
    val dir = java.nio.file.Files.createTempDirectory("corpus_sidecar").toString
    val sidecar = java.nio.file.Paths.get(s"$dir/corpus_rows")
    def sidecarCount: Long =
      new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8").trim.toLong

    CorpusJob.processBatch(spark, docs.take(30).toDF(), dir)
    assert(java.nio.file.Files.exists(sidecar), "first batch must write the sidecar")
    assert(sidecarCount == survivors(dir).size.toLong)

    // legacy / lost-sidecar store: the next batch must count once,
    // backfill, and land on the correct total afterwards
    java.nio.file.Files.delete(sidecar)
    CorpusJob.processBatch(spark, docs.drop(30).toDF(), dir)
    assert(sidecarCount == survivors(dir).size.toLong,
      "sidecar must be backfilled from the store and updated by the append")
  }

  test("store-backed survivors == the greedy prefix rule over the batch minhashLsh pairs") {
    // ties the band-index/bloom path to the batch definition: three
    // micro-batches through processBatch keep exactly the docs the batch
    // LSH pair set keeps when a doc survives iff no pair links it to an
    // earlier survivor
    val loaded = loadDocs(150)
    // a chain a ~ b ~ c with a !~ c across the three batches: greedy keeps
    // a and c and drops b, where "drop the greater id of every pair" would
    // drop c too; plus a cross-batch and an in-batch near-copy
    val toks = (p: String, r: Range) => r.map(i => s"$p$i")
    val chain = Seq(toks("x", 1 to 100), toks("x", 1 to 80) ++ toks("y", 1 to 20),
      toks("z", 1 to 20) ++ toks("x", 21 to 80) ++ toks("y", 1 to 20)).map(_.mkString(" "))
    val all = loaded.zipWithIndex.map {
      case (d, 20) => d.copy(text = chain(0))
      case (d, 70) => d.copy(text = chain(1))
      case (d, 130) => d.copy(text = chain(2))
      case (d, 140) => d.copy(text = loaded(10).text + " extratok")
      case (d, 145) => d.copy(text = loaded(120).text + " othertok")
      case (d, _) => d
    }
    val ids = Seq(20, 70, 130, 140, 145).map(all(_).doc_id)

    val docsDir = java.nio.file.Files.createTempDirectory("corpus_lsh_docs").toString
    all.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    val pairs = Dedup.minhashLsh(spark, docsDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs((ids(0), ids(1))) && pairs((ids(1), ids(2))) && !pairs((ids(0), ids(2))),
      "setup: the planted chain must be a ~ b ~ c with a !~ c")
    val greedy = all.map(_.doc_id).sorted.foldLeft(Vector.empty[Long]) { (kept, id) =>
      if (kept.exists(k => pairs((k, id)))) kept else kept :+ id
    }.toSet

    val dir = java.nio.file.Files.createTempDirectory("corpus_lsh_store").toString
    all.grouped(50).foreach(chunk => CorpusJob.processBatch(spark, chunk.toDF(), dir))
    val surv = survivors(dir)
    assert(surv == greedy,
      s"store-only=${surv -- greedy} greedy-only=${greedy -- surv}")
    assert(surv(ids(0)) && !surv(ids(1)) && surv(ids(2)) && !surv(ids(3)) && !surv(ids(4)))
  }

  test("the stored band-key format is pinned: bandKeys, band index rows and bloom keys") {
    // band_key is an on-disk format: if the encoding moves, existing band
    // indexes stop finding the duplicates they hold, without an error
    val keys = Seq(Tuple1((0L until 64L).toArray)).toDF("sig")
      .select(Dedup.bandKeys(col("sig"))).as[Seq[String]].head()
    assert(keys == (0 until 16).map(b => (4 * b until 4 * b + 4).mkString("_")))
    assert(keys.take(2) == Seq("0_1_2_3", "4_5_6_7") && keys.last == "60_61_62_63")

    // a bootstrap batch (bloom built by a Spark aggregate) and a fast-path
    // batch (bloom merged driver-side): the index holds `bandRows` of the
    // stored signatures, and the bloom holds `band|band_key` for each row
    val docs = loadDocs(60)
    val dir = java.nio.file.Files.createTempDirectory("corpus_keyfmt").toString
    docs.grouped(30).foreach(chunk => CorpusJob.processBatch(spark, chunk.toDF(), dir))
    val stored = CorpusJob.readBands(spark, dir).as[(Long, Int, String)].collect()
    val want = Dedup.bandRows(spark.read.parquet(s"$dir/corpus"))
      .as[(Long, Int, String)].collect()
    assert(stored.length == 16 * survivors(dir).size && stored.toSet == want.toSet)
    val in = new java.io.DataInputStream(new java.io.FileInputStream(s"$dir/bands/_bloom"))
    val bloom =
      try { in.readLong(); in.readLong(); org.apache.spark.util.sketch.BloomFilter.readFrom(in) }
      finally in.close()
    assert(stored.forall { case (_, b, k) => bloom.mightContainString(s"$b|$k") })
    // and the check has teeth: the bloom is far from saturated
    assert(stored.count { case (_, b, k) => bloom.mightContainString(s"$k|$b") } < stored.length / 100)
  }
}
