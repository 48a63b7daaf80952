package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Multimodal, Similarity}

class MultimodalSimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("multimodal decode: contract schema, per-partition shape, deterministic features") {
    val media = Seq(
      Multimodal.MediaRow(1L, "abc".getBytes("UTF-8"), "image"),
      Multimodal.MediaRow(2L, Array.empty[Byte], "audio"),
      Multimodal.MediaRow(3L, "abc".getBytes("UTF-8"), "image"))
      .toDS().repartition(2)
    val out = Multimodal.decodeFeatures(media)
    // output contract
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      ("id", "bigint"), ("media_type", "string"), ("n_bytes", "bigint"),
      ("features", "array<float>")))
    val rows = out.collect().map(r => r.id -> r).toMap
    // batch shape: every row survives, feature dim fixed
    assert(rows.size == 3)
    assert(rows.values.forall(_.features.length == Multimodal.FeatureDim))
    // determinism: identical payloads → identical features, across partitions
    assert(rows(1L).features.toSeq == rows(3L).features.toSeq)
    // empty payload: defined, all-zero features (decoder must not throw)
    assert(rows(2L).features.forall(_ == 0.0f) && rows(2L).n_bytes == 0L)
  }

  test("frame sampling: uniform geometry, window features, agrees with the oracle projection") {
    val payload = (0 until 100).map(i => ('a' + i % 26).toChar).mkString // 12 frames
    val media = Seq(
      Multimodal.MediaRow(1L, payload.getBytes("UTF-8"), "video"),
      Multimodal.MediaRow(2L, "tiny".getBytes("UTF-8"), "video"),  // < 1 frame
      Multimodal.MediaRow(3L, payload.take(17).getBytes("UTF-8"), "video")) // 2 frames
      .toDS().repartition(2)
    val out = Multimodal.sampleFrames(media).collect().groupBy(_.id)
    // long clip: exactly k=4 frames at j·(n−1)/(k−1) = 0,3,7,11 of 12
    assert(out(1L).map(_.frame_idx).sorted.toSeq == Seq(0L, 3L, 7L, 11L))
    assert(out(1L).forall(f => f.n_frames == 12 && f.t_offset_ms == f.frame_idx * 40))
    // short clips: every frame, no padding
    assert(out(2L).map(_.frame_idx).toSeq == Seq(0L))
    assert(out(3L).map(_.frame_idx).sorted.toSeq == Seq(0L, 1L))
    // features = the decoder applied to exactly the frame's byte window
    // (witnessed through the public decodeFeatures contract)
    val windows = out(1L).map { f =>
      val from = (f.frame_idx * Multimodal.FrameBytes).toInt
      Multimodal.MediaRow(f.frame_idx,
        payload.getBytes("UTF-8").slice(from, from + Multimodal.FrameBytes), "video")
    }.toSeq
    val wantFeat = Multimodal.decodeFeatures(windows.toDS()).collect()
      .map(r => r.id -> r.features.toSeq).toMap
    out(1L).foreach { f =>
      assert(f.features.toSeq == wantFeat(f.frame_idx), s"frame ${f.frame_idx}")
    }
    // the oracle projection walks the same geometry on the documents table
    val d = sf("documents")
    val proj = Multimodal.documentFrames(spark, d).collect()
      .groupBy(_.getLong(0))
    val nChars = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).length).toMap
    proj.foreach { case (id, rows) =>
      val n = math.max(1L, nChars(id).toLong / Multimodal.FrameBytes)
      val want =
        if (n <= 4) (0L until n).toSet
        else (0 until 4).map(j => j.toLong * (n - 1) / 3).toSet
      assert(rows.map(_.getLong(3)).toSet == want, s"doc $id geometry")
    }
  }

  test("IVF ANN: recall against brute force is substantial at nProbe=2/8") {
    val d = "/root/testdata/sf0.001"
    val brute = Similarity.bruteForceTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // probing 2 of 8 seeded cells: expect well above the 25% random floor
    assert(recall >= 0.3, s"recall too low: $recall")
  }

  test("PQ-ADC ANN: codes bounded by the codebook, recall well above random") {
    val d = "/root/testdata/sf0.001"
    val brute = Similarity.bruteForceTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(spark, d)
      .select("query_id", "neighbor_id", "rnk", "acos")
      .as[(Long, Long, Long, Double)].collect()
    // exactly k results per query, rank contiguous, approx cosine bounded
    assert(pq.length == brute.size)
    assert(pq.groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)))
    assert(pq.forall(r => r._4 >= -1.01 && r._4 <= 1.01))
    // 16 codes from a 16-centroid/subspace codebook approximate a 64-dim
    // cosine: recall must sit far above the k/N≈1% random floor (0.42
    // measured); PQ is the memory-side path, pruning comes from IVF
    val pqSet = pq.map(r => (r._1, r._2)).toSet
    val recall = (brute intersect pqSet).size.toDouble / brute.size
    assert(recall >= 0.25, s"PQ recall too low: $recall")
  }

  test("IVF-PQ ANN: candidates confined to probed cells, recall above random") {
    val d = "/root/testdata/sf0.001"
    val brute = Similarity.bruteForceTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqTopK(spark, d)
      .select("query_id", "neighbor_id", "rnk", "acos")
      .as[(Long, Long, Long, Double)].collect()
    // IVF pruning can only DROP candidates relative to full-corpus PQ; a
    // surviving (query, neighbor) pair must score identically, so any
    // ivfpq hit absent from pq's top-5 implies pq ranked >= 5 better
    // candidates — but the ivfpq result set itself must be a ranking of
    // PQ-scored pairs: ranks contiguous from 1, cosine bounded
    val byQ = ivfpq.groupBy(_._1)
    assert(byQ.values.forall { rs =>
      val rks = rs.map(_._3).sorted.toSeq; rks == (1L to rks.length)
    })
    assert(ivfpq.forall(r => r._4 >= -1.01 && r._4 <= 1.01))
    // composed recall: IVF (nProbe=2/8) on top of PQ approximation still
    // far above the ~1% random floor (0.36 measured at sf0.001)
    val s = ivfpq.map(r => (r._1, r._2)).toSet
    val recall = (brute intersect s).size.toDouble / brute.size
    assert(recall >= 0.2, s"IVF-PQ recall too low: $recall")
    // pruning sanity: the composition agrees with full-corpus PQ on most
    // of what it returns (differences only where probing dropped a hit)
    val agree = (pq intersect s).size.toDouble / s.size
    assert(agree >= 0.5, s"IVF-PQ diverges from PQ beyond pruning: $agree")
  }

  test("embedding outliers: bottom decile per cluster, least-central first") {
    val d = "/root/testdata/sf0.001"
    val km = Similarity.kmeansAssign(spark, d)
      .as[(Long, Long, Double)].collect()
    val out = Similarity.embeddingOutliers(spark, d)
      .select("vec_id", "cluster", "cos", "rnk").as[(Long, Long, Double, Long)].collect()
    assert(out.nonEmpty)
    // cardinality: per cluster exactly floor-by-construction 10% of members
    val sizes = km.groupBy(_._2).map { case (c, g) => c -> g.length }
    out.groupBy(_._2).foreach { case (c, g) =>
      assert(g.length == sizes(c) / 10, s"cluster $c kept ${g.length} of ${sizes(c)}")
    }
    // every outlier's cos is <= every non-outlier's cos in its cluster
    val outSet = out.map(_._1).toSet
    out.groupBy(_._2).foreach { case (c, g) =>
      val maxOut = g.map(_._3).max
      val minIn = km.filter(r => r._2 == c && !outSet(r._1)).map(_._3).min
      assert(maxOut <= minIn, s"cluster $c outlier cos $maxOut above kept min $minIn")
    }
  }

  test("int8 quantization: codes bounded, reconstruction within half a step") {
    val d = sf("embeddings")
    val got = Similarity.quantizeInt8(spark, d)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val raw = Tables.embeddings(spark, d).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    val byVec = got.groupBy(_._1)
    assert(byVec.keySet == raw.keySet.filter(id => raw(id).exists(_ != 0.0f)))
    byVec.foreach { case (id, rows) =>
      val v = raw(id).map(_.toDouble)
      val ma = v.map(math.abs).max
      assert(rows.length == v.length)
      rows.foreach { case (_, pos, q, scale) =>
        assert(q >= -127 && q <= 127)
        assert(q == math.floor(v(pos.toInt) * 127.0 / ma + 0.5).toLong)
        // reconstruction error bounded by half a quantization step
        assert(math.abs(q * scale - v(pos.toInt)) <= ma / 254 + ma * 1e-12)
      }
    }
  }

  test("quantized ANN: ranking survives int8 — high recall vs float brute force") {
    val d = sf("embeddings")
    val brute = Similarity.bruteForceTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(quant.nonEmpty)
    // int8 keeps ~2 decimal digits of cosine: the top-5 sets should nearly
    // coincide with the float ranking (quantizer error, not search error)
    val recall = (brute intersect quant).size.toDouble / brute.size
    assert(recall >= 0.8, s"quantized recall too low: $recall")
  }

  test("multi-probe LSH: recall dominates single-probe, scores exact") {
    val d = sf("embeddings")
    val brute = Similarity.bruteForceTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = Similarity.lshTopK(spark, d)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.lshMultiProbeTopK(spark, d)
      .as[(Long, Long, Long, Double)].collect()
    val multiSet = multi.map(r => (r._1, r._2)).toSet
    assert(multi.nonEmpty)
    // no duplicate (query, neighbor) pairs from the probe explosion
    assert(multiSet.size == multi.length)
    val rs = (brute intersect single).size.toDouble / brute.size
    val rm = (brute intersect multiSet).size.toDouble / brute.size
    assert(rm >= rs, s"multi-probe recall $rm below single-probe $rs")
    // every reported cosine matches the brute-force score for that pair
    val exact = Similarity.bruteForceTopK(spark, d, k = 500)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    multi.foreach { case (q, n, _, cos) =>
      exact.get((q, n)).foreach(e => assert(e == cos, s"pair ($q,$n) score mismatch"))
    }
  }

  test("cluster-balanced sample: per-cluster cap honored, draw matches the assignment") {
    val d = sf("embeddings")
    val labels = Similarity.kmeansAssign(spark, d)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    val got = Similarity.clusterBalanceSample(spark, d, cap = 40)
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // every sampled row carries its true cluster label
    got.foreach { case (id, c, _) => assert(labels(id) == c) }
    // per-cluster counts: exactly min(cap, cluster size), ranks 1..n dense
    val sizes = labels.groupBy(_._2).map { case (c, xs) => c -> xs.size }
    got.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.length == math.min(40, sizes(c)))
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // the draw is hash-ordered, not id-ordered: some cluster skips an id
    // (vacuous only if every cluster fits entirely under the cap)
    val full = sizes.exists(_._2 > 40)
    if (full) {
      val kept = got.map(_._1).toSet
      assert(labels.exists { case (id, c) => sizes(c) > 40 && !kept(id) })
    }
  }

  test("corpus clean removes the higher-id side of every near-dup pair") {
    val d = "/root/testdata/sf0.001"
    val pairs = graft.pipeline.Dedup.minhashLsh(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val kept = graft.pipeline.Dedup.corpusClean(spark, d)
      .as[Long].collect().toSet
    pairs.foreach { case (_, b) => assert(!kept.contains(b)) }
    assert(kept.nonEmpty)
  }

  test("semantic dedup: precision 1 vs all-pairs, multi-probe recall substantial") {
    import org.apache.spark.sql.functions._
    val d = sf("embeddings")
    val got = graft.pipeline.Similarity.semanticDedupPairs(spark, d)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty, "threshold found no semantic near-dups — test is vacuous")
    got.foreach { case (a, b, cos) => assert(a < b && cos >= 0.4) }
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length, "duplicate pairs emitted")
    // every reported pair must be a genuine >=threshold cosine pair: check
    // against the unblocked all-pairs reference (small test corpus)
    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.norm(col("embedding")).as("nrm"))
      .localCheckpoint()
    val all = e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb")),
        col("va") < col("vb"))
      .select(col("va"), col("vb"),
        graft.functions.VectorFunctions.cosineRFromNorms(
          col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= 0.4)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    got.foreach { case (a, b, cos) =>
      assert(all.get((a, b)).contains(cos),
        s"pair ($a,$b,$cos) not in the all-pairs reference")
    }
    // blocked recall is sub-1 by design (cross-cell pairs are skipped; this
    // synthetic corpus has no high-cosine structure, so 0.4 pairs straddle
    // cells freely) — nProbe=2 must still retain a substantial fraction
    assert(got.length * 5 >= all.size * 3,
      s"cell blocking kept ${got.length} of ${all.size} true pairs — quantizer too lossy")
  }

  test("filtered ANN: exact top-k of the eligible subset, predicate pushed to the scan") {
    val d = "/root/testdata/sf0.001"
    val got = Similarity.filteredTopK(spark, d)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .as[(Long, Long, Long, Double)].collect()
    // driver-side reference: cosine over the label>=5 subset only
    val vecs = graft.Tables.embeddings(spark, d)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val eligible = vecs.filter(_._3 >= 5)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = vecs.filter(_._1 < 10).flatMap { case (qid, qe, _) =>
      eligible.filter(_._1 != qid)
        .map { case (nid, ne, _) => (qid, nid, cos(qe, ne)) }
        .sortBy { case (_, nid, c) => (-c, nid) }.take(5).zipWithIndex
        .map { case ((q, n, c), i) => (q, n, (i + 1).toLong, c) }
    }.toSet
    assert(got.toSet == expected, "filtered top-k diverges from the subset reference")
    // pre-filter matters: post-filtering the UNFILTERED top-k must differ
    // for at least one query (ineligible vectors dominate some top-5)
    val post = Similarity.bruteForceTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, nid) => eligible.exists(_._1 == nid) }.toSet
    assert(got.map(t => (t._1, t._2)).toSet != post,
      "fixture degenerate: post-filtering equals pre-filtering everywhere")
    // the label predicate reaches the parquet scan
    val plan = Similarity.filteredTopK(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(label,5"),
      s"label predicate not pushed to the scan:\n$plan")
  }

  test("JL projection: shuffle-free narrow map, unbiased distances, deterministic") {
    val d = sf("embeddings")
    // pure narrow map: literal weights, no Exchange anywhere in the plan
    val proj = Similarity.jlProject(spark, d)
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")

    val rows = proj.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nVecs = graft.Tables.embeddings(spark, d).count()
    assert(rows.length == nVecs * 16, "16 output dims per vector")
    rows.groupBy(_._1).foreach { case (v, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (0L until 16L), s"vec $v dims not dense")
    }
    // deterministic: a second evaluation is bit-identical
    assert(Similarity.jlProject(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == rows.toSet)

    // the audit licenses the projection: E[ratio^2] = 1 for the ±1/√k
    // family, so the mean squared ratio over 780 pairs must sit near 1
    // and no pair may be wildly distorted at k=16 (sf0.01 measured:
    // mean² 0.978, range [0.49, 1.67])
    val audit = Similarity.jlAudit(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(audit.length == 40 * 39 / 2)
    val ratios = audit.map(_._5)
    val meanSq = ratios.map(r => r * r).sum / ratios.length
    assert(meanSq > 0.8 && meanSq < 1.2, s"JL unbiasedness violated: mean ratio² = $meanSq")
    assert(ratios.forall(r => r > 0.3 && r < 2.2),
      s"pathological distortion: ${ratios.filterNot(r => r > 0.3 && r < 2.2).toSeq}")
    // ratio column replays from the two distance columns (same rounding)
    audit.foreach { case (a, b, dOrig, dProj, ratio) =>
      assert(math.abs(ratio - dProj / dOrig) < 5e-6, s"($a,$b): $ratio vs ${dProj / dOrig}")
    }
  }

  test("JL rerank: stage-2 bounded at nQueries·depth, recall beats the random-touch baseline") {
    val d = sf("embeddings")
    val brute = Similarity.bruteForceTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rer = Similarity.jlRerank(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (rer & brute).size.toDouble / brute.size
    val corpus = graft.Tables.embeddings(spark, d).count().toDouble
    val randomTouch = 100.0 / corpus // depth/corpus: recall of a random candidate set
    // this synthetic corpus has near-random cosine margins (the adversarial
    // case for metric projection; single-probe LSH records 0.14 on it) —
    // the two-stage composition must still clearly beat random touch
    assert(recall >= 0.5, s"JL rerank recall $recall below floor")
    assert(recall > 2 * randomTouch,
      s"JL rerank recall $recall does not beat random-touch baseline $randomTouch")
    // raw projected top-5 (no rerank) is what stage 2 repairs: strictly worse
    val raw = Similarity.jlTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawRecall = (raw & brute).size.toDouble / brute.size
    assert(recall > rawRecall, s"rerank ($recall) must improve on raw projected top-5 ($rawRecall)")
  }

  test("kNN label propagation: per-class accuracy replays; labels carry signal") {
    val d = "/root/testdata/sf0.001"
    val got = Similarity.knnLabelProp(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cells = Similarity.kmeansAssign(spark, d).select("vec_id", "cluster")
      .as[(Long, Long)].collect().toMap
    val rows = graft.Tables.embeddings(spark, d).select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])].collect()
      .map { case (id, l, e) => (id, l, e.map(_.toDouble)) }
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = rows.map(t => t._1 -> math.sqrt(dot(t._3, t._3))).toMap
    val byId = rows.map(t => t._1 -> t).toMap
    val pred = rows.map { case (id, _, emb) =>
      val nbs = rows.filter(t => t._1 != id && cells(t._1) == cells(id))
        .map { case (nid, nl, ne) =>
          (r6(dot(emb, ne) / (nrm(id) * nrm(nid))), nid, nl) }
        .sortBy { case (c, nid, _) => (-c, nid) }.take(3)
      val majority = nbs.groupBy(_._3).toSeq
        .map { case (l, g) => (l, g.length) }
        .minBy { case (l, n) => (-n, l) }._1
      id -> majority
    }.toMap
    val want = rows.groupBy(_._2).map { case (l, g) =>
      val correct = g.count(t => pred(t._1) == t._2)
      l.toLong -> ((g.length.toLong, correct.toLong, r6(correct.toDouble / g.length)))
    }
    assert(got == want, s"got $got\nwant $want")
    // the synthetic embedding corpus has near-random cosine margins by
    // design (BASELINE.md: the adversarial ANN case) — measured overall
    // accuracy ~0.09 ≈ the 1/10 random baseline. The AUDIT reporting that
    // truthfully is the point: asserting a signal floor here would assert
    // a property the data deliberately lacks. Structural checks instead:
    assert(got.values.map(_._1).sum == rows.length)
    got.values.foreach { case (n, c, acc) =>
      assert(c <= n && acc >= 0.0 && acc <= 1.0 && acc == r6(c.toDouble / n))
    }
    assert(byId.nonEmpty)
  }

  test("phash pairs: brute-force Hamming replay, pigeonhole recall, planted variants bite") {
    val d = "/root/testdata/sf0.001"
    val got = Multimodal.phashPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver recount through the SAME codec path: hash every doc, check
    // every pair exhaustively — the engine's candidate stage must lose
    // NOTHING within the Hamming<8 pigeonhole radius
    val ids = graft.Tables.documents(spark, d).select("doc_id").as[Long].collect()
    def ahash(id: Long): Array[Int] = {
      val small = graft.pipeline.PpmCodec.resizeNearest(
        Multimodal.syntheticVariant(id), 8, 8)
      val lum = Array.tabulate(64) { p =>
        299L * (small.rgb(3 * p) & 0xff) + 587L * (small.rgb(3 * p + 1) & 0xff) +
          114L * (small.rgb(3 * p + 2) & 0xff)
      }
      val total = lum.sum
      Array.tabulate(8) { bi =>
        (0 until 8).foldLeft(0)((v, i) =>
          if (lum(bi * 8 + i) * 64L >= total) v | (1 << i) else v)
      }
    }
    val hs = ids.map(id => id -> ahash(id)).toMap
    def ham(a: Array[Int], b: Array[Int]) =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum.toLong
    val want = (for {
      a <- ids; b <- ids if a < b
      h = ham(hs(a), hs(b)) if h <= 7
    } yield (a, b, h)).toSet
    assert(got == want, s"engine pairs diverge: extra=${got -- want} missing=${want -- got}")
    // the planted scaled-variant groups (id / 5) must actually produce
    // near-dup pairs, and same-group pairs must dominate the output
    assert(got.nonEmpty, "no near-dup images found — planting broken")
    val sameGroup = got.count { case (a, b, _) => a / 5 == b / 5 }
    assert(sameGroup * 2 > got.size,
      s"same-group pairs ($sameGroup) don't dominate ${got.size} — hash not perceptual")
    // scale invariance where the thumbnail maps identically: hamming 0
    // pairs exist (different resolutions of one base collapsing to one hash)
    assert(got.exists(_._3 == 0L))
    // the multi-index scale form = EXACTLY the radius-3 subset (pigeonhole
    // over 4x16-bit substrings loses nothing within the radius)
    val mih = Multimodal.phashPairsMih(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mih == want.filter(_._3 <= 3L),
      s"mih diverges from the radius-3 truth: extra=${mih -- want}")
    // cluster collapse: union-find over the mih pairs, keep max-area
    // variant (ties low id), member counts — full driver replay
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    mih.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = ids.groupBy(find)
    def area(id: Long) = (8 + id % 5) * (6 + id % 4)
    val wantClusters = comp.map { case (lab, members) =>
      val keep = members.minBy(m => (-area(m), m))
      (lab, keep, area(keep), members.length.toLong)
    }.toSet
    val gotClusters = Multimodal.phashClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotClusters == wantClusters,
      s"clusters diverge: extra=${gotClusters -- wantClusters} missing=${wantClusters -- gotClusters}")
    // the collapse must actually merge something on the planted corpus
    assert(gotClusters.size < ids.length)
    assert(gotClusters.exists(_._4 > 1L))
  }

  test("audio fingerprint pairs: brute-force replay through the codec, planted resamples found") {
    val d = "/root/testdata/sf0.001"
    val got = Multimodal.afpPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ids = graft.Tables.documents(spark, d).select("doc_id").as[Long].collect()
    def fp(id: Long): Array[Int] = {
      val v = Multimodal.syntheticAudioVariant(id)
      val t = Array.tabulate(256)(i => v((i * v.length) / 256))
      val e = Array.tabulate(32)(w => (0 until 8).map(i => math.abs(t(8 * w + i).toLong)).sum)
      val bits = Array.tabulate(32)(w => if (e(w) > e((w + 31) % 32)) 1 else 0)
      Array.tabulate(4)(bi => (0 until 8).foldLeft(0)((a, i) => a | (bits(bi * 8 + i) << i)))
    }
    val hs = ids.map(id => id -> fp(id)).toMap
    def ham(a: Array[Int], b: Array[Int]) =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum.toLong
    val want = (for {
      a <- ids; b <- ids if a < b
      h = ham(hs(a), hs(b)) if h <= 2
    } yield (a, b, h)).toSet
    assert(got == want, s"engine pairs diverge: extra=${got -- want} missing=${want -- got}")
    // every planted resample group must be recovered (the envelope
    // survives nearest-sample decimation by construction)
    val groups = ids.groupBy(_ / 5).filter(_._2.length > 1)
    val foundGroups = got.map(p => p._1 / 5).toSet
    assert(foundGroups.size * 10 >= groups.size * 9,
      s"only ${foundGroups.size} of ${groups.size} planted groups recovered")
    val sameGroup = got.count { case (a, b, _) => a / 5 == b / 5 }
    assert(sameGroup * 2 > got.size,
      s"same-group pairs ($sameGroup) don't dominate ${got.size}")
    // the multi-index scale form = exactly the radius-1 subset
    val mih = Multimodal.afpPairsMih(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mih == want.filter(_._3 <= 1L),
      s"afp mih diverges from the radius-1 truth: extra=${mih -- want}")
    // cluster collapse: union-find over the radius-1 pairs, keep the
    // LONGEST clip (ties low id) — full driver replay
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    mih.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    def nSamples(id: Long) = 160 + id % 97
    val wantClusters = ids.groupBy(find).map { case (lab, members) =>
      val keep = members.minBy(m => (-nSamples(m), m))
      (lab, keep, nSamples(keep), members.length.toLong)
    }.toSet
    val gotClusters = Multimodal.afpClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotClusters == wantClusters,
      s"afp clusters diverge: extra=${gotClusters -- wantClusters}")
    assert(gotClusters.size < ids.length && gotClusters.exists(_._4 > 1L))
  }

  test("probed-MIH fingerprint pairs: exact same-radius answer; adaptive route invariant") {
    // The probe-expanded 16-bit form claims EXACT recall at the byte-block
    // radius (pigeonhole: ham ≤ 7 over 4 substrings ⟹ one substring within
    // 1 bit). Gate it row-for-row against the byte-block form on the real
    // corpus, both families, and pin the registry entries to the same rows.
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val phByte = rows(Multimodal.phashPairs(spark, dir))
    assert(phByte.nonEmpty)
    assert(rows(Multimodal.phashPairsProbed(spark, dir)) == phByte)
    val afByte = rows(Multimodal.afpPairs(spark, dir))
    assert(afByte.nonEmpty)
    assert(rows(Multimodal.afpPairsProbed(spark, dir)) == afByte)
    assert(rows(SparkEntry.queries("multimodal_phash_pairs")(spark, dir)) == phByte &&
      rows(SparkEntry.queries("multimodal_afp_pairs")(spark, dir)) == afByte,
      "the registry entries must return the byte-block rows")
  }
}
