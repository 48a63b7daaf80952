package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import scala.util.Random
import graft.operators.LogPipeline
import graft.pipeline.{Dedup, Similarity, TextPipeline}

/** Property-style invariants over seeded random inputs (SURVEY §5.2):
  * first-wins uniqueness (ST1), interval-join bound containment (J1),
  * set-size = distinct-count (A2), minhash self-similarity.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val rnd = new Random(42)

  private def randomEvents(n: Int, users: Int): Seq[(Long, Timestamp, Long, String)] =
    (1 to n).map { i =>
      (i.toLong,
        new Timestamp(1704067200000L + rnd.nextInt(1000000) * 1000L),
        rnd.nextInt(users).toLong,
        Seq("view", "click", "purchase")(rnd.nextInt(3)))
    }

  test("ST1: exactly one is_new=1 per user, on any input") {
    val ev = randomEvents(500, 37).toDF("event_id", "ts", "user_id", "event_type")
    val marked = LogPipeline.st1Transform(ev)
    val perUser = marked.groupBy("user_id").agg(sum("is_new").as("firsts"))
    assert(perUser.filter($"firsts" =!= 1L).count() == 0)
    assert(marked.count() == 500)
  }

  test("J1: every joined pair satisfies the interval bounds; none missed") {
    val o = (1 to 50).map(k => (k.toLong,
      new Timestamp(1704067200000L + rnd.nextInt(100000) * 1000L))).toDF("o_key", "o_ts")
    val l = (1 to 300).map { i => (rnd.nextInt(60).toLong,
      new Timestamp(1704067200000L + rnd.nextInt(200000) * 1000L), i.toLong)
    }.toDF("l_key", "l_ts", "l_id")
    val joined = o.join(l, $"l_key" === $"o_key" &&
      $"l_ts" >= $"o_ts" - expr("INTERVAL 30 SECONDS") &&
      $"l_ts" <= $"o_ts" + expr("INTERVAL 90 SECONDS"))
    val rows = joined.select($"o_ts", $"l_ts").as[(Timestamp, Timestamp)].collect()
    rows.foreach { case (ots, lts) =>
      val d = lts.getTime - ots.getTime
      assert(d >= -30000 && d <= 90000)
    }
    // exhaustive cross-check on the driver
    val om = o.as[(Long, Timestamp)].collect()
    val lm = l.as[(Long, Timestamp, Long)].collect()
    val expected = (for {
      (ok, ots) <- om; (lk, lts, _) <- lm
      if lk == ok && lts.getTime >= ots.getTime - 30000 && lts.getTime <= ots.getTime + 90000
    } yield 1).size
    assert(rows.length == expected)
  }

  test("A2: size(collect_set) == countDistinct on any grouping") {
    val df = (1 to 2000).map(_ => (rnd.nextInt(11), rnd.nextInt(97))).toDF("k", "u")
    val a = df.groupBy("k").agg(size(collect_set($"u")).cast("long").as("ct"))
    val b = df.groupBy("k").agg(countDistinct($"u").as("ct"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("prefix-filtered bag-Jaccard == exhaustive token join, random corpora with planted dups") {
    // vocabulary with a Zipf-ish head so hot tokens exercise the rarest-
    // first prefix ordering; planted mutations create J>=0.5 pairs
    def corpus(seed: Int): Seq[(Long, String, String)] = {
      val r = new Random(seed)
      def word() = if (r.nextInt(3) == 0) s"hot${r.nextInt(3)}" else s"w${r.nextInt(200)}"
      val base = (0 until 60).map { i =>
        (i.toLong, s"s${i % 3}", (0 until 8 + r.nextInt(20)).map(_ => word()).mkString(" "))
      }
      val mutated = (0 until 20).map { i =>
        val (id, src, text) = base(r.nextInt(base.length))
        val ws = text.split(" ").toSeq
        val drop = r.nextInt(1 + ws.length / 4)
        (100L + i, src, (ws.drop(drop) ++ Seq.fill(r.nextInt(3))(word())).mkString(" "))
      }
      base ++ mutated
    }
    // disable the toy-scale crossover: the property test must exercise the
    // PREFIX machinery, not its exhaustive re-route
    spark.conf.set(graft.operators.Scale.PrefixCrossoverConf, "0")
    try Seq(7, 21, 99).foreach { seed =>
      val df = corpus(seed).toDF("doc_id", "source", "text")
      val fast = Dedup.ngramJaccardPrefixFrom(df).as[(Long, Long, Double)].collect().toSet
      val slow = Dedup.ngramJaccardExhaustiveFrom(df).as[(Long, Long, Double)].collect().toSet
      assert(fast == slow, s"seed=$seed prefix filter diverged:\n missing=${slow -- fast}\n extra=${fast -- slow}")
      assert(slow.nonEmpty, s"seed=$seed fixture planted no qualifying pairs")
    } finally spark.conf.unset(graft.operators.Scale.PrefixCrossoverConf)
  }

  test("bag overlap (containment) == driver-side multiset reference on random corpora") {
    def reference(rows: Seq[(Long, String, String)], t: Double): Set[(Long, Long, Double)] = {
      def bag(s: String): Map[String, Int] =
        s.toLowerCase.split("\\s+").filter(_.nonEmpty).groupBy(identity).view.mapValues(_.length).toMap
      val docs = rows.map { case (id, src, text) => (id, src, bag(text)) }
      (for {
        (ia, sa, ba) <- docs; (ib, sb, bb) <- docs
        if sa == sb && ia < ib && ba.nonEmpty && bb.nonEmpty
        inter = ba.keySet.intersect(bb.keySet).toSeq.map(k => math.min(ba(k), bb(k))).sum
        ovl = BigDecimal(inter.toDouble / math.min(ba.values.sum, bb.values.sum))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if inter > 0 && ovl >= t
      } yield (ia, ib, ovl)).toSet
    }
    def corpus(seed: Int): Seq[(Long, String, String)] = {
      val r = new Random(seed)
      def word() = s"w${r.nextInt(30)}"
      val base = (0 until 50).map { i =>
        (i.toLong, s"s${i % 3}", (0 until 5 + r.nextInt(25)).map(_ => word()).mkString(" "))
      }
      // planted containments: strict subsets of existing docs
      val contained = (0 until 15).map { i =>
        val (id, src, text) = base(r.nextInt(base.length))
        val ws = text.split(" ").toSeq
        (200L + i, src, r.shuffle(ws).take(math.max(1, ws.length / 2)).mkString(" "))
      }
      base ++ contained
    }
    // crossover off: the prefix machinery itself is under test
    spark.conf.set(graft.operators.Scale.PrefixCrossoverConf, "0")
    try Seq(5, 42).foreach { seed =>
      val rows = corpus(seed)
      val got = Dedup.bagOverlapFrom(rows.toDF("doc_id", "source", "text"), 0.8)
        .as[(Long, Long, Double)].collect().toSet
      val want = reference(rows, 0.8)
      assert(got == want, s"seed=$seed containment diverged:\n missing=${want -- got}\n extra=${got -- want}")
      assert(want.nonEmpty, s"seed=$seed fixture planted no qualifying pairs")
      // the prefix-filtered scale rendering must be indistinguishable
      val fast = Dedup.bagOverlapPrefixFrom(rows.toDF("doc_id", "source", "text"), 0.8)
        .as[(Long, Long, Double)].collect().toSet
      assert(fast == want, s"seed=$seed prefix containment diverged:\n missing=${want -- fast}\n extra=${fast -- want}")
    } finally spark.conf.unset(graft.operators.Scale.PrefixCrossoverConf)
  }

  test("cluster labels == driver union-find on random graphs incl. a 100-hop chain") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      (0L until n.toLong).map(i => i -> i).toMap.map { case (i, _) => i -> find(i) }
        .groupBy(_._2).flatMap { case (_, m) => val lab = m.keys.min; m.keys.map(_ -> lab) }
    }
    val cases = Seq(
      // the convergence stressor: one 100-hop chain (previously capped at 20 rounds)
      (120, (0L until 99L).map(i => (i, i + 1))),
      // random sparse graph
      (80, { val r = new Random(5); (1 to 60).map(_ => (r.nextInt(80).toLong, r.nextInt(80).toLong)).filter(p => p._1 != p._2) }),
      // no edges at all
      (10, Seq.empty[(Long, Long)]))
    cases.foreach { case (n, edges) =>
      val docs = (0L until n.toLong).toDF("doc_id")
      val pairs = if (edges.isEmpty)
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
      else edges.toDF("doc_a", "doc_b")
      val got = Dedup.clusterLabels(pairs, docs).as[(Long, Long)].collect().toMap
      assert(got == unionFind(n, edges), s"n=$n edges=${edges.size}")
    }
  }

  test("graft_bag_intersect == driver-side multiset-min on random sorted bags") {
    val r = new Random(11)
    val rows = (1 to 60).map { _ =>
      val a = (1 to r.nextInt(30)).map(_ => s"t${r.nextInt(12)}").sorted
      val b = (1 to r.nextInt(30)).map(_ => s"t${r.nextInt(12)}").sorted
      (a, b)
    }
    val got = rows.toDF("a", "b")
      .select(call_function("graft_bag_intersect", $"a", $"b")).as[Int].collect()
    rows.zip(got).foreach { case ((a, b), g) =>
      val expect = (a.groupBy(identity).view.mapValues(_.size).toMap.toSeq.map {
        case (t, ca) => math.min(ca, b.count(_ == t))
      }).sum
      assert(g == expect, s"a=$a b=$b")
    }
  }

  test("minhash: identical text → identical signature; est self-similarity 1") {
    val words = (1 to 40).map(i => s"w${rnd.nextInt(30)}").mkString(" ")
    val df = Seq((1L, words), (2L, words)).toDF("doc_id", "text")
    val sigs = df.select($"doc_id", Dedup.minhashSignature($"text").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).length == Dedup.NumHashes)
  }

  test("int8 quantization: adversarial vectors — zero drop, bounds, half-step error") {
    val r = new Random(7)
    val dim = 16
    val vecs: Seq[(Long, Array[Float], Int)] =
      Seq(
        (0L, Array.fill(dim)(0.0f), 0),                          // zero vector: dropped
        (1L, Array.fill(dim)(1e-8f), 0),                         // tiny but nonzero
        (2L, Array.fill(dim)(-3.5f), 0),                         // constant negative
        (3L, Array.tabulate(dim)(i => if (i == 0) 100f else 1e-4f), 0) // huge dynamic range
      ) ++ (4L to 40L).map(i => (i, Array.fill(dim)((r.nextFloat() - 0.5f) * 4), 0))
    val tmp = java.nio.file.Files.createTempDirectory("quantprop").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Similarity.quantizeInt8(spark, tmp)
      .as[(Long, Long, Long, Double)].collect().groupBy(_._1)
    assert(!got.contains(0L), "all-zero vector must be dropped")
    assert(got.keySet == vecs.map(_._1).toSet - 0L)
    got.foreach { case (id, rows) =>
      val v = vecs.find(_._1 == id).get._2.map(_.toDouble)
      val ma = v.map(math.abs).max
      assert(rows.length == dim)
      rows.foreach { case (_, pos, q, scale) =>
        assert(q >= -127 && q <= 127, s"vec $id code $q out of range")
        assert(math.abs(q * scale - v(pos.toInt)) <= ma / 254 + ma * 1e-12,
          s"vec $id pos $pos reconstruction off")
      }
      // the max-magnitude element always uses the full code range
      assert(rows.map(r => math.abs(r._3)).max == 127L)
    }
  }

  test("bigram LM + bpe pairs: adversarial corpora — empty/singleton docs, unicode, degenerate repetition") {
    val docs = Seq(
      (0L, "", "en", "src", 0L),                                  // empty → no bigrams, no words
      (1L, "solo", "en", "src", 4L),                              // 1 token → no bigrams; 4-char word still yields bpe pairs
      (2L, "a a a a a a a a", "en", "src", 15L),                  // degenerate repetition: one bigram type
      (3L, "übung schön übung schön", "de", "src", 23L),          // unicode chars through substring/pair logic
      (4L, "p q r s t u v w x y z", "en", "src", 21L),            // all-unique bigrams, 1-char words (no bpe pairs)
      (5L, "x y", "en", "src", 3L))
    val tmp = java.nio.file.Files.createTempDirectory("lmprop").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val lm = TextPipeline.bigramSurprisal(spark, tmp).as[(Long, Double)].collect().toMap
    assert(!lm.contains(0L) && !lm.contains(1L), "docs without bigrams must not appear")
    assert(lm.keySet == Set(2L, 3L, 4L, 5L))
    // driver recount under the same add-one model
    val corpus = docs.map { case (id, t, _, _, _) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
    val cu = corpus.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.length }
    val v = cu.size
    val cb = corpus.flatMap(_._2.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).map { case (b, o) => b -> o.length }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    corpus.filter(_._2.length >= 2).foreach { case (id, ws) =>
      val terms = ws.sliding(2).filter(_.length == 2).toSeq
        .groupBy(p => (p.head, p.mkString(" ")))
        .map { case ((w1, b), occ) =>
          r6(occ.length * math.log((cu(w1) + v).toDouble / (cb(b) + 1))) }
      assert(lm(id) == r6(terms.sum.toDouble / (ws.length - 1)).toDouble, s"doc $id")
    }
    // direction: the corpus-frequent degenerate bigram scores BELOW all-unique bigrams
    assert(lm(2L) < lm(4L), s"repetition must score low: ${lm(2L)} vs ${lm(4L)}")

    val bpe = TextPipeline.bpePairFreq(spark, tmp).as[(String, Long)].collect().toMap
    // 1-char words contribute no pairs; 'solo' contributes so/ol/lo once each
    assert(bpe.get("so").contains(1L) && bpe.get("ol").contains(1L) && bpe.get("lo").contains(1L))
    assert(!bpe.keySet.exists(_.length != 2))
    // unicode pair counts weighted by word frequency: 'übung' ×2 → 'üb' = 2
    assert(bpe.get("üb").contains(2L), s"unicode pair lost: $bpe")
    assert(!bpe.contains("a "), "single-char word 'a' must yield no pair")
  }

  test("duplicate spans: periodic self-repetition and cross-doc shares resolve to whole maximal spans") {
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens, repeated across docs 2+3
    val docs = Seq(
      (0L, "a a a a a a a a", "en", "src", 15L),               // periodic: every 5-window identical → one whole-doc span
      (1L, "unique tokens only here never repeated anywhere", "en", "src", 47L),
      (2L, s"lead in words $shared tail one", "en", "src", 60L),
      (3L, s"other prefix $shared closing different words here", "en", "src", 64L),
      (4L, "tiny", "en", "src", 4L))                           // < k tokens: no shingles at all
    val tmp = java.nio.file.Files.createTempDirectory("spanprop").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.duplicateSpans(spark, tmp, 5)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, ss) => id -> ss.map(s => (s._2, s._3)).toList.sorted }
    // doc 0: positions 1..4 all carry the identical 5-gram → one span covering 1..8
    assert(got(0L) == List((1L, 8L)), s"periodic doc: ${got.get(0L)}")
    // docs 1 and 4 produce nothing
    assert(!got.contains(1L) && !got.contains(4L), s"clean docs flagged: $got")
    // the shared 6-token sentence = two 5-gram seeds → exactly that span in both docs
    // doc 2: shared starts at token 4 → span [4, 9]; doc 3: starts at token 3 → [3, 8]
    assert(got(2L) == List((4L, 9L)), s"doc 2 span: ${got.get(2L)}")
    assert(got(3L) == List((3L, 8L)), s"doc 3 span: ${got.get(3L)}")
    // strip consumer on the same corpus: doc 0 fully emptied, shared sentence cut
    val strip = Dedup.duplicateSpanStrip(spark, tmp, 5)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(strip(0L)._4 == "" && strip(0L)._3 == 8L)
    assert(strip(2L)._4 == "lead in words tail one")
    assert(strip(3L)._4 == "other prefix closing different words here")
    assert(strip(1L)._3 == 0L && strip(4L)._3 == 0L)
  }

  test("chunking: reconstruction holds at adversarial length/stride boundaries") {
    val (chunkSize, stride) = (32, 24)
    // lengths straddling every boundary: empty, 1, stride-1/stride/stride+1,
    // chunk-1/chunk/chunk+1, exact multiples, and a long tail
    val lens = Seq(0, 1, 23, 24, 25, 31, 32, 33, 48, 72, 96, 97, 200)
    val docs = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(k => s"w$k").mkString(" "), "en", "src", n.toLong)
    }
    val tmp = java.nio.file.Files.createTempDirectory("chunkprop").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextPipeline.chunkDocuments(spark, tmp, chunkSize, stride)
      .as[(Long, Long, Long, String)].collect().groupBy(_._1)
    docs.foreach { case (id, text, _, _, n) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) assert(!got.contains(id))
      else {
        val rows = got(id).sortBy(_._2)
        assert(rows.map(_._2).toSeq == (0L until ((toks.length + stride - 1) / stride).toLong),
          s"len $n chunk ids")
        val rebuilt = rows.flatMap { case (_, cid, _, chunk) =>
          val ws = chunk.split(" ").toSeq
          if (cid == 0) ws else ws.drop(chunkSize - stride)
        }
        assert(rebuilt.toSeq == toks, s"len $n reconstruction")
        // every chunk except possibly the last is full-size or doc-bounded
        rows.init.foreach { case (_, cid, ct, _) =>
          assert(ct == math.min(chunkSize, toks.length - cid * stride), s"len $n chunk $cid size")
        }
      }
    }
  }

  test("winnow kernel: adversarial texts — unicode case folding, short docs, constant text, driver parity") {
    val docs = Seq(
      (0L, "ab", "en", "src", 2L),                     // shorter than k → no fingerprints
      (1L, "abcde", "en", "src", 5L),                  // exactly one gram → one fingerprint
      (2L, "aaaaaaaaaaaa", "en", "src", 12L),          // constant text → ONE distinct gram/fingerprint
      (3L, "ÜBUNG macht den Meister ÜBUNG", "de", "src", 29L), // unicode lowercasing
      (4L, "abcdefghij", "en", "src", 10L))            // more grams than the window
    val tmp = java.nio.file.Files.createTempDirectory("winprop").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextPipeline.winnowFingerprints(spark, tmp)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (d, g) => d -> g.map(_._2).toSet }
    assert(!got.contains(0L), "sub-k doc must drop out")
    assert(got(1L).size == 1 && got(2L).size == 1)
    // driver reference: same k=5/w=4 semantics over lowercased chars
    def ref(t: String): Set[Long] = {
      val low = t.toLowerCase
      if (low.length < 5) return Set.empty
      val hs = (0 to low.length - 5).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(low.substring(i, i + 5).getBytes("UTF-8"))
        ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      }
      if (hs.length < 4) Set(hs.min)
      else hs.sliding(4).map(_.min).toSet
    }
    docs.filter(_._1 != 0L).foreach { case (id, t, _, _, _) =>
      assert(got(id) == ref(t), s"doc $id kernel != driver reference")
    }
    // unicode: the uppercase Ü gram set equals that of the lowercased text
    assert(got(3L) == ref("übung macht den meister übung"))
  }

  test("BM25 more-like-this: adversarial corpora — empty seeds, identical docs, singleton vocabulary") {
    val docs = Seq(
      (0L, "", "en", "src", 0L),                        // empty seed doc: no terms, retrieves nothing
      (1L, "alpha beta gamma", "en", "src", 1L),
      (2L, "alpha beta gamma", "en", "src", 1L),        // identical to 1 → symmetric retrieval
      (3L, "delta epsilon zeta", "en", "src", 1L),
      (4L, "alpha alpha alpha alpha", "en", "src", 1L), // tf saturation
      (5L, "omega", "en", "src", 1L))                   // vocabulary singleton
    val tmp = java.nio.file.Files.createTempDirectory("bmprop").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.pipeline.Retrieval.bm25MoreLikeThis(spark, tmp)
      .as[(Long, Long, Long, Double)].collect()
    val byQ = got.groupBy(_._1)
    // the empty doc mines no query terms → absent as a query
    assert(!byQ.contains(0L), "empty seed must retrieve nothing")
    // identical docs retrieve each other at rank 1
    assert(byQ(1L).minBy(_._3)._2 == 2L && byQ(2L).minBy(_._3)._2 == 1L)
    // no self-retrieval anywhere, all scores positive
    assert(got.forall(r => r._1 != r._2 && r._4 > 0.0))
    // omega appears in exactly one doc: doc 5 retrieves nothing (no other
    // doc shares its only term)
    assert(!byQ.contains(5L))
    // tf saturation: doc 4's repeated alpha must not dominate doc 1's
    // retrieval beyond the identical doc 2
    assert(byQ(1L).minBy(_._3)._2 == 2L)
  }

  test("CMS: adversarial corpus — single hot token dominates, estimate still >= exact") {
    val docs = ((0 until 50).map(i => (i.toLong, "hot " * 20, "en", "src", 1L)) :+
      (50L, (0 until 200).map(j => s"rare$j").mkString(" "), "en", "src", 1L))
    val tmp = java.nio.file.Files.createTempDirectory("cmsprop").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextPipeline.cmsHeavyHitters(spark, tmp)
      .as[(String, Long, Long)].collect()
    // the planted heavy hitter is found with its exact count preserved
    val hot = got.find(_._1 == "hot")
    assert(hot.isDefined, "dominant token missed")
    assert(hot.get._2 == 1000L && hot.get._3 >= 1000L)
    // the 200 rare singletons never clear a 0.2% threshold
    assert(!got.exists(_._1.startsWith("rare")), "singleton passed the threshold")
  }

  /** Random change log with HEAVY timestamp ties (50-slot second grid) and
    * interleaved deletes — the adversarial shape for interval closing.
    */
  private def randomChangeLog(n: Int, users: Int, slots: Int) =
    (1 to n).map { i =>
      (i.toLong,
        new Timestamp(1704067200000L + rnd.nextInt(slots) * 1000L),
        rnd.nextInt(users).toLong,
        Seq("view", "click", "error")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 1000) / 100.0)
    }

  test("SCD2: transform == naive per-user fold on random logs with ts ties and deletes") {
    val evs = randomChangeLog(400, 7, 50)
    val df = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = LogPipeline.scd2Transform(df)
      .select("user_id", "version", "value", "ts", "valid_to_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getTimestamp(3).getTime, Option(r.getTimestamp(4)).map(_.getTime)))
      .toSet
    val expected = evs.groupBy(_._3).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._2.getTime, e._1)).toIndexedSeq
      var version = 0L
      sorted.zipWithIndex.collect {
        case ((_, ts, _, tpe, v), i) if tpe != "error" =>
          version += 1
          (u, version, v, ts.getTime, sorted.lift(i + 1).map(_._2.getTime))
      }
    }.toSet
    assert(got == expected,
      s"\n engine-only=${(got -- expected).take(5)}\n fold-only=${(expected -- got).take(5)}")
  }

  test("A16: attribution == exhaustive last-touch replay on random tied logs") {
    val evs = (1 to 500).map { i =>
      (i.toLong,
        new Timestamp(1704067200000L + rnd.nextInt(60) * 1000L), // heavy ties
        rnd.nextInt(13).toLong,
        Seq("view", "click", "purchase", "signup")(rnd.nextInt(4)),
        math.round(rnd.nextDouble() * 1000) / 100.0)
    }
    val df = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = LogPipeline.a16AttributionTransform(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val credits = evs.groupBy(_._3).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2.getTime, e._1)).toIndexedSeq
      sorted.zipWithIndex.collect { case ((_, _, _, "purchase", v), i) =>
        sorted.take(i).reverse.find(_._4 != "purchase").map(_._4).getOrElse("direct") ->
          BigDecimal(v).setScale(2)
      }
    }.toSeq
    val expected = credits.groupBy(_._1).map { case (ch, cs) =>
      ch -> (cs.size.toLong, cs.map(_._2).sum.toDouble)
    }
    assert(got == expected, s"\n got=$got\n expected=$expected")
  }

  test("A13: funnel counts == exhaustive simulator on random logs") {
    val evs = (1 to 600).map { i =>
      (i.toLong,
        new Timestamp(1704067200000L + rnd.nextInt(80) * 1000L),
        rnd.nextInt(23).toLong,
        Seq("view", "click", "purchase", "signup")(rnd.nextInt(4)))
    }
    val df = evs.toDF("event_id", "ts", "user_id", "event_type")
    val row = LogPipeline.a13FunnelTransform(df).collect().head
    val reached = evs.groupBy(_._3).values.map { es =>
      val t1 = es.filter(_._4 == "view").map(_._2.getTime).minOption
      val t2 = t1.flatMap(a => es.filter(e => e._4 == "click" && e._2.getTime > a)
        .map(_._2.getTime).minOption)
      val t3 = t2.flatMap(a => es.filter(e => e._4 == "purchase" && e._2.getTime > a)
        .map(_._2.getTime).minOption)
      Seq(t1, t2, t3).count(_.isDefined)
    }.toSeq
    assert(row.getLong(0) == reached.count(_ >= 1) &&
      row.getLong(1) == reached.count(_ >= 2) &&
      row.getLong(2) == reached.count(_ >= 3),
      s"got ${row.toSeq} vs simulator (${reached.count(_ >= 1)},${reached.count(_ >= 2)},${reached.count(_ >= 3)})")
  }
}
