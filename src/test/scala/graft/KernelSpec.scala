package graft

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

/** Parity proofs for the native codegen kernels (graft.plans.expr): each
  * kernel must be BIT-IDENTICAL to the pure column-function rendering it
  * replaced — that rendering is what the DuckDB oracles mirror.
  */
class KernelSpec extends SparkSpecBase with TableDrivenPropertyChecks {
  import spark.implicits._

  private val MersennePrime = (1L << 61) - 1
  private val ShingleC = Seq(786433L, 917505L, 1048577L)
  // the md5-derived 31-bit permutation family over the 32-bit domain
  // (Kernels.CoeffA/B), re-derived here independently of the kernel object
  private val Mod32 = 4294967291L
  private def md5p64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
  private val coeffs: Seq[(Long, Long)] =
    (1 to 64).map(i => (md5p64(s"perm_a:$i") % 2147483647L + 1L, md5p64(s"perm_b:$i") % Mod32))

  private def md5Prefix64Col(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "one two",
    "single",
    "",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "dup dup dup dup dup",
    "Ünïcödé tëxt wíth ßpecial chars 中文 日本語")

  test("graft_tokenize == filter(split(lower)) on non-Han text incl. empties") {
    // the CJK bigram fallback only fires on Han runs, so on every non-Han
    // input the kernel must stay BIT-IDENTICAL to the fold rendering the
    // corpus-table DuckDB oracles mirror
    val extra = texts.filterNot(_.exists(c =>
      (c >= 0x4E00 && c <= 0x9FFF) || (c >= 0x3400 && c <= 0x4DBF))) ++
      Seq("  leading and\ttrailing  ", "A\nB\r\nC", "İIıi ẞß", " ", "\t\n \r")
    // null text included: the n-gram kernels throw on a null element, so
    // the tokenizer feeding them must never yield one (null in, null out)
    val df = (extra.map(Option(_)) :+ None).toDF("text").select(
      call_function("graft_tokenize", col("text")).as("kernel"),
      filter(split(lower(col("text")), "\\s+"), w => length(w) > 0).as("fold"))
    val rows = df.collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    rows.foreach(r => assert(Option(r.getSeq[String](0)).forall(!_.contains(null))))
    assert(rows.last.isNullAt(0))
    assert(rows.filter(r => !r.isNullAt(0) && r.getSeq[String](0).isEmpty).length == 3,
      "empty and whitespace-only texts yield empty token arrays")
  }

  test("graft_tokenize CJK bigram fallback (IK-analyzer parity, U1)") {
    val cases = Seq(
      // Han run ≥ 2 → overlapping bigrams; 2-char run = itself
      "中文 日本語" -> Seq("中文", "日本", "本語"),
      // run transitions inside one whitespace token: latin→han→latin
      "abc中华人民xyz" -> Seq("abc", "中华", "华人", "人民", "xyz"),
      // lone Han char emits verbatim; Extension A (U+3400) is Han
      "中 㐀㐁㐂" -> Seq("中", "㐀㐁", "㐁㐂"),
      // non-Han CJK scripts (kana, hangul) stay whole words; digits glue
      "こんにちは 한국어 中文2024" -> Seq("こんにちは", "한국어", "中文", "2024"),
      // astral-plane text rides the non-Han path intact — never throws
      "🙂🙂 中文🙂" -> Seq("🙂🙂", "中文", "🙂"),
      "" -> Seq())
    val df = cases.map(_._1).toDF("text")
      .select(call_function("graft_tokenize", col("text")).as("kernel"))
    val got = df.as[Seq[String]].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("graft_hash_tokens == transform(md5 hex prefix conv)") {
    val df = texts.toDF("text")
      .select(graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(
        call_function("graft_hash_tokens", col("toks")).as("kernel"),
        transform(col("toks"), w => md5Prefix64Col(w)).as("fold"))
    df.collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("graft_shingles == staged when/transform/aggregate rendering") {
    val df = texts.toDF("text")
      .select(call_function("graft_hash_tokens",
        graft.functions.TextFunctions.tokens(col("text"))).as("th"))
    val n = size(col("th"))
    val raw = when(n === 0, array(lit(0L)))
      .when(n < 3,
        array(aggregate(
          zip_with(col("th"), sequence(lit(1), greatest(n, lit(1))),
            (h, i) => h * element_at(typedLit(ShingleC), i)),
          lit(0L), (acc, x) => (acc + x) % lit(MersennePrime))))
      .otherwise(transform(
        sequence(lit(1), n - 2),
        i => (element_at(col("th"), i) * lit(ShingleC(0)) +
              element_at(col("th"), i + 1) * lit(ShingleC(1)) +
              element_at(col("th"), i + 2) * lit(ShingleC(2))) % lit(MersennePrime)))
    val fold = array_distinct(transform(raw, h => h % lit(4294967291L)))
    val out = df.select(call_function("graft_shingles", col("th")).as("kernel"), fold.as("fold"))
    out.collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("graft_minhash == 64-slot aggregate fold") {
    val df = texts.toDF("text")
      .select(call_function("graft_shingles", call_function("graft_hash_tokens",
        graft.functions.TextFunctions.tokens(col("text")))).as("hs"))
    val fold = aggregate(
      col("hs"),
      array(coeffs.map(_ => lit(Long.MaxValue)): _*),
      (acc, h) => array(coeffs.zipWithIndex.map { case ((a, b), i) =>
        least(element_at(acc, i + 1), (lit(a) * h + lit(b)) % lit(Mod32))
      }: _*))
    val out = df.select(call_function("graft_minhash", col("hs")).as("kernel"), fold.as("fold"))
    out.collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("graft_simhash32 == 32-slot vote fold") {
    val df = texts.toDF("text")
      .select(call_function("graft_hash_tokens",
        graft.functions.TextFunctions.tokenSet(col("text"))).as("hashes"))
    val votes = aggregate(
      col("hashes"),
      array((0 until 32).map(_ => lit(0L)): _*),
      (acc, h) => array((0 until 32).map(i =>
        element_at(acc, i + 1) +
          when(shiftright(h, i) % 2 === 1, 1L).otherwise(-1L)): _*))
    val fold = (0 until 32).map(i =>
      when(element_at(votes, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val out = df.select(call_function("graft_simhash32", col("hashes")).as("kernel"), fold.as("fold"))
    out.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_eq_count == size(filter(zip_with(equality)))") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(5L), Seq(5L))).toDF("a", "b")
    val fold = size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), b => b))
    val out = df.select(call_function("graft_eq_count", col("a"), col("b")).as("k"), fold.as("f"))
    out.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("graft_dot / graft_norm == zip_with+aggregate folds, bit-identical doubles") {
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.5f, 2.25f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.9f, 0.8f, 0.7f)),
      (Array.empty[Float], Array.empty[Float]),
      (Array(1e-7f, 3.3f, -2.2f, 9.9f), Array(4.4f, -5.5f, 6.6f, 1e7f)))
    val df = vecs.toDF("a", "b")
    val foldDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val foldNorm = sqrt(aggregate(col("a"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val out = df.select(
      call_function("graft_dot", col("a"), col("b")).as("kd"), foldDot.as("fd"),
      call_function("graft_norm", col("a")).as("kn"), foldNorm.as("fn"))
    out.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("graft_bag_counts == transform(array_distinct, filter-count) on sorted arrays") {
    val df = texts.toDF("text")
      .select(array_sort(graft.functions.TextFunctions.tokens(col("text"))).as("st"))
    val fold = transform(array_distinct(col("st")),
      t => struct(t.as("tok"), size(filter(col("st"), x => x === t)).cast("long").as("tf")))
    val out = df.select(call_function("graft_bag_counts", col("st")).as("k"), fold.as("f"))
    out.collect().foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) == r.getSeq[org.apache.spark.sql.Row](1))
    }
  }

  test("graft_bag_intersect_counts(bags) == graft_bag_intersect(occurrences)") {
    val pairs = for (a <- texts; b <- texts) yield (a, b)
    val df = pairs.toDF("ta", "tb").select(
      array_sort(graft.functions.TextFunctions.tokens(col("ta"))).as("sa"),
      array_sort(graft.functions.TextFunctions.tokens(col("tb"))).as("sb"))
    val out = df.select(
      call_function("graft_bag_intersect_counts",
        call_function("graft_bag_counts", col("sa")),
        call_function("graft_bag_counts", col("sb"))).as("k"),
      call_function("graft_bag_intersect", col("sa"), col("sb")).cast("long").as("f"))
    out.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_bag_jaccard == round(intersect / (ta+tb-intersect), 6), bit-identical") {
    val pairs = for (a <- texts; b <- texts) yield (a, b)
    val df = pairs.toDF("ta", "tb").select(
      call_function("graft_bag_counts",
        array_sort(graft.functions.TextFunctions.tokens(col("ta")))).as("ba"),
      call_function("graft_bag_counts",
        array_sort(graft.functions.TextFunctions.tokens(col("tb")))).as("bb"),
      size(graft.functions.TextFunctions.tokens(col("ta"))).cast("long").as("na"),
      size(graft.functions.TextFunctions.tokens(col("tb"))).cast("long").as("nb"))
      .filter(col("na") + col("nb") > 0)
    val inter = call_function("graft_bag_intersect_counts", col("ba"), col("bb"))
    val fold = round(inter.cast("double") /
      (col("na") + col("nb") - inter).cast("double"), 6)
    val out = df.select(
      call_function("graft_bag_jaccard", col("ba"), col("bb"), col("na"), col("nb")).as("k"),
      fold.as("f"))
    out.collect().foreach(r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("graft_bag_overlap == round(intersect / least(ta, tb), 6), bit-identical") {
    val pairs = for (a <- texts; b <- texts) yield (a, b)
    val df = pairs.toDF("ta", "tb").select(
      call_function("graft_bag_counts",
        array_sort(graft.functions.TextFunctions.tokens(col("ta")))).as("ba"),
      call_function("graft_bag_counts",
        array_sort(graft.functions.TextFunctions.tokens(col("tb")))).as("bb"),
      size(graft.functions.TextFunctions.tokens(col("ta"))).cast("long").as("na"),
      size(graft.functions.TextFunctions.tokens(col("tb"))).cast("long").as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
    val inter = call_function("graft_bag_intersect_counts", col("ba"), col("bb"))
    val fold = round(inter.cast("double") / least(col("na"), col("nb")).cast("double"), 6)
    val out = df.select(
      call_function("graft_bag_overlap", col("ba"), col("bb"), col("na"), col("nb")).as("k"),
      fold.as("f"))
    out.collect().foreach(r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("graft_prefix_tokens: (df,tok)-sorted slice while cum < limit") {
    // pairs (df, tok, tf): sorted order c(df1) < a(df2) < b(df2 tok tie);
    // cum 0 -> 2 -> 5 crosses limit 3 after 'a'
    val r = spark.sql(
      "SELECT graft_prefix_tokens(array(" +
        "named_struct('df', 2L, 'tok', 'b', 'tf', 1L)," +
        "named_struct('df', 1L, 'tok', 'c', 'tf', 2L)," +
        "named_struct('df', 2L, 'tok', 'a', 'tf', 3L)), 3L) AS p, " +
      "graft_prefix_tokens(array(named_struct('df', 1L, 'tok', 'x', 'tf', 1L)), 0L) AS empty, " +
      "graft_prefix_tokens(array(" +
        "named_struct('df', 2L, 'tok', 'b', 'tf', 1L)," +
        "named_struct('df', 1L, 'tok', 'c', 'tf', 2L)), 100L) AS full").first()
    assert(r.getSeq[String](0) == Seq("c", "a"))
    assert(r.getSeq[String](1) == Seq.empty[String])
    assert(r.getSeq[String](2) == Seq("c", "b"))
  }

  test("kernels fail loud on corrupt input: null elements, length mismatch") {
    def failsWith(sql: String, fragment: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains(fragment)),
        s"expected '$fragment' in: ${messages(e).mkString(" | ")}")
    }
    failsWith("SELECT graft_hash_tokens(array('a', CAST(NULL AS STRING)))",
      "graft_hash_tokens: null array element")
    failsWith("SELECT graft_dot(array(1.0D), array(1.0D, 2.0D))",
      "graft_dot: array length mismatch")
    failsWith("SELECT graft_eq_count(array(1L), array(1L, 2L))",
      "graft_eq_count: array length mismatch")
    failsWith("SELECT graft_bag_intersect(array('a', CAST(NULL AS STRING)), array('a'))",
      "graft_bag_intersect: null array element")
    failsWith("SELECT graft_bag_counts(array('b', 'a', 'b'))",
      "graft_bag_counts: input not sorted")
  }

  test("every kernel, every argument position: a null argument gives null, folded and in codegen") {
    import graft.plans.expr.GraftKernel
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val kernels = GraftKernel.table.map(_.name).toSet
    val registered = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect().map(_.getString(0)).toSet
    assert(registered -- Set("graft_bloom_agg", "graft_bloom_might_contain") == kernels)
    // one typed sample per argument type the table accepts
    val samples = Seq("'a b'", "2", "2L", "array('a', 'b')", "array(1L, 2L)",
      "array(1.0D, 2.0D)", "array(named_struct('tok', 'a', 'tf', 1L))",
      "array(named_struct('df', 1L, 'tok', 'a', 'tf', 1L))")
      .map(s => s -> spark.sql(s"SELECT $s").schema.head.dataType)
    // generated code must compile: no silent fallback to interpreted eval
    val strict = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    strict.foreach { case (key, v) => spark.conf.set(key, v) }
    try for (k <- GraftKernel.table) {
      val picks = k.args.map(a => samples.find(s => a.accepts(s._2))
        .getOrElse(fail(s"no sample for ${k.name} argument ${a.sql}")))
      def call(pos: Int, arg: String) =
        picks.indices.map(i => if (i == pos) arg else picks(i)._1).mkString(s"${k.name}(", ", ", ")")
      assert(!spark.sql(s"SELECT ${call(-1, "")}").schema.head.nullable, k.name)
      for (pos <- picks.indices) {
        val (sample, dt) = picks(pos)
        val folded = spark.sql(s"SELECT ${call(pos, s"CAST(NULL AS ${dt.sql})")}")
        assert(!folded.queryExecution.optimizedPlan.expressions
          .exists(_.exists(_.isInstanceOf[GraftKernel])), s"${k.name} #$pos not folded")
        assert(folded.collect().head.isNullAt(0), s"${k.name} #$pos folded")
        val generated = spark.range(1).selectExpr(call(pos, s"CASE WHEN id < 0 THEN $sample END"))
        assert(generated.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
        assert(generated.collect().head.isNullAt(0), s"${k.name} #$pos generated")
      }
    } finally strict.foreach { case (key, _) => spark.conf.unset(key) }
  }

  test("kernels usable from spark.sql (registered SQL functions)") {
    val r = spark.sql(
      "SELECT graft_simhash32(graft_hash_tokens(array('a','b'))) AS s, " +
        "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").first()
    assert(r.getLong(0) != 0L)
    assert(r.getDouble(1) == 11.0)
  }

  test("graft_char_entropy == ascending-codepoint -p·ln(p) fold, bit-identical doubles") {
    val extra = texts ++ Seq("aaaa", "ab", "aabb中中", "x")
    val got = extra.toDF("text")
      .select(col("text"), call_function("graft_char_entropy", col("text")).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    extra.foreach { t =>
      // driver-side reference: same fold order (ascending code point)
      val chars = t.codePoints().toArray.filter(_ != '\n')
      val n = chars.length.toDouble
      val ref =
        if (chars.isEmpty) 0.0
        else chars.groupBy(identity).view.mapValues(_.length).toSeq
          .sortBy(_._1)
          .foldLeft(0.0) { case (acc, (_, c)) =>
            val p = c / n; acc + -(p * math.log(p))
          }
      assert(got(t) == ref, s"entropy mismatch for '$t': ${got(t)} vs $ref")
    }
    // invariants: uniform text maximal for its alphabet, constant text 0
    assert(got("aaaa") == 0.0)
    assert(math.abs(got("ab") - math.log(2.0)) < 1e-12)
  }

  test("graft_pq_adc == driver-side lookup-sum; bad code / sized lut rejected") {
    val ks = 4
    // m=3 subspaces, ks=4 cells: lut laid out [s*ks + cell]
    val lut = (0 until 3 * ks).map(i => (i * 7 - 20).toLong)
    val rows = Seq(
      Seq(0L, 1L, 2L),
      Seq(3L, 3L, 3L),
      Seq(2L, 0L, 1L))
    val df = rows.map(c => (c, lut)).toDF("codes", "lut")
    val got = df.select(call_function("graft_pq_adc", col("codes"), col("lut"), lit(ks)))
      .as[Long].collect()
    val want = rows.map(c => c.zipWithIndex.map { case (code, s) =>
      lut(s * ks + code.toInt) }.sum)
    assert(got.toSeq == want)
    // code outside the codebook is corruption, not a zero
    val bad = Seq((Seq(0L, 4L, 0L), lut)).toDF("codes", "lut")
    val e = intercept[Exception] {
      bad.select(call_function("graft_pq_adc", col("codes"), col("lut"), lit(ks))).collect()
    }
    assert(e.getMessage != null)
    // lut length must be exactly m*ks
    val short = Seq((Seq(0L, 1L), lut)).toDF("codes", "lut")
    intercept[Exception] {
      short.select(call_function("graft_pq_adc", col("codes"), col("lut"), lit(ks))).collect()
    }
  }

  test("graft_ngrams == zip_with-of-slices bigrams and transform n-grams") {
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(spark, sf("")).limit(100)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .unionByName(Seq(
        (200001L, Seq[String]()),
        (200002L, Seq("solo")),
        (200003L, Seq("a", "b")),
        (200004L, Seq("x", "y", "z", "x", "y")))
        .toDF("doc_id", "toks"))
      .localCheckpoint()
    // n=2: the zip_with rendering bigramSurprisal/repetitionScore used
    val zw = docs.select(col("doc_id"), zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val k2 = docs.select(col("doc_id"),
        call_function("graft_ngrams", col("toks"), lit(2)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(zw == k2)
    // n=3: the transform(sequence) rendering
    val tr = docs.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), transform(sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val k3 = docs.select(col("doc_id"),
        call_function("graft_ngrams", col("toks"), lit(3)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    tr.foreach { case (id, g) => assert(k3(id) == g, s"doc $id") }
    k3.filterNot(x => tr.contains(x._1)).values.foreach(g => assert(g.isEmpty))
  }

  test("graft_max_ngram_ct == max count over the exploded concat_ws grams") {
    import graft.functions.TextFunctions.tokens
    // real corpus docs + constructed repeats/edges (size < n → 0)
    val docs = Tables.documents(spark, sf("")).limit(120)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .unionByName(Seq(
        (100001L, Seq("a", "b", "a", "b", "a", "b")),   // "a b" ×3 (overlapping)
        (100002L, Seq("x")),                            // < n tokens → 0
        (100003L, Seq("x", "y")),                       // exactly one bigram
        (100004L, Seq("t", "t", "t", "t")))             // "t t" ×3
        .toDF("doc_id", "toks"))
      .localCheckpoint()
    for (n <- Seq(2, 3, 4)) {
      val exploded = docs.filter(size(col("toks")) >= n)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(o => element_at(col("toks"), i + o)): _*)))
            .as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("ct"))
        .groupBy(col("doc_id")).agg(max(col("ct")).as("maxct"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kernel = docs
        .select(col("doc_id"),
          call_function("graft_max_ngram_ct", col("toks"), lit(n)).as("maxct"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      docs.select(col("doc_id")).collect().map(_.getLong(0)).foreach { id =>
        assert(kernel(id) == exploded.getOrElse(id, 0L), s"n=$n doc=$id")
      }
    }
  }
}
