package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.pipeline.Dedup

class TextDedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("tokenizer never throws and drops empties (U1 contract)") {
    val df = Seq("", "  ", "a  b\tc", "ONE two").toDF("text")
    val got = df.select(tokens($"text").as("t")).as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq(), Seq(), Seq("a", "b", "c"), Seq("one", "two")))
  }

  test("quality ratios are bounded and safe on empty text") {
    val df = Seq("", "aa bb aa", "!!!").toDF("text")
    val rows = df.select(
      punctRatio($"text"), stopwordRatio($"text"), uniqueTokenRatio($"text"))
      .as[(Double, Double, Double)].collect()
    rows.foreach { case (p, s, u) =>
      assert(p >= 0 && p <= 1 && s >= 0 && s <= 1 && u >= 0 && u <= 1)
    }
    assert(rows(1)._3 == 0.666667) // 2 distinct / 3 tokens, rounded 6dp
  }

  test("exact dedup groups identical normalized texts") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = df.groupBy(fingerprint($"text").as("fp"))
      .agg(min($"doc_id").as("canonical"), count(lit(1)).as("ct"))
      .orderBy("canonical")
      .as[(String, Long, Long)].collect().toSeq
    assert(out.map(r => (r._2, r._3)) == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val sigs = docs.select($"doc_id", Dedup.minhashSignature($"text").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    def est(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size
    assert(est(sigs(1L), sigs(2L)) > 0.5, "near-dup pair should share most slots")
    assert(est(sigs(1L), sigs(3L)) < 0.2, "unrelated pair should share few slots")
  }

  test("Scala firstSharedBand and estJaccard agree with bandKeys and the estJaccard column") {
    // the streaming near-dup operator runs the Scala twins; over real
    // signature pairs they must give what the batch paths' columns give.
    // The real near-dups all share band 0, so synthetic pairs whose first
    // b bands differ (and one that shares none) cover the later bands
    val sigs = Dedup.signatureTable(spark, "/root/testdata/sf0.001").filter($"doc_id" < 150)
    val real = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.sig".as("sa"), $"b.sig".as("sb"), lit(true).as("real"))
    val ramp = (0L until 64L).toSeq
    val synthetic = (0 to Dedup.Bands).map(b =>
      (ramp, ramp.map(x => if (x < b * Dedup.RowsPerBand) x + 100 else x), false))
      .toDF("sa", "sb", "real")
    val pairs = real.union(synthetic)
      .select($"sa", $"sb", Dedup.bandKeys($"sa"), Dedup.bandKeys($"sb"),
        Dedup.estJaccard($"sa", $"sb"), $"real")
      .as[(Seq[Long], Seq[Long], Seq[String], Seq[String], Double, Boolean)].collect()
    val firstBands = pairs.map { case (sa, sb, ka, kb, _, _) =>
      (Dedup.firstSharedBand(sa, sb), ka.indices.find(i => ka(i) == kb(i))) }
    assert(firstBands.forall { case (got, want) => got == want },
      s"firstSharedBand drifted: ${firstBands.filter(p => p._1 != p._2).take(5).toSeq}")
    assert(firstBands.map(_._2).toSet == (0 until Dedup.Bands).map(Option(_)).toSet + None)
    val ests = pairs.map { case (sa, sb, _, _, est, _) => (Dedup.estJaccard(sa, sb), est) }
    assert(ests.forall { case (got, want) => got == want },
      s"estJaccard drifted: ${ests.filter(p => p._1 != p._2).take(5).toSeq}")
    // non-vacuous: real pairs above the cut and below it
    val realEsts = pairs.filter(_._6).map(_._5)
    assert(realEsts.exists(_ >= 0.5) && realEsts.exists(e => e > 0 && e < 0.5))
  }

  test("simhash: identical texts collide, disjoint texts differ") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
      .toDF("doc_id", "text")
    val m = df.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("cosine: orthogonal=0, identical=1, on float arrays") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b")
    val got = df.select(VectorFunctions.cosineR($"a", $"b")).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("CDC envelope parse normalizes ops and drops deletes") {
    val raw = Seq(
      """{"database":"d","tableName":"t","before":null,"after":"{\"id\":1}","type":"create"}""",
      """{"database":"d","tableName":"t","before":"{\"id\":1}","after":null,"type":"delete"}""",
      "not json at all")
      .toDF("value")
    val env = graft.sources.Cdc.parseEnvelope(raw)
    val ops = env.select("type").as[String].collect().toSeq
    assert(ops.contains("insert") && ops.contains("delete"))
    val kept = graft.sources.Cdc.dropDeletes(env)
    assert(kept.filter($"type" === "insert").count() == 1)
    assert(kept.filter($"type" === "delete").count() == 0)
  }

  test("DimStore upsert is last-write-wins by version") {
    val dir = java.nio.file.Files.createTempDirectory("dimstore").toString
    val store = new graft.sources.DimStore(spark, dir)
    store.upsert("dim_user", Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "name", "v"),
      "id", "v")
    store.upsert("dim_user", Seq((1L, "a2", 2L)).toDF("id", "name", "v"), "id", "v")
    val rows = store.read("dim_user").get.orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "a2", 2L), (2L, "b", 1L)))
    assert(store.lookup("dim_user", "id", 1L).head.getString(1) == "a2")
  }

  test("DimStore bucketed upsert rewrites only the touched buckets") {
    val dir = java.nio.file.Files.createTempDirectory("dimstore_bucketed").toString
    val store = new graft.sources.DimStore(spark, dir)
    // 64 keys across the default 16 buckets
    store.upsert("dim_user",
      (1L to 64L).map(i => (i, s"n$i", 1L)).toDF("id", "name", "v"), "id", "v")
    def snapshot(): Map[String, String] = {
      val root = java.nio.file.Paths.get(dir, "dim_user")
      val md = java.security.MessageDigest.getInstance("MD5")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          md.digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString)
        .toMap
    }
    val before = snapshot()
    assert(before.keys.exists(_.startsWith("graft_bucket=")), s"bucket layout missing: ${before.keys}")
    // key 7's bucket, read off the bucket dirs (partition discovery)
    val touched = spark.read.parquet(s"$dir/dim_user").filter(col("id") === 7L)
      .select("graft_bucket").head.getInt(0)
    // single-key upsert: only key 7's bucket may change
    store.upsert("dim_user", Seq((7L, "updated", 2L)).toDF("id", "name", "v"), "id", "v")
    val after = snapshot()
    val untouchedBefore = before.filter(!_._1.startsWith(s"graft_bucket=$touched"))
    val untouchedAfter = after.filter(!_._1.startsWith(s"graft_bucket=$touched"))
    assert(untouchedAfter == untouchedBefore,
      "untouched bucket files changed: " +
        (untouchedBefore.toSet diff untouchedAfter.toSet))
    assert(after.keys.count(_.startsWith(s"graft_bucket=$touched")) > 0)
    // semantics unchanged: updated row visible, row count stable
    assert(store.lookup("dim_user", "id", 7L).head.getString(1) == "updated")
    assert(store.read("dim_user").get.count() == 64)
  }

  test("DimStore.read of a meta-only dir (crash before first bucket write) is an empty store") {
    // the table dir exists but holds no bucket yet
    val dir = java.nio.file.Files.createTempDirectory("dimstore_metaonly").toString
    val store = new graft.sources.DimStore(spark, dir)
    new java.io.File(s"$dir/dim_user").mkdirs()
    assert(store.read("dim_user").isEmpty, "a table dir with no bucket must read as empty, not throw")
    assert(store.lookup("dim_user", "id", 1L).isEmpty)
    // and the next upsert proceeds normally from the empty state
    store.upsert("dim_user", Seq((1L, "a", 1L)).toDF("id", "name", "v"), "id", "v")
    assert(store.read("dim_user").get.count() == 1)
  }

  test("DimStore buckets the same logical key identically across numeric types") {
    val dir = java.nio.file.Files.createTempDirectory("dimstore_keytypes").toString
    val store = new graft.sources.DimStore(spark, dir)
    store.upsert("dim_user", Seq((7L, "as_long", 1L)).toDF("id", "name", "v"), "id", "v")
    // same logical key arrives as Double in the next batch: it must land in
    // the SAME bucket so the versioned dedup can collapse it — a raw string
    // cast ("7.0" vs "7") would leave duplicate key 7 in two buckets
    store.upsert("dim_user", Seq((7.0d, "as_double", 2L)).toDF("id", "name", "v"), "id", "v")
    val rows = store.read("dim_user").get.collect()
    assert(rows.length == 1, s"duplicate key across buckets: ${rows.mkString(", ")}")
    assert(rows.head.getString(1) == "as_double", "highest version must win")
    // fractional keys stay distinct from their floor
    store.upsert("dim_user", Seq((7.5d, "frac", 1L)).toDF("id", "name", "v"), "id", "v")
    assert(store.read("dim_user").get.count() == 2)
    // zero is the decimal-rendering trap (BigDecimal's "0E-9"): Long 0 and
    // Double 0.0 must still collide
    store.upsert("dim_user", Seq((0L, "zero_long", 1L)).toDF("id", "name", "v"), "id", "v")
    store.upsert("dim_user", Seq((0.0d, "zero_double", 2L)).toDF("id", "name", "v"), "id", "v")
    val zero = store.read("dim_user").get.filter("id = 0").collect()
    assert(zero.length == 1 && zero.head.getString(1) == "zero_double",
      s"zero key split across buckets: ${zero.mkString(", ")}")
  }
}
