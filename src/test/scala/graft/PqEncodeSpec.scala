package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.expr.Kernels

/** Bit-equivalence of the `graft_pq_encode` kernel (r15) with the window
  * rendering it replaced: per (vector, subspace), the code is the cell of
  * `row_number over (round(dot/(|sub|·|cent|), 6) desc, cell asc) = 1`.
  * The kernel reimplements the dot/norm folds, Spark's Round-double
  * semantics, and the SQL double ordering — each asserted here against
  * Spark's own operators, including the NaN (zero-vector) and rounding-tie
  * edges that distinguish the orderings.
  */
class PqEncodeSpec extends SparkSpecBase {

  test("round6 matches Spark round(_, 6) on edge and random doubles") {
    val vals: Seq[Double] = Seq(
      0.0, -0.0, 1.0, -1.0, 0.1234565, -0.1234565, 0.12345649999,
      0.9999995, -0.9999995, 1e-7, -1e-7, 4.9e-7, 5.0e-7, 5.1e-7,
      0.5/0.0, -0.5/0.0, 0.0/0.0, 1.7976931348623157e308,
      2.5e-7, 3.5e-7, 0.33333333333, 0.66666666665, 123456.1234565) ++
      (1 to 500).map { i =>
        val r = new java.util.Random(i)
        (r.nextDouble() * 2 - 1) * math.pow(10, r.nextInt(6) - 3)
      }
    val df = spark.createDataFrame(vals.map(Tuple1(_))).toDF("x")
      .select(col("x"), round(col("x"), 6).as("r"))
    df.collect().foreach { row =>
      val x = row.getDouble(0); val sparkR = row.getDouble(1)
      val kernelR = Kernels.round6(x)
      assert(java.lang.Double.doubleToRawLongBits(sparkR) ==
        java.lang.Double.doubleToRawLongBits(kernelR) ||
        (sparkR.isNaN && kernelR.isNaN),
        s"round6($x): spark=$sparkR kernel=$kernelR")
    }
  }

  /** The old window rendering, verbatim (the pre-r15 `pqTrain.assign`),
    * over an (vec_id, emb) frame and an (cs, cell, c_sub, c_snrm)
    * codebook frame.
    */
  private def windowCodes(e: org.apache.spark.sql.DataFrame,
                          cents: org.apache.spark.sql.DataFrame,
                          m: Int, sd: Int): Map[(Long, Int), Long] = {
    import graft.functions.VectorFunctions.{cosineRFromNorms, norm}
    val sub = e.select(col("vec_id"),
        explode(array((0 until m).map(lit(_)): _*)).as("s"), col("emb"))
      .select(col("vec_id"), col("s"),
        slice(col("emb"), col("s") * sd + 1, lit(sd)).as("sub"))
      .select(col("vec_id"), col("s"), col("sub"), norm(col("sub")).as("snrm"))
    sub.join(broadcast(cents), col("s") === col("cs"))
      .select(col("vec_id"), col("s"), col("cell"),
        cosineRFromNorms(col("sub"), col("c_sub"), col("snrm"), col("c_snrm")).as("ccos"))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id"), col("s"))
          .orderBy(col("ccos").desc, col("cell").asc)))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("s"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
  }

  private def kernelCodes(e: org.apache.spark.sql.DataFrame,
                          cents: org.apache.spark.sql.DataFrame,
                          ks: Int): Map[(Long, Int), Long] = {
    val packed = cents
      .agg(array_sort(collect_list(struct(col("cs"), col("cell"),
        col("c_sub"), col("c_snrm")))).as("cbe"))
      .select(flatten(transform(col("cbe"), x => x.getField("c_sub"))).as("cbflat"),
        transform(col("cbe"), x => x.getField("c_snrm")).as("cbnorms"))
    e.join(broadcast(packed))
      .select(col("vec_id"),
        call_function("graft_pq_encode", col("emb"), col("cbflat"),
          col("cbnorms"), lit(ks)).as("pcodes"))
      .collect().flatMap { r =>
        r.getSeq[Long](1).zipWithIndex.map { case (c, s) => (r.getLong(0), s) -> c }
      }.toMap
  }

  private def centsOf(e: org.apache.spark.sql.DataFrame, m: Int, sd: Int,
                      ks: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.VectorFunctions.norm
    e.filter(col("vec_id") < ks)
      .select(col("vec_id"),
        explode(array((0 until m).map(lit(_)): _*)).as("s"), col("emb"))
      .select(col("vec_id"), col("s"),
        slice(col("emb"), col("s") * sd + 1, lit(sd)).as("sub"))
      .select(col("s").as("cs"), col("vec_id").as("cell"),
        col("sub").as("c_sub"), norm(col("sub")).as("c_snrm"))
  }

  test("kernel codes == window codes on the real embeddings (m=16 and m=32)") {
    val e = Tables.embeddings(spark, sf("")).limit(300)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .localCheckpoint()
    for ((m, ks) <- Seq((16, 16), (32, 16))) {
      val dim = e.select(size(col("emb"))).head.getInt(0)
      val sd = dim / m
      val cents = centsOf(e, m, sd, ks).localCheckpoint()
      val w = windowCodes(e, cents, m, sd)
      val k = kernelCodes(e, cents, ks)
      assert(w.nonEmpty && w == k, s"m=$m: kernel/window code mismatch")
    }
  }

  test("kernel matches window on exact ties (tie → low cell)") {
    // 4 vectors of dim 4, m=2 subspaces of sd=2; vec 0/1 are the codebook.
    // vec 3 ties cells 0/1 exactly in subspace 0 (its subvector is a
    // positive scalar multiple of both? no — it equals cell 0's direction;
    // the tie case is cosine 1.0 vs 1.0 after 6dp rounding when directions
    // coincide): scaled copies of a centroid direction round to the same
    // 6dp cosine against it, exercising the cell-asc tie-break.
    val rows = Seq(
      (0L, Seq(1.0, 1.0, 1.0, 0.0)),
      (1L, Seq(1.0, 1.0, 0.0, 1.0)),   // subspace 0 identical to cell 0 → exact tie
      (2L, Seq(0.5, 0.5, 2.0, 2.0)),
      (3L, Seq(3.0, 3.0, -3.0, 3.0)))
    val e = spark.createDataFrame(rows).toDF("vec_id", "emb").localCheckpoint()
    val cents = centsOf(e, 2, 2, 2).localCheckpoint()
    val w = windowCodes(e, cents, 2, 2)
    val k = kernelCodes(e, cents, 2)
    assert(w == k, s"edge-case mismatch: window=$w kernel=$k")
    // subspace-0 cosine of every vector against BOTH cells is 1.0 (all
    // share direction (1,1)) → tie broken to cell 0 in both renderings
    assert(k((2L, 0)) == 0L && k((3L, 0)) == 0L)
  }

  test("kernel fails loudly on zero-norm subvectors, like ANSI division") {
    // the window rendering throws DIVIDE_BY_ZERO under the session's ANSI
    // mode when a subvector/centroid norm is exactly 0 — the kernel must
    // fail equally loudly, never silently score NaN
    val rows = Seq(
      (0L, Seq(1.0, 0.0, 1.0, 1.0)),
      (1L, Seq(0.0, 1.0, -1.0, 1.0)),
      (2L, Seq(0.3, -0.7, 0.0, 0.0)))  // zero second subvector
    val e = spark.createDataFrame(rows).toDF("vec_id", "emb").localCheckpoint()
    val cents = centsOf(e, 2, 2, 2).localCheckpoint()
    val winErr = intercept[Exception] { windowCodes(e, cents, 2, 2) }
    val kerErr = intercept[Exception] { kernelCodes(e, cents, 2) }
    assert(winErr.getMessage != null && kerErr.getMessage != null)
  }

  test("pq family oracle shape: pqTopKFrom unchanged row set at sf0.001") {
    // full-path smoke: the rewritten train/encode produces the same top-k
    // as re-deriving it from the window codes would — asserted indirectly
    // by the oracle gate; here: deterministic, full rows, self-consistent
    val out = pipeline.Similarity.pqTopK(spark, sf(""), nQueries = 4, k = 3)
      .collect()
    assert(out.length == 12)
    val out2 = pipeline.Similarity.pqTopK(spark, sf(""), nQueries = 4, k = 3)
      .collect()
    assert(out.map(_.toString).sorted.sameElements(out2.map(_.toString).sorted))
  }
}
