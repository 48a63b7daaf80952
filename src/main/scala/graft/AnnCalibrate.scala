package graft

import org.apache.spark.sql.functions._

/** Recall calibration over the ANN sweep corpus: measures recall@k vs
  * brute force for a grid of operating points (LSH table/plane counts,
  * PQ/IVF-PQ rerank depths) WITHOUT the timing passes, so picking the
  * gated production configuration is a minutes-scale loop instead of a
  * full sweep per candidate. Prints one JSON line; writes nothing — the
  * recorded artifact stays `BenchScaleAnn`'s.
  *
  * Env: `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_SCALE_FACTOR` (default 10),
  * read by [[Sweep.ctx]]; `SPARK_GRAFT_ANN_PLANTED=1` calibrates on the
  * planted-cluster corpus (genuine neighbor structure) instead of the
  * adversarial random one.
  */
object AnnCalibrate {
  def main(args: Array[String]): Unit = {
    val c = Sweep.ctx(GraftSession.get(), Seq(10))
    val vecs =
      if (sys.env.get("SPARK_GRAFT_ANN_PLANTED").contains("1"))
        BenchScaleAnn.plantedVecsFrom(c.spark, c.sfDir)
      else BenchScaleAnn.scaledVecsFrom(c.spark, c.sfDir, c.factor)

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(pipeline.Similarity.bruteForceTopKFrom(vecs))

    val configs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "lsh_mt_b8_L16" -> (() => pipeline.Similarity.lshMultiTableTopKFrom(vecs, nPlanes = 8, nTables = 16)),
      "lsh_mt_b6_L8"  -> (() => pipeline.Similarity.lshMultiTableTopKFrom(vecs, nPlanes = 6, nTables = 8)),
      "lsh_mt_b5_L8"  -> (() => pipeline.Similarity.lshMultiTableTopKFrom(vecs, nPlanes = 5, nTables = 8)),
      "pq_t_rr50"     -> (() => pipeline.Similarity.pqTopKFrom(vecs, m = 32, iters = 2, rerankDepth = 50)),
      "pq_t_rr100"    -> (() => pipeline.Similarity.pqTopKFrom(vecs, m = 32, iters = 2, rerankDepth = 100)),
      "ivfpq_t_rr50"  -> (() => pipeline.Similarity.ivfPqTopKFrom(vecs, m = 32, nProbe = 3, iters = 2, rerankDepth = 50)),
      "ivfpq_t_rr100" -> (() => pipeline.Similarity.ivfPqTopKFrom(vecs, m = 32, nProbe = 3, iters = 2, rerankDepth = 100)))

    val out = configs.map { case (name, fn) =>
      val s = pairSet(fn())
      val r = (brute intersect s).size.toDouble / brute.size
      println(s"[calibrate] $name recall=$r candidates=${s.size}")
      name -> r
    }
    c.spark.stop()
    println(Sweep.render(Sweep.obj("metric" -> "ann_calibrate", "recall" -> Sweep.obj(out: _*))))
  }
}
