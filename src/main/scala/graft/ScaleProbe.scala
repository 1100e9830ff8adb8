package graft

/** Third-scale-point measurement for the nlist∝n SHIPPED DEFAULT (r17
  * order #4): times the two documented frozen-nlist steepeners
  * (`jx_knn_centrality` / `mm_semantic_dedup`-shaped calls) at nlist=16
  * (the oracle-frozen driver knob) and at [[graft.llm.Similarity
  * .AutoNlist]] (the size-derived library default) on the corpus under
  * SPARK_GRAFT_SF_DIR — normally the tools/gen_scale.py ~10×-of-sf0.1
  * corpus, where sim_nlist_tuning's Σ|list|² census predicts ~10× less
  * candidate work at nlist≈4√n. Emits one JSON line; the numbers are
  * recorded in SCALING.md. Measurement-only: no oracle reads this. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val embs = Tables.t(spark, sfDir, "embeddings")
    val docs = Tables.t(spark, sfDir, "documents")
    val n = embs.count()
    val auto = llm.Similarity.autoNlist(n)
    def d1(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    import llm.Similarity.{Ivf, KnnGraph, knnCentrality, semanticDedup}
    def mmDedup(nlist: Int) =
      semanticDedup(Ivf.of(llm.Multimodal.payloadVecsOf(docs), nlist), tau = 0.999)
    val rows = Seq(
      "knn_centrality_16" -> time(knnCentrality(KnnGraph.of(embs, nlist = 16)).count()),
      "knn_centrality_auto" -> time(knnCentrality(KnnGraph.of(embs)).count()),
      "mm_semantic_dedup_16" -> time(mmDedup(16).count()),
      "mm_semantic_dedup_auto" -> time(mmDedup(llm.Similarity.AutoNlist).count()))
    println(rows.map { case (k, v) => s""""$k":${d1(v)}""" }
      .mkString(s"""{"n_vecs":$n,"auto_nlist":$auto,""", ",", s""","sf_dir":"$sfDir"}"""))
    spark.stop()
  }
}
