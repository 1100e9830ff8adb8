package graft.llm

import org.apache.spark.sql.functions._

/** Product-quantization invariants the oracle can't see: code shape
  * (every vector gets exactly M codes drawn from the live codebook) and
  * the Lloyd guarantee (total quantization error is non-increasing across
  * iterations — a wrong mean or a broken argmin both show up here). */
class PqSpec extends graft.SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every vector encodes to 8 codes from the live codebook") {
    val (sub, cents, codes) = Similarity.pqParts(spark, sf)
    val nVecs = sub.select("vec_id").distinct().count()
    assert(codes.count() === nVecs * 8)
    // every (m, cid) a vector references exists in the final codebook
    val orphans = codes.join(cents.select("m", "cid"), Seq("m", "cid"), "left_anti")
    assert(orphans.isEmpty, "codes reference centroids not in the codebook")
    // codes stay inside the seeded id range
    val range = codes.agg(min("cid"), max("cid")).head()
    assert(range.getLong(0) >= 0L && range.getLong(1) < 16L)
  }

  test("SQ8: dequantization error is bounded by half a step and the " +
    "approximate top-5 recalls the exact-dot top-5") {
    import spark.implicits._
    val vecs = graft.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val dims = vecs.values.head.length
    val mn = (0 until dims).map(i => vecs.values.map(_(i)).min)
    val mx = (0 until dims).map(i => vecs.values.map(_(i)).max)
    // the per-dim linear code round-trips within half a quantization step
    vecs.values.take(50).foreach { v =>
      (0 until dims).foreach { i =>
        val d = mx(i) - mn(i)
        if (d > 0) {
          val c = math.min(255L, math.max(0L,
            math.floor((v(i) - mn(i)) * 255.0 / d + 0.5).toLong))
          val xhat = mn(i) + c * d / 255.0
          assert(math.abs(xhat - v(i)) <= d / 510.0 + 1e-12,
            s"dim $i decode error over half a step")
        }
      }
    }
    // recall@5 vs the exact dot-product top-5 (same metric, unquantized)
    val approx = graft.SparkEntry.queries("sim_sq8")(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("nid")).toSet }
    val hits = approx.map { case (q, ids) =>
      val qv = vecs(q)
      val exact = vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) => (n, qv.zip(v).map { case (a, b) => a * b }.sum) }
        .sortBy { case (n, dt) => (-dt, n) }.take(5).map(_._1).toSet
      (ids & exact).size
    }.sum
    val recall = hits.toDouble / (approx.size * 5)
    assert(recall >= 0.9, s"SQ8 recall@5 vs exact dot = $recall")
  }

  test("two Lloyd iterations do not increase total quantization error") {
    val (sub, _, codes) = Similarity.pqParts(spark, sf)
    def totalErr(assigned: org.apache.spark.sql.DataFrame): Double =
      assigned.agg(sum("dist")).head().getDouble(0)
    val err0 = totalErr(Similarity.pqAssign(sub, Similarity.pqSeed(sub)))
    val err2 = totalErr(codes)
    assert(err2 <= err0 + 1e-9,
      s"Lloyd increased quantization error: $err0 -> $err2")
    // and it strictly improves on this corpus (seeds are arbitrary vecs)
    assert(err2 < err0, s"refinement had no effect: $err0 -> $err2")
  }
}
