package graft.operators

import org.apache.spark.sql.functions._

/** Semantic pins behind the r17 census keys:
  *
  *  - `join_range_tuning` reports the matched-pair count once (via the
  *    production width); its width-INVARIANCE claim — every true pair
  *    survives any banding, narrower bands only cut false candidates —
  *    is pinned here by materializing the banded join at every knob.
  *  - `stream_upsert_asof` must equal applying the change-feed prefix
  *    directly (no store), and a LATER batch's rows must not leak into
  *    the historical read.
  */
class TuningSpec extends graft.SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("banded range join: matched pairs are width-invariant (the census " +
    "only ever trades replication against false candidates)") {
    val ev = graft.Tables.t(spark, sf, "events").select("event_id", "value")
    val iv = graft.Tables.t(spark, sf, "events")
      .groupBy(col("user_id").as("uid"))
      .agg(min("value").as("lo"), max("value").as("hi"))
    val counts = Seq(5.0, 25.0, 100.0, 400.0).map { w =>
      Relational.bandedRangeJoin(ev, "value", iv, "lo", "hi", w).count()
    }
    assert(counts.distinct.size === 1,
      s"matched count moved with band width: $counts")
    assert(counts.head > 0)
  }

  test("banded per-interval aggregation equals the materialized candidate " +
    "join at every width (r19: join_range_banded computes count/sum from " +
    "inner-band partials + boundary rows, never the 148M-row candidate set)") {
    val ev = graft.Tables.t(spark, sf, "events")
    val iv = ev.groupBy(col("user_id").as("uid"))
      .agg(min("value").as("lo"), max("value").as("hi"))
    // n is exact; the sums add the same values in another association,
    // so they agree to a relative 1e-9 (rounding both to 2 places would
    // flip whenever a sum lands on a .xx5 boundary)
    def byUid(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
      df.collect().map(r => r.getAs[Long]("uid") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("sum_v")))).toMap
    val direct = byUid(Relational
      .bandedRangeJoin(ev.select("event_id", "value"), "value", iv, "lo", "hi", 25.0)
      .groupBy("uid")
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v")))
    assert(direct.nonEmpty)
    for (w <- Seq(1.0, 5.0, 25.0, 400.0)) {
      val fast = byUid(Relational.bandedRangeAggByUid(ev, w)
        .select(col("uid"), col("n"), col("sum_v_raw").as("sum_v")))
      assert(fast.keySet === direct.keySet, s"width $w")
      direct.foreach { case (uid, (n, sumV)) =>
        val (fn, fsum) = fast(uid)
        assert(fn === n, s"width $w uid $uid n")
        assert(math.abs(fsum - sumV) <= 1e-9 * math.max(math.abs(sumV), 1.0),
          s"width $w uid $uid sum $fsum vs $sumV")
      }
    }
  }

  test("ST26b as-of read equals the direct prefix apply and excludes " +
    "later batches") {
    val base = graft.Tables.t(spark, sf, "orders")
    val asof = graft.streaming.Streams.streamUpsertAsof(spark, sf)
      .collect().toSeq
    val direct = graft.etl.Transforms.cdcApply(base,
      graft.etl.Transforms.cdcChangesOf(base)
        .filter(col("o_orderkey") % 3 <= 1)).collect().toSeq
    assert(asof === direct)
    // the full-store readout (all batches) must differ from the k=1
    // prefix — proof the as-of filter actually excludes batch 2
    val full = graft.streaming.Streams.streamCdcStore(spark, sf)
      .collect().toSeq
    assert(asof !== full)
  }
}
