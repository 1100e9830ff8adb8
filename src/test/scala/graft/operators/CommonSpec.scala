package graft.operators

import org.apache.spark.sql.functions._

/** `Common.spreadScan` decides from the logical plan and a scan's split
  * count, so the probe itself never runs a Spark job: not on a
  * scan-shaped frame, and not on a composed frame it leaves alone. */
class CommonSpec extends graft.SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("spreadScan probes a scan-shaped frame with zero jobs and spreads it") {
    val scan = graft.Tables.t(spark, sf, "documents")
      .filter(col("doc_id") >= 0).select("doc_id", "text")
    var spread: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { spread = Common.spreadScan(scan) } === 0)
    assert(spread.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
  }

  test("spreadScan leaves a composed frame as is, with zero jobs") {
    val composed = graft.Tables.t(spark, sf, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .join(graft.Tables.t(spark, sf, "documents"), Seq("source"))
    var out: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { out = Common.spreadScan(composed) } === 0)
    assert(out eq composed)
  }

  test("materialize runs its jobs under its label and restores the caller's description") {
    val sc = spark.sparkContext
    val df = spark.range(200).groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
    for (caller <- Seq(Some("the caller's description"), None)) {
      sc.setLocalProperty("spark.job.description", caller.orNull)
      try {
        var out: org.apache.spark.sql.DataFrame = null
        val labels = jobLabelsDuring { out = Common.materialize(df, "common.test_label") }
        assert(labels.nonEmpty && labels.forall(_ === Some("common.test_label")), labels)
        assert(Option(sc.getLocalProperty("spark.job.description")) === caller)
        // the materialized frame reads the computed rows: its actions run
        // under the caller's description again
        assert(jobLabelsDuring(assert(out.count() === 7)).toSet === Set(caller))
        // a failing materialization restores it too
        intercept[Exception](Common.materialize(
          spark.range(1).select(raise_error(lit("boom"))), "common.failing"))
        assert(Option(sc.getLocalProperty("spark.job.description")) === caller)
      } finally sc.setLocalProperty("spark.job.description", null)
    }
  }
}
