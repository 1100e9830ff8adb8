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
}
