package graft

import org.apache.spark.sql.functions._

/** Table resolution reads the schema from a parquet footer in-process:
  * the schema must be exactly the one `spark.read.parquet` infers, and
  * resolving must not start a Spark job. */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private val names = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  private def footerRead(path: String) = {
    val schema = org.apache.spark.sql.graft.FooterSchema.of(spark, path)
    assert(schema.isDefined, s"no footer schema for $path")
    spark.read.schema(schema.get).parquet(path).schema
  }

  test("footer schema equals spark.read.parquet's for every sf0.01 table") {
    names.foreach { n =>
      val p = s"$sf/$n.parquet"
      assert(footerRead(p) === spark.read.parquet(p).schema, n)
    }
  }

  test("footer schema equals spark.read.parquet's for a partitioned store") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toFile
    try {
      val p = s"$dir/store.parquet"
      graft.operators.Aggregates.sketchPartialsOf(Tables.t(spark, sf, "events")
          .filter(col("ts") < lit("2024-01-04").cast("timestamp")))
        .withColumn("batch_id", lit(7L))
        .write.partitionBy("day", "batch_id").parquet(p)
      assert(footerRead(p) === spark.read.parquet(p).schema)
      assert(jobsDuring(Tables.t(spark, dir.toString, "store")) === 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("resolving a table runs no Spark job") {
    // the counter sees the inference job a plain read runs
    assert(jobsDuring(spark.read.parquet(s"$sf/region.parquet")) >= 1)
    names.foreach(n => assert(jobsDuring(Tables.t(spark, sf, n)) === 0, n))
  }

  test("a path without a data file still fails with Spark's own error") {
    intercept[org.apache.spark.sql.AnalysisException](Tables.t(spark, sf, "no_such_table"))
  }
}
