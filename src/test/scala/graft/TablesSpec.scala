package graft

import org.apache.spark.sql.functions._

/** Table and store resolution reads the schema from a parquet footer
  * in-process: the schema must be exactly the one `spark.read.parquet`
  * infers, and resolving must not start a Spark job. */
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

  private def withTempDir(body: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toFile
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("the footer lookup runs no job on a store past the parallel-listing threshold") {
    withTempDir { dir =>
      val p = s"$dir/wide"
      spark.range(40).select(col("id").as("cid"), lit(1L).as("batch_id"),
          (col("id") * 2).as("v"))
        .write.partitionBy("cid", "batch_id").parquet(p)
      // more partition directories than Spark lists without a job
      assert(new java.io.File(p).list().count(_.startsWith("cid=")) >
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
      assert(jobsDuring(org.apache.spark.sql.graft.FooterSchema.of(spark, p)) === 0)
      assert(footerRead(p) === spark.read.parquet(p).schema)
    }
  }

  test("Tables.parquet reads a streamed sketch store like spark.read.parquet") {
    withTempDir { dir =>
      val p = s"$dir/sketch"
      // two batches, then a redelivery of batch 0
      graft.streaming.Streams.replay(Tables.events(spark, sf)
          .filter(col("ts") < lit("2024-01-04").cast("timestamp")), "event_id", 2, again = 0)(
        graft.streaming.Streams.sketchStoreSink(_, _, p))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("day", "batch_id", "event_type").collect().toSeq
      val ours = Tables.parquet(spark, p)
      val plain = spark.read.parquet(p)
      assert(ours.schema === plain.schema)
      assert(rows(ours) === rows(plain))
      assert(rows(ours).map(_.getAs[Int]("batch_id")).distinct.sorted === Seq(0, 1))
    }
  }

  test("a store readout resolves with no Spark job") {
    withTempDir { dir =>
      val p = s"$dir/sq8"
      graft.streaming.Streams.replay(Tables.embeddings(spark, sf), "vec_id", 2, again = 0)(
        graft.streaming.Streams.sq8StatsSink(_, _, p))
      assert(jobsDuring(graft.streaming.Streams.sq8StatsReadout(spark, p)) === 0)
    }
  }

  test("Tables.parquet on a path without a data file fails with Spark's own error") {
    withTempDir { dir =>
      intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, dir.toString))
      intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, s"$dir/missing"))
    }
  }
}
