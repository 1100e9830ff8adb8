package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The IVF build-once / probe-many contract: writing the index artifacts
  * (centroids + inverted lists) to parquet and probing from the RELOADED
  * tables must reproduce the in-plan sim_ivf output row-for-row, and the
  * probe must touch only the probed lists (cid partition pruning). */
class IvfPersistSpec extends graft.SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("probe from stored artifacts == in-plan sim_ivf, row for row") {
    val dir = Files.createTempDirectory("ivf").toString
    val ivf = Similarity.Ivf.stored(spark, sf)()
    ivf.cents.write.mode("overwrite").parquet(s"$dir/centroids")
    ivf.lists().write.mode("overwrite").partitionBy("cid").parquet(s"$dir/invlists")

    val queries = graft.Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") < 20)
    val fromDisk = Similarity.ivfProbe(
        queries,
        spark.read.parquet(s"$dir/centroids"),
        spark.read.parquet(s"$dir/invlists"))
      .collect().map(_.toString).toSeq

    val inPlan = graft.SparkEntry.queries("sim_ivf")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromDisk.nonEmpty)
    assert(fromDisk === inPlan, "stored-index probe diverged from in-plan IVF")
  }

  /** The refresh case on a store addressed as `prefix + dir`: "" for a
    * plain local path, "file:" for the same directory as a URI — the
    * form an hdfs: or s3a: store takes, where a java.io.File does not
    * reach the store. */
  private def refreshCase(prefix: String): Unit = {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivf3").toString + "/invlists"
    val store = prefix + dir
    // dim-4 synthetic with drift BY CONSTRUCTION: lists on axes e1/e2/e3;
    // the refreshed quantizer replaces e3 with e4, which moves the
    // c-vectors (0, 0.6, 0.8, 0) from list 2 to list 1 (cos 0.6 vs 0) —
    // list 0 is untouched by the refresh
    def f(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val vecs = (
      (1L to 3L).map(i => (i, f(1, 0, 0, 0))) ++
      (11L to 13L).map(i => (i, f(0, 1, 0, 0))) ++
      (21L to 23L).map(i => (i, f(0, 0.6, 0.8, 0)))
    ).toDF("vec_id", "embedding")
    def cents(third: Seq[Double]): org.apache.spark.sql.DataFrame =
      Seq((0L, Seq(1.0, 0, 0, 0)), (1L, Seq(0.0, 1, 0, 0)), (2L, third))
        .toDF("cid", "cv")
        .withColumn("cn", graft.functions.DotProduct(col("cv"), col("cv")))
    Similarity.assignAgainstCentroids(vecs, cents(Seq(0.0, 0, 1, 0)))
      .write.partitionBy("cid").parquet(store)

    def files(cid: Long) = Option(new java.io.File(dir, s"cid=$cid")
      .listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
      .map(p => p.getName -> p.lastModified()).sorted.toSeq
    val untouchedBefore = files(0L)
    assert(files(2L).nonEmpty, "list 2 must exist before the refresh")

    val newCents = cents(Seq(0.0, 0, 0, 1))
    val n = Similarity.applyQuantizerRefresh(spark, store, newCents)
    assert(n === 2L, s"drift touches lists 1 and 2 only, got $n")

    // the store now IS the full re-assignment against the new centroids
    val got = spark.read.parquet(store)
      .select(col("cid").cast("long"), col("nid"), col("nn"))
      .collect().map(_.toString).sorted.toSeq
    val want = Similarity.assignAgainstCentroids(vecs, newCents)
      .select(col("cid"), col("nid"), col("nn"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
    // list 0's bytes were never rewritten; list 2 drained completely and
    // its partition is gone (its survivors would otherwise double-count)
    assert(files(0L) === untouchedBefore, "untouched list was rewritten")
    assert(files(2L).isEmpty, "drained list left stale rows behind")
    // idempotence: re-applying the same centroids is a no-op write
    assert(Similarity.applyQuantizerRefresh(spark, store, newCents) === 0L)
  }

  test("applying a refresh rewrites only drift-touched lists and lands " +
    "on the full re-assignment") {
    refreshCase("")
  }

  test("a refresh on a file: URI store drops the drained list too") {
    refreshCase("file:")
  }

  test("probing a stored index prunes the inverted-list scan to the probed cids") {
    val dir = Files.createTempDirectory("ivf2").toString
    val ivf = Similarity.Ivf.stored(spark, sf)()
    ivf.cents.write.mode("overwrite").parquet(s"$dir/centroids")
    ivf.lists().write.mode("overwrite").partitionBy("cid").parquet(s"$dir/invlists")

    // one query vector, nprobe=2 of 16 lists → the scan must carry a
    // partition filter on cid (not read all 16 partitions)
    val one = graft.Tables.t(spark, sf, "embeddings").filter(col("vec_id") === 3)
    val probed = Similarity.ivfProbe(one,
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/invlists"), nprobe = 2)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cid"),
      s"inverted-list scan is not partition-pruned by cid:\n$plan")
  }
}
