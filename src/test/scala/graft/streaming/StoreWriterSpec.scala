package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The invariants the shared store writers own, checked on their own:
  * [[Streams.sinkBatch]] (through [[graft.sources.Sinks.overwritePartitions]])
  * keeps dynamic overwrite scoped to its own write, and [[Streams.replay]]
  * delivers exactly the batch sequence every stream twin relies on. */
class StoreWriterSpec extends graft.SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def batchIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  test("a batch write replaces only its own partitions and leaves the " +
    "session's overwrite mode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(key)
    val store = tmp("graft-sink-batch")
    Streams.sinkBatch(Seq((1L, "a"), (2L, "b")).toDF("day", "v"), 0L, store, "day")
    Streams.sinkBatch(Seq((1L, "c")).toDF("day", "v"), 1L, store, "day")
    // redelivery of batch 0 with one day only: (day=1, batch 0) is
    // replaced, (day=2, batch 0) — not in this write — is kept
    Streams.sinkBatch(Seq((1L, "a2")).toDF("day", "v"), 0L, store, "day")
    val rows = spark.read.parquet(store)
      .select(col("day").cast("long"), col("batch_id").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(rows === Seq((1L, 0L, "a2"), (1L, 1L, "c"), (2L, 0L, "b")))

    assert(spark.conf.getOption(key) === modeBefore,
      "the batch writer changed the session's partition overwrite mode")
    // a later plain partitioned overwrite on the same session still
    // replaces the whole directory, every partition included
    val other = tmp("graft-plain-overwrite")
    Seq(0L, 1L, 2L).toDF("batch_id").withColumn("v", lit("old"))
      .write.mode("overwrite").partitionBy("batch_id").parquet(other)
    Seq(5L).toDF("batch_id").withColumn("v", lit("new"))
      .write.mode("overwrite").partitionBy("batch_id").parquet(other)
    assert(batchIds(other) === Seq(5L))
  }

  test("replay delivers batches 0 … n-1 then the redelivered one, and " +
    "the first n batches partition the input exactly") {
    // adversarial keys: negatives, duplicates, a key of 0 and keys past n
    val keys = Seq(-7L, -3L, -3L, -1L, 0L, 0L, 1L, 2L, 5L, 6L, 9L, 10L, 11L, 42L)
    val input = keys.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "row")
    for ((n, again) <- Seq((3L, 1L), (2L, 0L), (1L, 0L))) {
      val seen = Seq.newBuilder[(Long, Seq[Int])]
      Streams.replay(input, "k", n, again) { (b: DataFrame, id: Long) =>
        seen += id -> b.select("row").as[Int].collect().sorted.toSeq
      }
      val calls = seen.result()
      assert(calls.map(_._1) === (0L until n) :+ again, s"n=$n")
      val firstN = calls.take(n.toInt)
      assert(firstN.flatMap(_._2).sorted === keys.indices,
        s"n=$n: the first $n batches are not a partition of the input")
      assert(calls.last._2 === firstN(again.toInt)._2,
        s"n=$n: the redelivery is not batch $again")
    }
  }
}
