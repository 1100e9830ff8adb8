package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams.Ev

/** MemoryStream / file-source executions of every streaming capability
  * (SURVEY.md §2.8 ST1–ST5) — the streaming code actually runs here, not
  * just its batch twin. */
class StreamsSpec extends graft.SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("ST2: tumbling windows finalize under watermark in append mode") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.tumblingCountsStream(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("st2").outputMode("append").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:01:00"), "click", 1.0),
        Ev(1, ts("2024-01-01 00:04:00"), "click", 2.0))
      q.processAllAvailable()
      // watermark still below window end: nothing finalized yet
      assert(spark.table("st2").count() === 0)
      // an event an hour later pushes the watermark past the first window
      in.addData(Ev(2, ts("2024-01-01 01:00:00"), "click", 3.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts("2024-01-01 01:30:00"), "click", 4.0))
      q.processAllAvailable()
      // two windows are now final: [00:00,00:10) and [01:00,01:10)
      val first = spark.table("st2")
        .filter(col("w_start") === ts("2024-01-01 00:00:00")).collect()
      assert(first.length === 1)
      assert(first.head.getAs[Long]("n") === 2L)
      assert(first.head.getAs[Double]("sum_value") === 3.0)
      assert(spark.table("st2").count() === 2)
    } finally q.stop()
  }

  test("ST2->S5: the full reference pipeline shape — stream, window, ES daily index") {
    // stream -> tumbling agg -> foreachBatch -> ES bulk bodies routed by
    // the window's own day: the end-to-end the reference runs as
    // SQS -> transform -> push_to_es (upstream: activedata_etl/etl.py +
    // push_to_es.py), here as one declarative streaming query.
    val dir = tmp("graft-st2-s5")
    val in = MemoryStream[Ev](spark)
    val q = Streams.tumblingCountsStream(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sources.Sinks.esBulk(batch, dir, "agg", "event_type", "w_start")
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:01:00"), "click", 1.0),
        Ev(1, ts("2024-01-01 00:04:00"), "click", 2.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts("2024-01-01 01:00:00"), "click", 3.0)) // advances watermark
      q.processAllAvailable()
      val idx = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
      assert(idx.toSeq === Seq("_index=agg_20240101"), idx.mkString(","))
      val lines = spark.read.text(s"$dir/_index=agg_20240101")
        .collect().map(_.getString(0))
      assert(lines.length === 2) // one finalized window: action + source line
      assert(lines.head.startsWith("""{"index":{"_index":"agg_20240101""""), lines.head)
      assert(lines.last.contains(""""n":2"""), lines.last)
    } finally q.stop()
  }

  test("ST8: the stream-maintained sketch store reads back exact and idempotent") {
    val dir = tmp("graft-st8")
    val in = MemoryStream[Ev](spark)
    val q = in.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.sketchStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:01:00"), "click", 10.0),
        Ev(2, ts("2024-01-01 00:02:00"), "click", 20.0))
      q.processAllAvailable()
      // the second micro-batch adds a new day AND a late event for day
      // one — the late row becomes one more partial under its event-time
      // day, no rewrite of batch 0's output
      in.addData(
        Ev(3, ts("2024-01-02 00:01:00"), "view", 30.0),
        Ev(4, ts("2024-01-01 23:59:00"), "click", 40.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = graft.operators.Aggregates.sketchMergeFrame(
      spark.read.parquet(dir), "2024-01-01", "2024-01-02")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("click") === ((3L, 3L)), s"merged readout $out")
    assert(out("view") === ((1L, 1L)), s"merged readout $out")
    // at-least-once redelivery of batch 0 must overwrite its own
    // partials, not append beside them — counts unchanged
    Streams.sketchStoreSink(Seq(
      Ev(1, ts("2024-01-01 00:01:00"), "click", 10.0),
      Ev(2, ts("2024-01-01 00:02:00"), "click", 20.0)).toDF(), 0L, dir)
    val again = graft.operators.Aggregates.sketchMergeFrame(
      spark.read.parquet(dir), "2024-01-01", "2024-01-02")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again("click") === 3L, s"redelivery double-counted: $again")
  }

  test("ST12: the streamed pair-graph delta accumulates to the exact " +
    "full-corpus pair set; out-of-order redelivery only duplicates, " +
    "never drifts") {
    val sf = "/root/testdata/sf0.001"
    val dir = tmp("graft-st12")
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 =!= 0)
    // the exactness target: the full-corpus pair set (the stored
    // minhash_pairs artifact the batch keys probe)
    val full = graft.SparkEntry.queries("dedup_minhash")(spark, sf)
      .collect().map(_.toString).toSeq

    Streams.pairStoreInit(base, dir)
    val deltaRows = delta.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.pairDeltaSink(batch, id, dir)
      }
      .start()
    try {
      // two micro-batches: cross-batch pairs (odd x odd across the
      // split) exist only if batch 1 sees batch 0's index rows
      in.addData(deltaRows.take(deltaRows.length / 2): _*)
      q.processAllAvailable()
      in.addData(deltaRows.drop(deltaRows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.pairStoreReadout(spark, dir)
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "accumulated pair store must equal the full-corpus pair set")
    // redeliver batch 0 AFTER batch 1: it now also sees batch 1's index
    // rows and may re-derive batch-1 pairs — exact duplicates that the
    // readout's distinct collapses; the result must not change
    Streams.pairDeltaSink(
      deltaRows.take(deltaRows.length / 2).toSeq.toDF("doc_id", "text"), 0L, dir)
    assert(readout === full, "post-hoc redelivery drifted the pair store")
  }

  test("ST12b: streamed incremental CC labels equal a full-corpus rebuild; " +
    "out-of-order redelivery never drifts the label store") {
    val sf = "/root/testdata/sf0.001"
    val dir = tmp("graft-st12b")
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text")
    // the exactness target: CC labels over the full-corpus pair graph
    val fullPairs = graft.llm.Dedup.PairGraph.of(docs).pairs
    val full = graft.llm.Dedup.clusterLabelsFrom(fullPairs)
      .orderBy("id").collect().map(_.toString).toSeq

    Streams.pairStoreInit(docs.filter(col("doc_id") % 2 === 0), dir)
    Streams.labelStoreInit(spark, dir)
    val deltaRows = docs.filter(col("doc_id") % 2 =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          Streams.pairDeltaSink(batch, id, dir)
          Streams.labelDeltaSink(batch.sparkSession, id, dir)
        }
      }
      .start()
    try {
      in.addData(deltaRows.take(deltaRows.length / 2): _*)
      q.processAllAvailable()
      in.addData(deltaRows.drop(deltaRows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.labelStoreReadout(spark, dir)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(readout === full,
      "maintained labels must equal the full-corpus CC rebuild")
    // redeliver batch 0 AFTER batch 1: merges are idempotent (monotone
    // min-label), so the store must read back unchanged
    Streams.pairDeltaSink(
      deltaRows.take(deltaRows.length / 2).toSeq.toDF("doc_id", "text"), 0L, dir)
    Streams.labelDeltaSink(spark, 0L, dir)
    assert(readout === full, "post-hoc redelivery drifted the label store")
  }

  test("ST13: the streamed novelty store equals the one-shot recompute; " +
    "out-of-order redelivery never drifts the first-seen table") {
    val sf = "/root/testdata/sf0.001"
    val dir = tmp("graft-st13")
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text")
    // the exactness target: the batch scorer over the whole corpus
    val full = graft.llm.TextOps.ngramNoveltyOf(docs)
      .collect().map(_.toString).toSeq

    val liveRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.noveltyStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(liveRows.take(liveRows.length / 2): _*)
      q.processAllAvailable()
      in.addData(liveRows.drop(liveRows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.noveltyStoreReadout(spark, dir)
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "maintained novelty store must equal the whole-corpus recompute")
    // redeliver batch 0 AFTER batch 1: min-merge is idempotent, the
    // store must read back unchanged
    Streams.noveltyStoreSink(
      liveRows.take(liveRows.length / 2).toSeq.toDF("doc_id", "text"), 0L, dir)
    assert(readout === full, "post-hoc redelivery drifted the novelty store")
  }

  test("ST14: the streamed decon store equals the one-shot whole-bench " +
    "decon; out-of-order redelivery never drifts the hit store") {
    val sf = "/root/testdata/sf0.001"
    val dir = tmp("graft-st14")
    // the exactness target: the one-shot decon over the full bench set
    val full = graft.SparkEntry.queries("sim_semantic_decon")(spark, sf)
      .collect().map(_.toString).toSeq
    Streams.deconStoreInit(spark, sf, dir)

    val bench = graft.Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 10 === 0)
    val liveRows = bench.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float])](spark)
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.deconDeltaSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(liveRows.take(liveRows.length / 2): _*)
      q.processAllAvailable()
      in.addData(liveRows.drop(liveRows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.deconStoreReadout(spark, dir)
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "maintained decon store must equal the one-shot whole-bench pass")
    // redeliver batch 0 AFTER batch 1: identical partials overwrite
    // their own partition, the store must read back unchanged
    Streams.deconDeltaSink(
      liveRows.take(liveRows.length / 2).toSeq.toDF("vec_id", "embedding"), 0L, dir)
    assert(readout === full, "post-hoc redelivery drifted the decon store")
  }

  test("ST23: the streamed MULTIMODAL decon store equals the one-shot " +
    "payload decon; out-of-order redelivery never drifts it") {
    val sf = "/root/testdata/sf0.001"
    val dir = tmp("graft-st23")
    // the exactness target: the one-shot payload decon over the full
    // bench slice (the mm quantizer store is shared via Artifacts)
    val full = graft.SparkEntry.queries("mm_semantic_decon")(spark, sf)
      .collect().map(_.toString).toSeq
    Streams.mmDeconStoreInit(spark, sf, dir)

    val liveRows = graft.llm.Multimodal.mmVecsOf(spark, sf)
      .filter(col("vec_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val in = MemoryStream[(Long, Seq[Double])](spark)
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.deconDeltaSink(batch, id, dir, tau = 0.999)
      }
      .start()
    try {
      in.addData(liveRows.take(liveRows.length / 2): _*)
      q.processAllAvailable()
      in.addData(liveRows.drop(liveRows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.deconStoreReadout(spark, dir)
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "maintained mm decon store must equal the one-shot payload pass")
    // redeliver batch 0 AFTER batch 1 at the same τ: identical partials
    // overwrite their own partition, the store must read back unchanged
    Streams.deconDeltaSink(
      liveRows.take(liveRows.length / 2).toSeq.toDF("vec_id", "embedding"),
      0L, dir, tau = 0.999)
    assert(readout === full, "post-hoc redelivery drifted the mm decon store")
  }

  test("ST11: the streamed quality monitor merges to the one-shot " +
    "whole-corpus readout and redelivery never double-counts") {
    val dir = tmp("graft-st11")
    // two sources with opposite quality profiles: src0 long docs with
    // stopwords (q=1.0), src1 short docs without (q=0.1)
    val docs = (0L until 20L).map { i =>
      if (i % 2 == 0) (i, s"the quick doc $i of many words and more", "en", "src0", 120L + i)
      else (i, s"tok$i junk", "en", "src1", 10L + i)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = graft.llm.TextOps.qualityMergeFrom(
      graft.llm.TextOps.qualityPartialsOf(df(docs)))
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.qualityStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(docs.take(8): _*)
      q.processAllAvailable()
      in.addData(docs.drop(8): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = graft.llm.TextOps.qualityMergeFrom(
      spark.read.parquet(dir).drop("batch_id"))
      .collect().map(_.toString).toSeq
    assert(readout === full, "merged partials must equal the one-shot readout")
    // the monitor separates the sources: src0 reads perfect, src1 poor
    val means = graft.llm.TextOps.qualityMergeFrom(
      spark.read.parquet(dir).drop("batch_id"))
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("mean_quality")).toMap
    assert(means("src0") === 1.0, s"long stopworded docs must score 1.0: $means")
    assert(means("src1") === 0.1, s"short stopword-free docs must score 0.1: $means")
    // at-least-once redelivery of batch 0 overwrites its own partition
    Streams.qualityStoreSink(df(docs.take(8)), 0L, dir)
    assert(readout === full, "redelivered batch double-counted")
  }

  test("ST16: the streamed packing manifest merges to the one-shot " +
    "packing pass and redelivery never double-counts") {
    val dir = tmp("graft-st16")
    val docs = (0L until 24L).map { i =>
      (i, Seq.fill(1 + (i % 7).toInt * 3)(s"w$i").mkString(" "),
        "en", s"src${i % 3}", 50L + i)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = graft.llm.TextOps.packManifest(df(docs), ctx = 2048L, nShards = 8L)
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.packStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(docs.take(10): _*)
      q.processAllAvailable()
      in.addData(docs.drop(10): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = graft.llm.TextOps.packMergeFrom(
      spark.read.parquet(dir).drop("batch_id"))
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "merged pack partials must equal the one-shot manifest")
    // at-least-once redelivery of batch 0 overwrites its own partition
    Streams.packStoreSink(df(docs.take(10)), 0L, dir)
    assert(readout === full, "redelivered batch double-counted")
  }

  test("ST15: the streamed classifier monitor scored against a frozen " +
    "model merges to the full-corpus pass rates and survives redelivery") {
    val dir = tmp("graft-st15")
    // curated src0 shares vocabulary with itself; crawl src1 is junk —
    // the NB gate should pass src0 and reject src1
    val docs = (0L until 20L).map { i =>
      if (i % 2 == 0) (i, "the fine curated words of record", "en", "src0", 100L)
      else (i, s"zz$i qq$i junk spam", "en", "src1", 20L)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    // the frozen model: trained ONCE on the whole corpus (the periodic
    // train job); every batch probes this same table
    val model = graft.llm.TextOps.nbModelOf(df(docs)).localCheckpoint()
    def fullReadout(frame: org.apache.spark.sql.DataFrame) =
      graft.llm.TextOps.scoreAgainstModel(frame, model)
        .join(frame.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("selected"), lit(1))).as("n_sel"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val full = fullReadout(df(docs))

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.classifierStoreSink(batch, id, dir, model)
      }
      .start()
    try {
      in.addData(docs.take(8): _*)
      q.processAllAvailable()
      in.addData(docs.drop(8): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.classifierStoreReadout(spark, dir)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_sel"))).sortBy(_._1).toSeq
    assert(readout === full, "merged partials must equal the one-shot scoring")
    // the gate separates the sources
    val pm = Streams.classifierStoreReadout(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("sel_permille")).toMap
    assert(pm("src0") === 1000L, s"curated source must fully pass: $pm")
    assert(pm("src1") === 0L, s"junk source must fully fail: $pm")
    // at-least-once redelivery of batch 0 overwrites its own partition
    Streams.classifierStoreSink(df(docs.take(8)), 0L, dir, model)
    assert(readout === full, "redelivered batch double-counted")
  }

  test("ST18: the streamed rule-profile monitor merges to the one-shot " +
    "full-corpus profile and survives redelivery") {
    val dir = tmp("graft-st18")
    val rnd = new scala.util.Random(31)
    val vocab = Seq("the", "a", "of", "and", "to",
      "table", "row", "scan", "value", "fast")
    // word counts spanning the r_wc boundary; residue-keyed decorations
    // (%7 hash line, %11 bullets, …) fire for the matching doc_ids
    val docs = (0L until 30L).map { i =>
      (i, Seq.fill(20 + rnd.nextInt(80))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "),
        "en", s"src${i % 3}", 100L)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = graft.llm.TextOps.ruleProfileOf(df(docs))
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.ruleStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(docs.take(12): _*)
      q.processAllAvailable()
      in.addData(docs.drop(12): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.ruleStoreReadout(spark, dir)
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "merged rule partials must equal the one-shot profile")
    // at-least-once redelivery of batch 0 overwrites its own partition
    Streams.ruleStoreSink(df(docs.take(12)), 0L, dir)
    assert(readout === full, "redelivered batch double-counted")
    // the residue-keyed violator populations actually fire, and clean
    // docs actually pass — both verdict outcomes exist in the corpus
    val verd = graft.llm.TextOps.ruleFilterOf(df(docs)).collect()
    assert(verd.exists(r => !r.getAs[Boolean]("r_sym")),
      "the %7 hash-line population must fail the symbol rule")
    assert(verd.exists(r => !r.getAs[Boolean]("r_bullet")),
      "the %11 bullet population must fail the bullet rule")
    assert(verd.exists(r => r.getAs[Boolean]("keep")),
      "an undecorated mid-length doc must pass every rule")
  }

  test("ST19: the streamed boilerplate-line table merges to the exact " +
    "full-corpus frequencies and the rewrite matches the one-shot pass") {
    val dir = tmp("graft-st19")
    // 12 docs: shared source => shared header/footer boilerplate; doc
    // bodies unique except one 10-word sentence repeated across 6 docs
    // (crosses the >=5 threshold => body-level boilerplate too)
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0L until 12L).map { i =>
      val body =
        if (i < 6) s"$shared unique$i word$i tail$i extra$i more$i"
        else s"only$i its$i own$i words$i here$i now$i then$i so$i go$i end$i"
      (i, body, "en", "src0", 100L)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = graft.llm.TextOps.lineDedupOf(df(docs))
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.lineStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(docs.take(5): _*)
      q.processAllAvailable()
      in.addData(docs.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()

    def rewrite = graft.llm.TextOps.lineDedupAgainst(
        df(docs), Streams.lineStoreFreqs(spark, dir))
      .collect().map(_.toString).toSeq
    assert(rewrite === full,
      "rewrite against the merged store must equal the one-shot pass")
    // at-least-once redelivery of batch 0 overwrites its own partition
    Streams.lineStoreSink(df(docs.take(5)), 0L, dir)
    assert(rewrite === full, "redelivered batch double-counted")
    // the shared sentence (6 docs) and header/footer (12 docs) are
    // boilerplate; unique body lines survive
    val out = graft.llm.TextOps.lineDedupOf(df(docs)).collect()
    val d0 = out.find(_.getAs[Long]("doc_id") == 0L).get
    assert(d0.getAs[Long]("n_lines") - d0.getAs[Long]("n_kept") === 3L,
      "doc 0 must lose header, footer, AND the 6-doc shared sentence")
    val d7 = out.find(_.getAs[Long]("doc_id") == 7L).get
    assert(d7.getAs[Long]("n_lines") - d7.getAs[Long]("n_kept") === 2L,
      "doc 7 must lose only header and footer")
  }

  test("ST20: the three co-maintained hygiene stores compose to the " +
    "one-shot report and survive redelivery together") {
    val dir = tmp("graft-st20")
    val rnd = new scala.util.Random(47)
    val vocab = Seq("the", "a", "of", "and", "to",
      "table", "row", "scan", "value", "fast")
    val docs = (0L until 24L).map { i =>
      (i, Seq.fill(30 + rnd.nextInt(60))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "),
        "en", s"src${i % 2}", 100L)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = graft.llm.TextOps.hygieneReportOf(df(docs))
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.hygieneStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(docs.take(9): _*)
      q.processAllAvailable()
      in.addData(docs.drop(9): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.hygieneStoreReadout(spark, dir, df(docs))
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "composed store readout must equal the one-shot three-pass report")
    // at-least-once redelivery of batch 0 overwrites all three sub-stores
    Streams.hygieneStoreSink(df(docs.take(9)), 0L, dir)
    assert(readout === full, "redelivered batch double-counted in a sub-store")
  }

  test("ST22: the streamed secret-scan monitor merges to the one-shot " +
    "per-source profile and survives redelivery") {
    val dir = tmp("graft-st22")
    // doc_id % 7 == 3 rows gain the deterministic fake key inside the
    // scan itself, so both verdict outcomes exist across the 30 docs
    val docs = (0L until 30L).map { i =>
      (i, s"doc $i body word$i tail", "en", s"src${i % 3}", 30L)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = graft.llm.TextOps.secretPartialsOf(df(docs))
      .orderBy("source").collect().map(_.toString).toSeq
    // the corpus must exercise BOTH outcomes: flagged docs exist (the %7
    // population) and clean docs exist (everything else incl. the decoy)
    val perDoc = graft.llm.TextOps.secretScanOf(df(docs)).collect()
    assert(perDoc.exists(_.getAs[Long]("n_secrets") > 0), "no flagged doc")
    assert(perDoc.exists(r => r.getAs[Long]("n_secrets") == 0
      && r.getAs[Long]("n_candidates") > 0),
      "the 32-char low-entropy decoy must be a candidate yet unflagged")

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.secretStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(docs.take(12): _*)
      q.processAllAvailable()
      in.addData(docs.drop(12): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.secretStoreReadout(spark, dir)
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "merged secret partials must equal the one-shot per-source profile")
    // at-least-once redelivery of batch 0 overwrites its own partition
    Streams.secretStoreSink(df(docs.take(12)), 0L, dir)
    assert(readout === full, "redelivered batch double-counted")
  }

  test("ST24: the streamed inverted-index dictionary merges to the " +
    "one-shot build, argmax-doc ties included, and survives redelivery") {
    val dir = tmp("graft-st24")
    val rnd = new scala.util.Random(59)
    val vocab = Seq("spark", "query", "window", "table", "row",
      "scan", "value", "fast", "join", "agg")
    val docs = (0L until 24L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(30))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "),
        "en", s"src${i % 3}", 50L)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = graft.llm.TextOps.invertedIndexOf(df(docs))
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.dfStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(docs.take(10): _*)
      q.processAllAvailable()
      in.addData(docs.drop(10): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.dfStoreReadout(spark, dir)
      .collect().map(_.toString).toSeq
    assert(readout === full,
      "merged df partials must equal the one-shot dictionary")
    // at-least-once redelivery of batch 0 overwrites its own partition
    Streams.dfStoreSink(df(docs.take(10)), 0L, dir)
    assert(readout === full, "redelivered batch double-counted")
    // the argmax-doc tie rule survives the merge: craft a term whose
    // peak tf occurs in BOTH batches — the merged top_doc must be the
    // smallest doc_id among the tied peaks (here 1, not 15)
    val tied = Seq(
      (1L, "zzz zzz unique1", "en", "src0", 10L),
      (15L, "zzz zzz unique2", "en", "src0", 10L))
    val tdir = tmp("graft-st24-tie")
    Streams.dfStoreSink(df(tied.take(1)), 0L, tdir)
    Streams.dfStoreSink(df(tied.drop(1)), 1L, tdir)
    val z = Streams.dfStoreReadout(spark, tdir)
      .filter(col("w") === "zzz").collect()(0)
    assert(z.getAs[Long]("df") === 2L && z.getAs[Long]("max_tf") === 2L)
    assert(z.getAs[Long]("top_doc") === 1L,
      "cross-batch tf tie must resolve to the smallest doc_id")
  }

  test("ST26: the streamed CDC store applies the per-key LATEST change — " +
    "a later batch overrides, redelivery of the older batch cannot regress") {
    val dir = tmp("graft-st26")
    def base = Seq((1L, "O", 100.0), (2L, "O", 200.0), (3L, "O", 300.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    def chg(rows: (Long, String, java.lang.Double)*) =
      rows.toDF("o_orderkey", "op", "chg_price")
    // batch 0 updates key 1 to 110; batch 1 OVERRIDES it to 120 and
    // deletes key 2
    Streams.cdcStoreSink(chg((1L, "U", 110.0)), 0L, dir)
    Streams.cdcStoreSink(chg((1L, "U", 120.0), (2L, "D", null)), 1L, dir)
    def readout = Streams.cdcStoreApply(spark, dir, base).collect()
      .map(r => (r.getAs[String]("status"), r.getAs[Long]("n"),
        r.getAs[Double]("sum_price"))).toSeq
    val expected = Seq(("O", 1L, 300.0), ("U", 1L, 120.0))
    assert(readout === expected,
      s"later batch must win and the delete must land: $readout")
    // at-least-once redelivery of batch 0 AFTER batch 1: overwrites its
    // own partition only — batch 1's override still wins
    Streams.cdcStoreSink(chg((1L, "U", 110.0)), 0L, dir)
    assert(readout === expected, "redelivered older batch regressed the upsert")
  }

  test("ST25: the streamed late-data audit reconstructs the watermark " +
    "from stored partials and redelivery cannot shift it") {
    val dir = tmp("graft-st25")
    def ev(id: Long, t: String, typ: String) =
      (id, ts(t), id % 5, typ, 1.0, "{}")
    // batch 0: on-time traffic up to 11:00
    val b0 = Seq(ev(1, "2024-01-01 10:00:00", "view"),
      ev(2, "2024-01-01 11:00:00", "click"))
    // batch 1: one straggler beyond tolerance (09:00 < 11:00-10min),
    // one INSIDE tolerance (10:55 ≥ 10:50 — must NOT flag), one on-time
    val b1 = Seq(ev(3, "2024-01-01 09:00:00", "view"),
      ev(4, "2024-01-01 10:55:00", "click"),
      ev(5, "2024-01-02 12:00:00", "view"))
    // batch 2: a straggler against the RAISED watermark (day-2 12:00)
    val b2 = Seq(ev(6, "2024-01-02 11:00:00", "purchase"),
      ev(7, "2024-01-02 13:00:00", "click"))
    def df(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    Streams.lateStoreSink(spark, df(b0), 0L, dir)
    Streams.lateStoreSink(spark, df(b1), 1L, dir)
    Streams.lateStoreSink(spark, df(b2), 2L, dir)
    def audit = Streams.lateStoreReadout(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_total"),
        r.getAs[Long]("n_late"))).toSeq
    val expected = Seq(("click", 3L, 0L), ("purchase", 1L, 1L), ("view", 3L, 1L))
    assert(audit === expected,
      s"beyond-tolerance stragglers flag, within-tolerance must not: $audit")
    // redelivery of batch 1 AFTER batch 2: its watermark reads only
    // batch 0's partials — identical flags, the store cannot drift
    Streams.lateStoreSink(spark, df(b1), 1L, dir)
    assert(audit === expected, "redelivered batch shifted the watermark")
  }

  test("ST17: the streamed LM-score store re-ranks to the one-shot " +
    "perplexity tiers and prices unseen grams by smoothing") {
    val dir = tmp("graft-st17")
    val rnd = new scala.util.Random(23)
    val docs = (0L until 24L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(20))("w" + rnd.nextInt(12)).mkString(" "),
        "en", s"src${i % 2}", 50L)
    }
    def df(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    // the frozen LM: trained ONCE on the whole corpus (the periodic train
    // job); every batch scores against these same tables
    val (ab0, ctx0, v0) = graft.llm.TextOps.bigramLmOf(df(docs))
    val (ab, ctx, v) =
      (ab0.localCheckpoint(), ctx0.localCheckpoint(), v0.localCheckpoint())
    def rows(frame: org.apache.spark.sql.DataFrame) = frame.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("bucket"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("min_nll"), r.getAs[Double]("max_nll"),
        r.getAs[Double]("mean_nll"))).toSeq
    val full = rows(graft.llm.TextOps.pplBucketsOf(df(docs)))

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.pplStoreSink(batch, id, dir, ab, ctx, v)
      }
      .start()
    try {
      in.addData(docs.take(10): _*)
      q.processAllAvailable()
      in.addData(docs.drop(10): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = rows(Streams.pplStoreReadout(spark, dir))
    assert(readout === full,
      "re-ranked score store must equal the one-shot train+rank pass")
    // at-least-once redelivery of batch 0 overwrites its own partition
    Streams.pplStoreSink(df(docs.take(10)), 0L, dir, ab, ctx, v)
    assert(readout === full, "redelivered batch drifted the score store")
    // genuinely new data: every gram unseen — smoothing must price it
    // finitely at the unseen-context rate -ln((0+1)/(0+v)) = ln(v), not
    // crash or drop it
    val novel = graft.llm.TextOps
      .bigramNllAgainstLm(df(Seq((99L, "qq zz qq", "en", "srcN", 8L))), ab, ctx, v)
      .collect()
    assert(novel.length === 1)
    val nll = novel.head.getAs[Double]("nll")
    val vSize = v.collect().head.getLong(0).toDouble
    assert(math.abs(nll - math.log(vSize)) < 1e-3,
      s"unseen grams must score ln(v)=${math.log(vSize)}, got $nll")
  }

  test("ST16: the streamed SQ8 range monitor merges to the exact " +
    "per-dim stats and an out-of-range batch expands the range") {
    val dir = tmp("graft-st16")
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    def df(rows: Seq[(Long, Array[Float])]) =
      rows.toDF("vec_id", "embedding")
    def stats(frame: org.apache.spark.sql.DataFrame) = frame
      .select(posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
      .groupBy("pos").agg(min("col").as("mn"), max("col").as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val full = stats(df(vecs))

    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.sq8StatsSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(vecs.take(12): _*)
      q.processAllAvailable()
      in.addData(vecs.drop(12): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = Streams.sq8StatsReadout(spark, dir)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(readout === full, "merged range partials must equal one-shot stats")
    // redelivery of batch 0 overwrites its own partition — no drift
    Streams.sq8StatsSink(df(vecs.take(12)), 0L, dir)
    assert(readout === full, "redelivered batch drifted the range store")
    // the drift alarm: a batch outside the trained range EXPANDS it
    Streams.sq8StatsSink(df(Seq((99L, Array.fill(8)(5f)))), 2L, dir)
    val expanded = readout
    assert(expanded.forall(_._3 === 5.0),
      s"out-of-range batch must widen every max: ${expanded.take(3)}")
    assert(expanded.map(x => (x._1, x._2)) === full.map(x => (x._1, x._2)),
      "mins must be untouched by the high-value batch")
  }

  test("ST9: stream-maintained manifest store merges to the exact " +
    "whole-corpus manifest and redelivery never double-counts") {
    val dir = tmp("graft-st9")
    val docs = (0L until 24L).map(i =>
      (i, s"tok$i alpha beta gamma d$i", "en", "web", 20L + i))
    val full = graft.llm.TextOps.shardManifest(
      docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.manifestStoreSink(batch, id, dir)
      }
      .start()
    try {
      in.addData(docs.take(10): _*)
      q.processAllAvailable()
      in.addData(docs.drop(10): _*)
      q.processAllAvailable()
    } finally q.stop()

    def readout = graft.llm.TextOps.mergeManifests(
      spark.read.parquet(dir).drop("batch_id"))
      .collect().map(_.toString).toSeq
    assert(readout === full, "merged partials must equal the one-shot manifest")
    // at-least-once redelivery: batch 0 re-sunk under its own id
    // overwrites its partition — the readout must not change
    Streams.manifestStoreSink(
      docs.take(10).toDF("doc_id", "text", "lang", "source", "n_chars"),
      0L, dir)
    assert(readout === full, "redelivered batch double-counted")
  }

  test("ST10: the streamed inverted-list delta keeps probes exactly " +
    "equal to a batch rebuild with the same quantizer") {
    val sf = "/root/testdata/sf0.001"
    val dir = tmp("graft-st10")
    val embs = graft.Tables.t(spark, sf, "embeddings")
    // quantizer trained on the BASE half only; centroids then stay FIXED
    // while the delta half streams in — the production shape (re-train
    // is a separate scheduled job, monitored by sim_quantizer_refresh)
    val base = embs.filter(col("vec_id") % 2 === 0)
    val delta = embs.filter(col("vec_id") % 2 === 1)
    val cents = graft.llm.Similarity.Ivf.of(base, 8).cents
    val centsFixed = cents.localCheckpoint()
    val baseInv = graft.llm.Similarity
      .assignAgainstCentroids(base, centsFixed)

    val deltaRows = delta.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float])](spark)
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) Streams.invlistStoreSink(batch, id, dir, centsFixed)
      }
      .start()
    try {
      in.addData(deltaRows.take(deltaRows.length / 2): _*)
      q.processAllAvailable()
      in.addData(deltaRows.drop(deltaRows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()

    val maintained = baseInv.unionByName(Streams.invlistDelta(spark, dir))
    val rebuilt = graft.llm.Similarity.assignAgainstCentroids(embs, centsFixed)
    // the maintained lists ARE the batch rebuild, row for row
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cid"), col("nid"), col("nn")).collect()
      .map(_.toString).sorted.toSeq
    assert(canon(maintained) === canon(rebuilt))
    // and a probe over base ∪ delta answers exactly like the rebuild
    val queries = embs.filter(col("vec_id") < 10)
    val got = graft.llm.Similarity
      .ivfProbe(queries, centsFixed, maintained).collect().map(_.toString).toSeq
    val want = graft.llm.Similarity
      .ivfProbe(queries, centsFixed, rebuilt).collect().map(_.toString).toSeq
    assert(got === want)
    // at-least-once redelivery: batch 0 re-sunk under its own id
    // overwrites its own (cid, batch_id) partitions — nothing doubles
    Streams.invlistStoreSink(
      deltaRows.take(deltaRows.length / 2).toSeq.toDF("vec_id", "embedding"),
      0L, dir, centsFixed)
    assert(canon(baseInv.unionByName(Streams.invlistDelta(spark, dir)))
      === canon(rebuilt), "redelivered batch double-counted")
  }

  test("T7 streaming: dead-letter split routes per micro-batch") {
    // the reference's error re-queue is stream-side (etl.py catches a
    // failing key and writes it to the error bucket while good keys
    // proceed) — here: one foreachBatch, two sinks, shared scan.
    val okDir = tmp("graft-t7-ok")
    val deadDir = tmp("graft-t7-dead")
    val in = MemoryStream[Ev](spark)
    val q = in.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val (ok, dead) = graft.etl.LogParsers.deadLetter(
          batch, col("value") >= 0, "negative_value")
        if (!ok.isEmpty) Streams.idempotentAppend(ok, id, okDir, Seq("user_id", "ts"))
        if (!dead.isEmpty) Streams.idempotentAppend(dead, id, deadDir, Seq("user_id", "ts"))
      }
      .start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:01:00"), "click", 1.0),
        Ev(2, ts("2024-01-01 00:02:00"), "error", -5.0),
        Ev(3, ts("2024-01-01 00:03:00"), "view", 2.0))
      q.processAllAvailable()
      val ok = spark.read.parquet(okDir)
      val dead = spark.read.parquet(deadDir)
      assert(ok.count() === 2)
      assert(dead.count() === 1)
      assert(dead.head().getAs[String]("error") === "negative_value")
      assert(ok.columns.contains("batch_id")) // lineage stamp survived
    } finally q.stop()
  }

  test("ST7: stream-stream interval join emits banded pairs in append mode") {
    val purchases = MemoryStream[Ev](spark)
    val signups = MemoryStream[Ev](spark)
    val joined = Streams.purchaseSignupJoin(
      purchases.toDF().withColumn("event_id", col("user_id") * 1000 + lit(1)),
      signups.toDF(),
      lateness = "10 minutes", horizon = "1 hour")
    val q = joined.writeStream.format("memory").queryName("st7")
      .outputMode("append").start()
    try {
      signups.addData(
        Ev(1, ts("2024-01-01 00:00:00"), "signup", 0.0),
        Ev(2, ts("2024-01-01 00:05:00"), "signup", 0.0))
      purchases.addData(
        Ev(1, ts("2024-01-01 00:30:00"), "purchase", 5.0), // 30 min after u1 signup → joins
        Ev(2, ts("2024-01-01 02:00:00"), "purchase", 7.0), // 115 min after u2 signup → outside 1h band
        Ev(3, ts("2024-01-01 00:30:00"), "purchase", 9.0)) // no signup at all
      q.processAllAvailable()
      val rows = spark.table("st7").collect()
      assert(rows.length === 1, rows.mkString("; "))
      assert(rows.head.getAs[Long]("p_user") === 1L)
      assert(rows.head.getAs[Timestamp]("s_ts") === ts("2024-01-01 00:00:00"))
    } finally q.stop()
  }

  test("ST7b: left-outer stream-stream join emits unmatched purchases only after the watermark proves no match can come") {
    val purchases = MemoryStream[Ev](spark)
    val signups = MemoryStream[Ev](spark)
    val joined = Streams.purchaseSignupJoin(
      purchases.toDF().withColumn("event_id", col("user_id") * 1000 + lit(1)),
      signups.toDF(),
      lateness = "10 minutes", horizon = "1 hour", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("st7b")
      .outputMode("append").start()
    try {
      signups.addData(Ev(1, ts("2024-01-01 00:00:00"), "signup", 0.0))
      purchases.addData(
        Ev(1, ts("2024-01-01 00:30:00"), "purchase", 5.0), // matches u1 signup
        Ev(3, ts("2024-01-01 00:30:00"), "purchase", 9.0)) // no signup exists
      q.processAllAvailable()
      // matched row emits promptly; the unmatched one must NOT — a
      // matching signup could still arrive until the watermark passes
      val early = spark.table("st7b").collect()
      assert(early.length === 1 && early.head.getAs[Long]("p_user") === 1L,
        early.mkString("; "))
      // advance BOTH watermarks well past 00:30 (+lateness); the join can
      // then prove u3's purchase unmatched and emit it with null s_ts
      purchases.addData(Ev(9, ts("2024-01-01 03:00:00"), "purchase", 1.0))
      signups.addData(Ev(9, ts("2024-01-01 03:00:00"), "signup", 0.0))
      q.processAllAvailable()
      purchases.addData(Ev(10, ts("2024-01-01 04:00:00"), "purchase", 1.0))
      signups.addData(Ev(10, ts("2024-01-01 04:00:00"), "signup", 0.0))
      q.processAllAvailable()
      val u3 = spark.table("st7b").filter(col("p_user") === 3L).collect()
      assert(u3.length === 1, spark.table("st7b").collect().mkString("; "))
      assert(u3.head.isNullAt(u3.head.fieldIndex("s_ts")), u3.head.toString)
    } finally q.stop()
  }

  test("ST4: late data behind the watermark is dropped") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.tumblingCountsStream(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("st4").outputMode("append").start()
    try {
      in.addData(Ev(1, ts("2024-01-01 00:01:00"), "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts("2024-01-01 02:00:00"), "click", 1.0))
      q.processAllAvailable()
      // first window finalized with n=1; now a very late event for it
      in.addData(Ev(1, ts("2024-01-01 00:02:00"), "click", 99.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts("2024-01-01 03:00:00"), "click", 1.0))
      q.processAllAvailable()
      val first = spark.table("st4")
        .filter(col("w_start") === ts("2024-01-01 00:00:00")).collect()
      assert(first.length === 1)
      assert(first.head.getAs[Long]("n") === 1L) // the late 99.0 never lands
    } finally q.stop()
  }

  test("ST3: session_window closes a session after the inactivity gap") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.sessionCounts(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("st3").outputMode("append").start()
    try {
      in.addData(
        Ev(7, ts("2024-01-01 00:00:00"), "click", 1.0),
        Ev(7, ts("2024-01-01 00:10:00"), "error", 2.0))
      q.processAllAvailable()
      // advance watermark (lateness 1h) past session end (00:40)
      in.addData(Ev(8, ts("2024-01-01 02:00:00"), "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(8, ts("2024-01-01 03:00:00"), "click", 1.0))
      q.processAllAvailable()
      val s = spark.table("st3").filter(col("user_id") === 7).collect()
      assert(s.length === 1)
      assert(s.head.getAs[Long]("n_events") === 2L)
      assert(s.head.getAs[Timestamp]("s_start") === ts("2024-01-01 00:00:00"))
      assert(s.head.getAs[Timestamp]("s_end") === ts("2024-01-01 00:40:00"))
    } finally q.stop()
  }

  test("ST3: stateful sessionize emits closed sessions AND flushes the idle tail") {
    // NOTE: with ProcessingTimeTimeout the engine keeps scheduling
    // micro-batches to fire pending timers, so processAllAvailable()
    // never settles — assert by polling the sink instead.
    def awaitRows(filter: org.apache.spark.sql.Column, n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      def cnt() = spark.table("st3b").filter(filter).count()
      while (cnt() < n && System.currentTimeMillis < deadline) Thread.sleep(250)
      assert(cnt() === n)
    }
    val in = MemoryStream[Ev](spark)
    val q = Streams.sessionize(in.toDS(), gapMs = 60 * 1000L, idleTimeout = "1 second")
      .writeStream.format("memory").queryName("st3b").outputMode("append").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0),
        Ev(1, ts("2024-01-01 00:00:30"), "error", 2.0))
      // a later event far past the gap: closes session 1 by the gap rule
      // (or, if the idle timer fired first, by the timeout flush — both
      // emit the same 2-event session)
      in.addData(Ev(1, ts("2024-01-01 00:10:00"), "click", 3.0))
      awaitRows(col("user_id") === 1 && col("n_events") === 2L, 1)
      val closed = spark.table("st3b")
        .filter(col("user_id") === 1 && col("n_events") === 2L).collect()
      assert(closed.head.getAs[Long]("n_errors") === 1L)
      assert(!closed.head.getAs[Boolean]("ok"))
      // the tail session (the single 00:10 event) has no later event to
      // close it — it can ONLY appear via the processing-time timeout
      // flush, the path the old NoTimeout code never took
      awaitRows(col("user_id") === 1 && col("n_events") === 1L, 1)
      val tail = spark.table("st3b")
        .filter(col("user_id") === 1 && col("n_events") === 1L).collect()
      assert(tail.head.getAs[Boolean]("ok"))
    } finally q.stop()
  }

  test("ST3: event-time sessionize flushes the tail when the WATERMARK passes it") {
    def awaitRows(filter: org.apache.spark.sql.Column, n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      def cnt() = spark.table("st3c").filter(filter).count()
      while (cnt() < n && System.currentTimeMillis < deadline) Thread.sleep(250)
      assert(cnt() === n)
    }
    val in = MemoryStream[Ev](spark)
    val q = Streams.sessionizeEventTime(in.toDS(), gapMs = 60 * 1000L,
        lateness = "1 minute")
      .writeStream.format("memory").queryName("st3c").outputMode("append").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0),
        Ev(1, ts("2024-01-01 00:00:30"), "error", 2.0))
      q.processAllAvailable()
      // gap rule still closes sessions on the data path
      in.addData(Ev(1, ts("2024-01-01 00:05:00"), "click", 3.0))
      awaitRows(col("user_id") === 1 && col("n_events") === 2L, 1)
      val closed = spark.table("st3c")
        .filter(col("user_id") === 1 && col("n_events") === 2L).collect()
      assert(closed.head.getAs[Long]("n_errors") === 1L)
      assert(closed.head.getAs[Timestamp]("end_ts") === ts("2024-01-01 00:00:30"))
      // u1's open tail (the 00:05 event, timer at 00:06) flushes because
      // an unrelated user's event drives the watermark past it — pure
      // event-time progress, no wall-clock wait
      in.addData(Ev(9, ts("2024-01-01 00:30:00"), "click", 1.0))
      q.processAllAvailable()
      awaitRows(col("user_id") === 1 && col("n_events") === 1L, 1)
      val tail = spark.table("st3c")
        .filter(col("user_id") === 1 && col("n_events") === 1L).collect()
      assert(tail.head.getAs[Timestamp]("start_ts") === ts("2024-01-01 00:05:00"))
      assert(tail.head.getAs[Boolean]("ok"))
    } finally q.stop()
  }

  test("ST6: streaming dedup drops re-delivered keys within the watermark") {
    val in = MemoryStream[Ev](spark)
    val q = Streams.dedupStream(in.toDF(), Seq("user_id", "ts"), "1 hour")
      .writeStream.format("memory").queryName("st6").outputMode("append").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0),
        Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0), // same-batch dup
        Ev(2, ts("2024-01-01 00:01:00"), "view", 2.0))
      q.processAllAvailable()
      // cross-batch redelivery of user 1's event, still inside the
      // watermark: state remembers the key and drops it
      in.addData(Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("st6").count() === 2)
      assert(spark.table("st6").filter(col("user_id") === 1).count() === 1)
    } finally q.stop()
  }

  test("ST1+ST5: incremental file ingest through the idempotent sink") {
    val srcDir = tmp("graft-st1-src")
    val outDir = tmp("graft-st1-out")
    val ckDir  = tmp("graft-st1-ck")
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Streams.idempotentAppend(b, id, outDir, Seq("event_id"))
        }
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    def writeFile(name: String, lines: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(srcDir, name))
      lines.foreach(w.println); w.close()
    }

    writeFile("a.json", Seq(
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"click","value":2.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"click","value":2.0}"""))
    runOnce()
    // in-batch duplicate (event_id 2) deduped by the sink
    assert(spark.read.parquet(outDir).count() === 2)

    // the checkpoint makes the second run incremental: only the new file
    writeFile("b.json", Seq(
      """{"event_id":3,"ts":"2024-01-01T00:02:00Z","user_id":2,"event_type":"error","value":3.0}"""))
    runOnce()
    val all = spark.read.parquet(outDir)
    assert(all.count() === 3)
    assert(all.select("event_id").distinct().count() === 3)
  }

  test("ST5: a re-delivered batch id overwrites its own partition, not appends") {
    val outDir = tmp("graft-st5-out")
    val batch = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "v")
    Streams.idempotentAppend(batch, 7L, outDir, Seq("k"))
    Streams.idempotentAppend(batch, 7L, outDir, Seq("k")) // redelivery
    val out = spark.read.parquet(outDir)
    assert(out.count() === 2) // deduped once, written once
    // partition values come back as the narrowest inferred type
    assert(out.select("batch_id").distinct().collect().map(_.get(0).toString).toSeq === Seq("7"))
  }
}
