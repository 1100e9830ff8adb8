package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Multimodal plumbing: the decode stage's mapPartitions shape and the
  * payload-pruning property that makes binary columns viable at 100 TB
  * (metadata queries must never read payload bytes). */
class MultimodalSpec extends graft.SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "hello world", "en", "src0", 11L),
    (2L, "lorem ipsum dolor", "la", "src1", 17L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("decodeFeatures runs the mapPartitions stage with deterministic features") {
    val out = Multimodal.decodeFeatures(Multimodal.withPayload(docs))
      .orderBy("doc_id").collect()
    assert(out.length === 2)
    val r = out.head
    assert(r.getLong(0) === 1L)
    assert(r.getLong(1) === "hello world".getBytes("UTF-8").length.toLong)
    val feat = r.getSeq[Double](2)
    assert(feat.length === 3)
    // model: mean / variance / n of the payload bytes
    val bytes = "hello world".getBytes("UTF-8").map(_ & 0xff)
    val mean = bytes.sum.toDouble / bytes.length
    assert(math.abs(feat.head - mean) < 1e-9)
    assert(feat(2) === bytes.length.toDouble)
    // re-running yields identical features (deterministic stand-in codec)
    val again = Multimodal.decodeFeatures(Multimodal.withPayload(docs))
      .orderBy("doc_id").collect()
    assert(again.map(_.toString).toSeq === out.map(_.toString).toSeq)
  }

  test("byteShinglesOf + MinHash finds payload near-dups and the quality gate keeps/drops correctly") {
    // two near-identical payloads (one word changed), one unrelated, one tiny
    val base = (0 until 60).map(i => s"word$i").mkString(" ")
    val other = (0 until 60).map(i => s"zq${i * 7}x").mkString(" ")
    val mmDocs = Seq(
      (10L, base, "en", "src0", base.length.toLong),
      (11L, base.replace("word30", "wordXX"), "en", "src0", base.length.toLong),
      (12L, other, "en", "src1", other.length.toLong),
      (13L, "tiny", "en", "src1", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val mm = Multimodal.withPayload(mmDocs)

    val pairs = Dedup.minhashScoredPairsOfSets(
        Dedup.docShingleSetsFromShingles(Multimodal.byteShinglesOf(mm)))
      .filter(col("jaccard") >= 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 11L)), s"near-dup payload pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L),
      s"unrelated payload paired: $pairs")

    // the stateless in-row payload signature must equal the exploded
    // index build bit-for-bit (the property that lets a stream reuse the
    // stored index semantics) — same pin as the text twin in DedupSpec
    val inRow = Multimodal.byteMinhashInRow(mm)
      .select(col("doc_id"), posexplode(col("bands")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))
      .orderBy("doc_id", "band").collect().map(_.toString).toSeq
    val exploded = Dedup.minhashBandsFromShingles(Multimodal.byteShinglesOf(mm))
      .orderBy("doc_id", "band").collect().map(_.toString).toSeq
    assert(inRow === exploded, "in-row payload signature diverged from index build")

    val q = Multimodal.qualityOf(mm)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(q(10L) && q(11L) && q(12L), s"healthy payloads must pass: $q")
    assert(!q(13L), s"tiny payload must gate out: $q")

    // integrity slot: metadata that lies about n_bytes trips keep even
    // when the decoded quality is fine
    val lying = mm.withColumn("media", struct(
      col("media.mime").as("mime"),
      (col("media.n_bytes") + 1).as("n_bytes"),
      col("media.hint").as("hint")))
    val q2 = Multimodal.qualityOf(lying)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(q2.values.forall(_ == false), s"integrity mismatch must gate out: $q2")
  }

  test("streamed payload gate: an arriving near-dup payload is flagged " +
    "against the byte-shingle index, a novel payload is not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = (0 until 60).map(i => s"word$i").mkString(" ")
    val corpus = Seq((1L, base, "en", "src0", base.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpusSh = Multimodal.byteShinglesOf(Multimodal.withPayload(corpus))
    val bands = Dedup.minhashBandsFromShingles(corpusSh)
    val sets = Dedup.docShingleSetsFromShingles(corpusSh)

    val nearDup = base.replace("word30", "wordXX")
    val novel = (0 until 60).map(i => s"zq${i * 7}x").mkString(" ")
    val in = MemoryStream[(Long, String, String)](spark)
    // the stream signs each arriving payload IN-ROW (stateless) and
    // probes the prebuilt index — the gate's production shape
    val q = Dedup.dedupAgainstCorpusSigned(
        Multimodal.byteMinhashInRow(Multimodal.withPayload(
          in.toDF().toDF("doc_id", "text", "lang"))),
        bands, sets)
      .writeStream.format("memory").queryName("mmgate")
      .outputMode("append").start()
    try {
      in.addData((1000L, nearDup, "en"), (1001L, novel, "en"))
      q.processAllAvailable()
      val hits = spark.table("mmgate")
        .select("doc_id", "corpus_doc").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((1000L, 1L)), s"near-dup payload not flagged: $hits")
      assert(!hits.exists(_._1 == 1001L), s"novel payload falsely flagged: $hits")
    } finally q.stop()
  }

  test("pack tuning: the interleaved ctx curve conserves the packed " +
    "frame's token mass and obeys the padding identity") {
    val rnd = new scala.util.Random(41)
    val corpus = (0L until 40L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(60))("w" + rnd.nextInt(9)).mkString(" "),
        "en", s"src${i % 3}", 50L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val packedMass = Multimodal.mmPackOf(corpus, nShards = 4L)
      .agg(sum("mm_tok")).head.getLong(0)
    val curve = Multimodal.mmPackTuningOf(corpus, nShards = 4L,
      ctxs = Seq(64L, 128L, 512L)).collect()
    curve.foreach { r =>
      assert(r.getAs[Long]("n_tokens") === packedMass,
        s"curve lost interleaved token mass: $r")
      assert(r.getAs[Long]("n_tokens") + r.getAs[Long]("waste_tok") ===
        r.getAs[Long]("n_chunks") * r.getAs[Long]("ctx"),
        s"padding identity broken: $r")
    }
  }

  test("metadata-only queries prune the payload column from the parquet scan") {
    val dir = Files.createTempDirectory("graft-mm").toString
    Multimodal.withPayload(docs).write.mode("overwrite").parquet(dir)

    val meta = spark.read.parquet(dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("media.n_bytes")).as("total_bytes"))
    val scanLine = meta.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // the scan reads source + media, NOT the payload bytes (nor text)
    assert(scanLine.contains("media"), scanLine)
    assert(!scanLine.contains("payload"), scanLine)
    assert(!scanLine.contains("text"), scanLine)

    // and the payload round-trips intact when asked for
    val full = spark.read.parquet(dir).filter(col("doc_id") === 1)
      .select(decode(col("payload"), "UTF-8").as("t")).head()
    assert(full.getString(0) === "hello world")
  }

  test("decodeEmbedding emits a normalized 64-bin byte histogram (deterministic)") {
    val out = Multimodal.decodeEmbedding(Multimodal.withPayload(docs))
      .orderBy("vec_id").collect()
    assert(out.length === 2)
    val emb = out.head.getSeq[Double](1)
    assert(emb.length === 64)
    // sums to 1 (normalized), and matches a hand histogram of the bytes
    assert(math.abs(emb.sum - 1.0) < 1e-12)
    val bytes = "hello world".getBytes("UTF-8")
    val cnt = new Array[Long](64)
    bytes.foreach(b => cnt((b & 0xff) >> 2) += 1L)
    cnt.zipWithIndex.foreach { case (c, i) =>
      assert(emb(i) === c.toDouble / bytes.length, s"bin $i")
    }
  }

  test("mm semantic ops stay quantizer-local: pair/probe joins are equi-keyed " +
      "on cid, never cartesian") {
    // same contract PlanAuditSpec pins for the sim_* twins: the ONLY
    // nested-loop allowed is the deliberate nlist-row centroid broadcast
    // (assignment + scoring passes); the within-cluster pair join and the
    // probe→inverted-list→query joins must all be equi-joins
    val sf = "/root/testdata/sf0.001"
    for (key <- Seq("mm_semantic_dedup", "mm_knn")) {
      val p = graft.SparkEntry.queries(key)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$key:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
        || p.contains("ShuffledHashJoin"), s"$key:\n$p")
    }
  }

  test("mm_text_align pairs the towers by item-id equi-join — never a " +
      "similarity search, never a nested loop") {
    // misalignment is a property of the (payload, caption) PAIR: the plan
    // must join the two towers on id (plus the doc source lookup) with
    // hash joins only — a cartesian/nested-loop here would be the
    // O(n²)-at-100TB accident the op exists to avoid
    val p = graft.SparkEntry.queries("mm_text_align")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("a warm construction of the mm semantic keys runs no job: the payload " +
      "vectors are a build-once artifact") {
    val sf = "/root/testdata/sf0.001"
    val keys = Seq("mm_semantic_dedup", "mm_knn", "mm_semantic_gate",
      "mm_semantic_decon", "mm_decon_report", "mm_text_align")
    keys.foreach(k => graft.SparkEntry.queries(k)(spark, sf))
    keys.foreach(k =>
      assert(jobLabelsDuring(graft.SparkEntry.queries(k)(spark, sf)) === Nil, k))
  }
}
