package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Common._
import Similarity.Ivf

/** Multimodal-column support (SURVEY.md §2.9 X5).
  *
  * Design: media payloads are opaque `BinaryType` columns ridden alongside a
  * typed metadata struct (`mime`, `n_bytes`, decode hints). All relational
  * operators pass them through untouched (Parquet stores binary natively;
  * column pruning means queries that don't touch the payload never read it —
  * essential at 100 TB where payload bytes dominate the table).
  *
  * The decode / feature-extract step is the one place that genuinely needs
  * per-row imperative code (image/audio codecs). The real pipeline shape is
  * `mapPartitions` over an iterator of rows — batched, no driver collect,
  * arbitrary native libs loadable per-partition. The codec libraries are not
  * in this container, so [[decodeFeatures]] plugs a DETERMINISTIC FAKE
  * decoder into that real plumbing: schema, partitioning, and batch shape
  * are production-true; only the innermost bytes→pixels call is faked.
  *
  * No upstream analog: the reference (klahnakoski/TestLog-ETL) carries test
  * *logs*, not media; this is mandated by BASELINE.json's north-star scope.
  */
object Multimodal {

  /** Wrap the documents table as a multimodal table: payload = UTF-8 bytes
    * of `text` (a deterministic stand-in for image/audio bytes), plus the
    * typed metadata struct every multimodal row carries. Pure Column ops —
    * codegen'd, no UDF. */
  def withPayload(docs: DataFrame): DataFrame =
    docs
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("media", struct(
        lit("text/plain").as("mime"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("lang").as("hint")))

  /** X5a: metadata-only query — the common case at scale: aggregate over the
    * typed metadata WITHOUT touching payload bytes. Column pruning must drop
    * `payload` from the scan (verified via explain in MultimodalSpec). */
  val mmMeta: Q = (s, d) => {
    withPayload(t(s, d, "documents"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("media.n_bytes")).as("total_bytes"),
        max(col("media.n_bytes")).as("max_bytes"))
      .orderBy("source")
  }

  /** X5b: frame sampling — the video-shaped access pattern: each doc has
    * n "frames" (deterministic: one per 100 payload bytes, min 1); sample
    * every 3rd frame. sequence+explode is the Spark-native generator — the
    * same plan shape as sampling real video frame indexes before a decode
    * pass. */
  val mmFrames: Q = (s, d) => {
    withPayload(t(s, d, "documents"))
      .withColumn("n_frames", greatest(lit(1L), (col("media.n_bytes") / 100).cast("long")))
      .withColumn("frame_id", explode(expr("sequence(0, n_frames - 1)")))
      .filter(col("frame_id") % 3 === 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sampled"), max("frame_id").as("last_frame"))
      .orderBy("doc_id")
  }

  /** Output schema of the feature-extract stage. */
  private val featSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("feat", ArrayType(DoubleType))))

  /** The decode / feature-extract stage: mapPartitions over (doc_id,
    * payload) rows — the production shape for codec work (per-partition
    * batching, codec state initialized once per partition, never on the
    * driver).
    *
    * STUB: `fakeDecode` stands in for the real bytes→features codec call
    * (image decode + embed, audio fingerprint, …) since no codec libs ship
    * in this container. It is deterministic (byte histogram moments) so
    * tests are stable; swap ONLY this function for a real codec. */
  def decodeFeatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs.select("doc_id", "payload")
      .rdd.mapPartitions { it =>
      // Real pipeline: initialize codec/native lib here, once per partition.
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        Row(id, bytes.length.toLong, fakeDecode(bytes))
      }
    }
    spark.createDataFrame(rdd, featSchema)
  }

  /** Deterministic stand-in for a media codec: mean/variance/entropy-ish
    * moments of the byte histogram. Replace with the real decoder. */
  private def fakeDecode(bytes: Array[Byte]): Array[Double] = {
    if (bytes.isEmpty) return Array(0.0, 0.0, 0.0)
    var sum = 0.0; var sq = 0.0
    bytes.foreach { b => val v = (b & 0xff).toDouble; sum += v; sq += v * v }
    val n = bytes.length.toDouble
    val mean = sum / n
    Array(mean, sq / n - mean * mean, n)
  }

  /** X5c: the decode stage as a DRIVER-GATED query — [[decodeFeatures]]'s
    * mapPartitions plumbing runs end-to-end and its output hash-matches
    * the DuckDB oracle: the fake codec's byte-histogram moments are exact
    * integer sums under 2^53 (ASCII payloads), so both engines derive
    * bit-identical doubles from the identical bytes. The one rows-only
    * hole in the X5 family closes: schema, partition batching, AND the
    * produced features are all oracle-checked; a real codec swaps in for
    * `fakeDecode` with the rest of the pipeline already proven. */
  val mmFeatures: Q = (s, d) => {
    val feats = decodeFeatures(withPayload(t(s, d, "documents")))
    feats.select(col("doc_id"), col("n_bytes"),
        r4(col("feat")(0)).as("mean_byte"),
        r4(col("feat")(1)).as("var_byte"))
      .orderBy("doc_id")
      .limit(300)
  }

  /** Output schema of the embedding head. */
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** X5j: the codec's EMBEDDING head — the second output a real media
    * decoder produces alongside scalar features: a fixed-dimension
    * vector that places the payload in a similarity space (CLIP-style
    * image embedding, audio fingerprint). Same mapPartitions plumbing as
    * [[decodeFeatures]] (per-partition codec init, no driver collect).
    *
    * STUB: `fakeEmbed` stands in for the real bytes→vector model with a
    * 64-bin NORMALIZED BYTE HISTOGRAM (bucket = byte >> 2, value =
    * count/len — the "color histogram" of the stand-in payload): it is
    * deterministic, discriminates real payload structure (unlike the
    * 3-moment feature vector, whose cosine is degenerate), and both its
    * counts and the count/len division are exact in double, so a SQL
    * oracle replays it bit-identically. Swap ONLY this function for a
    * real embedder; everything downstream (quantizer store, SemDeDup,
    * kNN routing) is model-agnostic. */
  def decodeEmbedding(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs.select("doc_id", "payload").rdd.mapPartitions { it =>
      // Real pipeline: load the embedding model here, once per partition.
      it.map { r => Row(r.getLong(0), fakeEmbed(r.getAs[Array[Byte]](1))) }
    }
    spark.createDataFrame(rdd, embSchema)
  }

  /** Deterministic stand-in for a media embedding model: 64-bin
    * normalized byte histogram. Replace with the real embedder. */
  private def fakeEmbed(bytes: Array[Byte]): Array[Double] = {
    val cnt = new Array[Long](64)
    bytes.foreach { b => cnt((b & 0xff) >> 2) += 1L }
    val n = bytes.length.toDouble
    cnt.map(c => if (bytes.isEmpty) 0.0 else c.toDouble / n)
  }

  /** The payload-embedding table the semantic mm ops index, over ANY
    * documents-shaped frame: one vector per non-empty payload, doc_id as
    * vec_id. Materialized: the decode pass is an RDD boundary Catalyst
    * cannot dedupe, so the quantizer training + every downstream probe
    * reads the 64·n-double table instead of re-running the codec per
    * plan branch — the same "decode once, index many" shape a real
    * pipeline has, where the decode pass is the expensive stage and its
    * output is the artifact. */
  private[graft] def payloadVecsOf(docs: DataFrame): DataFrame =
    materialize(decodeEmbedding(withPayload(docs).filter(length(col("payload")) > 0)),
      "mm.payload_vecs")

  /** The payload-embedding table of the standard documents (vec_id =
    * doc_id, non-empty payloads) as a build-once artifact (`mm_vecs`):
    * the codec runs once per (session, dataset), and the mm quantizer,
    * every mm semantic key, the text-align towers and the ST23 batch
    * source read the stored vectors. Doubles round-trip parquet
    * bit-exactly, so the stored table equals [[payloadVecsOf]]. */
  private[graft] def mmVecsOf(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.buildOnce(s, "mm_vecs", d) { dd =>
      payloadVecsOf(t(s, d, "documents")).write.mode("overwrite").parquet(s"$dd/vecs")
    }
    graft.Tables.parquet(s, s"$dir/vecs")
  }

  /** X5k: SEMANTIC payload dedup — SemDeDup over the codec's embedding
    * vectors, closing the gap byte-shingle dedup ([[mmDedup]]) cannot:
    * two re-encodes of the same image share no payload bytes but sit at
    * cosine ≈ 1 in embedding space. The machinery is
    * [[Similarity.semanticDedup]] verbatim — within-cluster pairs only,
    * through the STORED mm quantizer (its own artifact, family
    * `mm_quantizer`: trained once per (session, dataset), probed by every
    * mm semantic op). τ=0.999 suits the histogram embedder's compressed
    * cosine range (the embeddings-table τ=0.35 would keep everything).
    * Scale shape: identical to sim_semantic_dedup — broadcast-scored
    * centroids, one shuffle on cid, never all-pairs. */
  val mmSemanticDedup: Q = (s, d) =>
    Similarity.semanticDedup(Ivf.stored(s, d, "mm_quantizer")(mmVecsOf(s, d)), tau = 0.999)

  /** X5l: cross-set semantic kNN routing over payload embeddings — the
    * [[Similarity.knnJoin]] probe (nprobe=2 lists, exact top-3 inside
    * them) through the same stored mm quantizer: "route each incoming
    * image to its nearest existing corpus entries" for
    * curation/retrieval, the multimodal twin of sim_knn_join. Query set
    * = vec_id % 10 == 0, corpus = the rest, as the sim twin pins. */
  val mmKnn: Q = (s, d) =>
    Similarity.knnJoin(Ivf.stored(s, d, "mm_quantizer")(mmVecsOf(s, d)))

  /** X5o: the SEMANTIC online admission gate — the embedding-space twin
    * of [[mmOnlineGate]] (byte shingles): an arriving payload slice
    * (vec_id % 100 == 0, the deterministic stand-in for a micro-batch)
    * is embedded, probes the STORED mm quantizer's nprobe=2 nearest
    * lists, and is flagged when its nearest corpus payload sits at
    * cosine ≥ τ — "is this image semantically already in the corpus?"
    * priced per arriving item, corpus untouched. Same probe plan as
    * [[mmKnn]] (cid-equi, broadcast queries), readout = top-1 + the
    * flag, so the stream-side decision set is exactly what the oracle
    * replays. */
  val mmSemanticGate: Q = (s, d) =>
    Similarity.knnJoin(Ivf.stored(s, d, "mm_quantizer")(mmVecsOf(s, d)),
        col("vec_id") % 100 === 0)
      .filter(col("rnk") === 1)
      .select(col("qid"), col("nid").as("nearest"), col("cosine"),
        (col("cosine") >= 0.999).as("flagged"))
      .orderBy("qid")

  /** X5p: multimodal SEMANTIC DECONTAMINATION — the embedding-space
    * eval-integrity pass for payloads: a held-out benchmark slice
    * (vec_id % 10 == 0, the eval-set stand-in) probes the stored mm
    * quantizer; any CORPUS payload in a probed list at rounded cosine
    * ≥ τ is flagged with its worst-offending bench item — "which
    * training images are near-copies of eval images". Byte-shingle
    * decon misses a re-encode; this catches it. Same plan as
    * [[Similarity.simSemanticDecon]]: bench broadcasts, candidates are
    * cid-equi against the replicated inverted lists, never all-pairs. */
  val mmSemanticDecon: Q = (s, d) =>
    Similarity.semanticDecon(Ivf.stored(s, d, "mm_quantizer")(mmVecsOf(s, d)), tau = 0.999)

  /** X5p-audit: the per-BENCH-ITEM triage — every eval payload rowed
    * (n_contaminated = 0 is the answer that matters), worst corpus
    * offender attached. [[Similarity.deconReport]] verbatim over the mm
    * index. */
  val mmDeconReport: Q = (s, d) =>
    Similarity.deconReport(Ivf.stored(s, d, "mm_quantizer")(mmVecsOf(s, d)), tau = 0.999)

  /** X5q: CROSS-MODAL ALIGNMENT gate — the LAION/DataComp "CLIP-score
    * filter" shape: score every (payload, caption) pair by the cosine
    * between the media tower's payload embedding and the text tower's
    * embedding for the SAME item, then keep the best-aligned quartile
    * PER SOURCE (rank-based, so one source's systematically flat scores
    * don't starve another — the DataComp lesson). The two towers here
    * are the container's deterministic stand-ins (the codec's 64-bin
    * byte histogram, [[decodeEmbedding]], and the embeddings table as
    * the text tower), but the plumbing is production-true: decode once
    * (the stored [[mmVecsOf]] pass), EQUI-join the towers on item
    * id — never a cross-join; misalignment is a property of the pair,
    * not a search — one codegen'd dot product per pair, ntile gate per
    * source. At 100 TB both towers are id-partitioned parquet and this
    * is a co-partitioned join plus a per-source window over score
    * scalars. */
  def textAlignFrom(payloadVecs: DataFrame, textVecs: DataFrame,
      docs: DataFrame): DataFrame = {
    val pv = payloadVecs.select(col("vec_id").as("doc_id"),
        col("embedding").as("pv"))
      .withColumn("pn", graft.functions.DotProduct(col("pv"), col("pv")))
    val tv = textVecs.select(col("vec_id").as("doc_id"),
        transform(col("embedding"), _.cast("double")).as("tv"))
      .withColumn("tn", graft.functions.DotProduct(col("tv"), col("tv")))
    val w = Window.partitionBy("source").orderBy(desc("align"), asc("doc_id"))
    pv.join(tv, Seq("doc_id"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .withColumn("align", r4(
        graft.functions.DotProduct(col("pv"), col("tv")) /
          (sqrt(col("pn")) * sqrt(col("tn")))))
      .withColumn("quartile", ntile(4).over(w))
      .select(col("doc_id"), col("source"), col("align"), col("quartile"),
        (col("quartile") === 1).as("kept"))
      .orderBy("doc_id")
  }

  val mmTextAlign: Q = (s, d) =>
    textAlignFrom(mmVecsOf(s, d), t(s, d, "embeddings"), t(s, d, "documents"))

  /** X5m: INTERLEAVED multimodal sequence packing — the batch-assembly
    * step for an image+text trainer: each doc's cost in the packed
    * stream is its text tokens PLUS the patch tokens its payload decodes
    * to (ceil(n_bytes / patchBytes) — the ViT patch-grid arithmetic over
    * the stand-in payload) plus 2 modality sentinels (begin/end media
    * markers, the interleaved-corpus convention). The coordinates reuse
    * [[TextOps.packChunks]]'s per-shard concat-and-chunk recipe verbatim
    * — cumulative cost per hash shard, chunk = cum div ctx — so the
    * trainer's reader is the SAME for text-only and interleaved shards;
    * only the cost column differs. Metadata-only arithmetic: the payload
    * bytes are never read (column pruning drops them — the n_bytes field
    * rides in the typed metadata struct), which is the point at 100 TB:
    * packing plans over petabytes of media from the KB-scale metadata.
    * Pure integer arithmetic → oracle-exact. */
  def mmPackOf(docs: DataFrame, ctx: Long = 2048L, nShards: Long = 8L,
      patchBytes: Long = 64L): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    withPayload(docs)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_text_tok"),
        ((col("media.n_bytes") + patchBytes - 1L) / patchBytes).cast("long")
          .as("n_patches"))
      .withColumn("mm_tok", col("n_text_tok") + col("n_patches") + lit(2L))
      .withColumn("cum_before", coalesce(sum("mm_tok").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_text_tok"), col("n_patches"),
        col("mm_tok"),
        (col("cum_before") / ctx).cast("long").as("chunk_id"),
        (col("cum_before") % ctx).as("chunk_offset"))
  }

  val mmPack: Q = (s, d) =>
    mmPackOf(t(s, d, "documents")).orderBy("doc_id").limit(300)

  /** X5i: interleaved PACKING-CONTEXT TUNING — [[graft.llm.TextOps
    * .packTuningOf]]'s closed-form ctx curve over the MULTIMODAL cost
    * (text tokens + patch tokens + sentinels): gap-free interleaved
    * packing pins the same ceil/underfill geometry, so the curve needs
    * only the per-shard mm_tok sums — no decode, no per-ctx re-pack.
    * The waste answer differs materially from the text twin because
    * payload patches fatten documents (fewer docs per chunk → more
    * underfill at small ctx). */
  val mmPackTuning: Q = (s, d) => mmPackTuningOf(t(s, d, "documents"))

  /** The same census over ANY documents-shaped frame (jx `corpus_op`
    * entry point). */
  def mmPackTuningOf(docs: DataFrame, nShards: Long = 8L,
      patchBytes: Long = 64L,
      ctxs: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L)): DataFrame =
    graft.llm.TextOps.packTuningFrom(
      withPayload(docs).select(
        pmod(col("doc_id"), lit(nShards)).as("shard"),
        (size(split(col("text"), " ")).cast("long")
          + ((col("media.n_bytes") + patchBytes - 1L) / patchBytes).cast("long")
          + lit(2L)).as("n_tok")),
      ctxs)

  /** One micro-batch's per-shard partials of the INTERLEAVED packing —
    * [[graft.llm.TextOps.packPartialsOf]]'s recipe with the multimodal
    * cost column ([[mmPackOf]]'s text+patches+sentinels arithmetic):
    * doc/token sums + xor fingerprint, all distributive, merged by the
    * SAME [[graft.llm.TextOps.packMergeFrom]] (the column contract is
    * the point — one merge algebra serves text-only and interleaved
    * shards). */
  def mmPackPartialsOf(docs: DataFrame, nShards: Long = 8L,
      patchBytes: Long = 64L): DataFrame =
    withPayload(docs)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).as("shard"),
        (size(split(col("text"), " ")).cast("long")
          + ((col("media.n_bytes") + patchBytes - 1L) / patchBytes).cast("long")
          + 2L).as("n_tok"),
        expr("CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)").as("content_h"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        expr("bit_xor(content_h)").as("content_fp"))

  /** X5n: the trainer-facing manifest of the INTERLEAVED shards — chunk
    * geometry over the multimodal token cost. The oracle derives
    * n_chunks from the packed COORDINATES (max last-token chunk + 1,
    * [[graft.llm.TextOps.packManifest]]'s invariant form), so the
    * merge-side ceil(n_tokens/ctx) derivation stays pinned to the
    * gap-free packing arithmetic, not merely to itself. */
  val mmPackManifest: Q = (s, d) =>
    graft.llm.TextOps.packMergeFrom(mmPackPartialsOf(t(s, d, "documents")))

  /** Byte shingles of the payload — the multimodal twin of
    * [[Dedup.shinglesOf]]'s word shingles: every sampled 4-byte window of
    * the raw payload, hashed into the same md5-derived 60-bit space. The
    * library signs and scores them in-row ([[byteMinhashInRow]]);
    * [[byteShinglesOf]] emits them exploded as `(doc_id, h)` rows, the
    * reference MultimodalSpec pins the in-row form against. Hex-encoding
    * the blob once and slicing 8-char windows keeps the whole shingle
    * pass in codegen'd Column ops (no UDF, no byte-array lambda), and is
    * what lets the DuckDB oracle reproduce identical hashes: both engines
    * window the SAME uppercase hex string. At 100 TB the pass is linear
    * in payload bytes and feeds the standard banded-LSH join — payload
    * near-dup never goes all-pairs for the same reason text near-dup
    * doesn't. */
  /** Content-defined window sampling (the `dedup_substring` winnowing/CDC
    * trick applied at the byte level): a window is kept iff its raw
    * 32-bit value mod 1009 lands under 252 (≈1/4), decided BEFORE the
    * md5 — skipped windows never pay the hash. Selection by content, not
    * position, so the same payload region samples the same windows in
    * every document regardless of alignment; the mod-prime of the FULL
    * window mixes all four bytes, keeping the kept-set unbiased w.r.t.
    * sharing structure (a single-byte rule oversamples word-boundary
    * windows and inflates cross-doc Jaccard ~145× on this corpus).
    * Cuts the shingle volume — the whole chain's cost driver: one window
    * per payload byte — 4× while near-dup payloads keep near-identical
    * sampled sets. */
  private val SampledWindowsSql =
    """transform(
         filter(sequence(0, CAST(length(hx) / 2 AS INT) - 4),
                i -> CAST(conv(substr(hx, 2 * i + 1, 8), 16, 10) AS BIGINT) % 1009 < 252),
         i -> substr(hx, 2 * i + 1, 8))"""

  def byteShinglesOf(mm: DataFrame): DataFrame =
    // byte-window md5 pass — same scan-only repartition rationale as
    // [[Dedup.shinglesOf]] (Common.spreadScan: no-op on composed frames)
    graft.operators.Common.spreadScan(mm)
      .withColumn("hx", hex(col("payload")))
      .filter(length(col("hx")) >= 8)
      .select(col("doc_id"), explode(expr(SampledWindowsSql)).as("sh"))
      .select(col("doc_id"),
        expr("CAST(conv(substr(md5(sh), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .distinct()

  /** X5d: payload-level near-duplicate pairs — image/audio copy detection
    * re-expressed on the text stand-in payloads. The ENTIRE MinHash
    * machinery is reused verbatim over [[byteMinhashInRow]]'s in-row
    * shingle sets (signature mins, 4×2 banding, bucket join,
    * exact-Jaccard verify, [[Dedup.PairGraph.ofSets]]): the point of the
    * `(doc_id, hs)` set interface is that "what gets shingled" is the
    * only modality-specific code. With a real codec,
    * swap the hex windows for decoded-frame pHashes and the chain is
    * untouched.
    *
    * MEASURE SEMANTICS: similarity is the exact Jaccard of the
    * content-SAMPLED window sets (the operator's feature space), not of
    * all windows — the same estimator stance as SimHash hamming or the
    * KMV overlap. On this templated synthetic corpus the borderline
    * 0.4–0.5 full-window mass means the sampled threshold admits more
    * pairs than the full-window one would; on real media bytes (or
    * pHash streams) that bulk doesn't exist. The oracle replays the
    * sampled space verbatim, so the gate is exact for the measure as
    * defined. */
  /** The standard-corpus route probes a build-once stored pair graph
    * (the `minhash_pairs` store recipe applied to payloads): the
    * shingle→band→verify chain runs once per (session, dataset) and
    * every readout — driver key and jx route — is a KB-scale probe.
    * r4'd doubles round-trip parquet bit-exactly, so stored ≡ in-plan
    * under the oracle. */
  private[llm] def mmPairStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "mm_pairs", d) { dd =>
      payloadPairsOf(t(s, d, "documents"))
        .write.mode("overwrite").parquet(s"$dd/pairs")
    }

  val mmDedup: Q = (s, d) =>
    Dedup.pairsReadout(graft.Tables.parquet(s, s"${mmPairStore(s, d)}/pairs"))

  /** The payload pairs (da, db, jaccard) of ANY documents-shaped frame,
    * scored from its in-row byte-shingle sets ([[byteMinhashInRow]]),
    * materialized once for the band and verify sides. */
  private[llm] def payloadPairsOf(docsIn: DataFrame): DataFrame =
    Dedup.PairGraph.ofSets(docsIn, materialize(
      byteMinhashInRow(withPayload(docsIn)).select("doc_id", "hs", "n_sh"), "mm.payload_sets")).pairs

  /** [[mmDedup]] over ANY documents-shaped frame — the jx `corpus_op`
    * front end's IN-PLAN fallback; the standard corpus goes through the
    * store. */
  def dedupPairsOf(docsIn: DataFrame): DataFrame = Dedup.pairsReadout(payloadPairsOf(docsIn))

  /** Per-payload quality/integrity gate over the DECODED features — the
    * multimodal twin of the text quality score, shaped for pipeline
    * composition: (doc_id, n_bytes, mean_byte, var_byte, q, keep).
    * Factors: payload size (tiny payloads are truncated fetches), decoded
    * mean in the expected band (32–127 for text/plain payloads — a real
    * codec would check luma/loudness range), non-degenerate variance
    * (constant bytes = corrupt or blank media); `keep` additionally
    * requires the decoded length to MATCH the metadata's n_bytes (the
    * integrity slot a real decode failure would trip). */
  def qualityOf(mm: DataFrame): DataFrame = {
    val meta = mm.select(col("doc_id"), col("media.n_bytes").as("meta_bytes"))
    decodeFeatures(mm)
      .join(meta, Seq("doc_id"))
      .select(col("doc_id"), col("n_bytes"),
        r4(col("feat")(0)).as("mean_byte"),
        r4(col("feat")(1)).as("var_byte"),
        r4(when(col("n_bytes") < 100, 0.2).otherwise(1.0) *
           when(col("feat")(0).between(32.0, 127.0), 1.0).otherwise(0.5) *
           when(col("feat")(1) > 100.0, 1.0).otherwise(0.5)).as("q"),
        (r4(when(col("n_bytes") < 100, 0.2).otherwise(1.0) *
            when(col("feat")(0).between(32.0, 127.0), 1.0).otherwise(0.5) *
            when(col("feat")(1) > 100.0, 1.0).otherwise(0.5)) >= 0.5 &&
          col("n_bytes") === col("meta_bytes")).as("keep"))
  }

  /** X5e: the gate as a driver key. Same exactness argument as
    * mm_features: the fake codec's moments are exact integer sums under
    * 2^53, so thresholds compare bit-identical doubles in both engines. */
  val mmQuality: Q = (s, d) => qualityReport(t(s, d, "documents"))

  /** [[mmQuality]] over ANY documents-shaped frame — the jx `corpus_op`
    * front end's entry. */
  def qualityReport(docsIn: DataFrame): DataFrame =
    qualityOf(withPayload(docsIn))
      .orderBy("doc_id")
      .limit(300)

  /** The STATELESS in-row form of [[byteShinglesOf]]'s signatures — hex
    * windows, md5 hashes, minhash mins, and band keys all as array
    * expressions on each row (no explode, no groupBy), via the shared
    * [[Dedup.minhashInRowFromHashes]] back half. Identical output to the
    * exploded build by the same min-over-multiset argument as the text
    * twin (MultimodalSpec pins it), which is what lets the SAME payload
    * index semantics gate an unbounded stream of arriving media rows:
    * per-row map, zero state. A payload with no sampled window keeps its
    * row with an empty `hs` and null `bands`, so it bands into no bucket:
    * a filter on `hs` would be pushed below the scan repartition and run
    * the whole md5 chain a second time in the scan's single task, with
    * `hx` inlined into every window (measured at sf0.1: 9.5 s for the
    * corpus sets, against 4.2 s for the exploded build). */
  def byteMinhashInRow(mm: DataFrame): DataFrame = {
    val shArr =
      s"""transform($SampledWindowsSql,
           w -> CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT))"""
    Dedup.minhashInRowFromHashes(
      // heavy per-row hex/md5 chain over a scan-shaped probe slice —
      // same scan-only repartition rationale as [[byteShinglesOf]]
      graft.operators.Common.spreadScan(mm)
        .withColumn("hx", hex(col("payload")))
        .filter(length(col("hx")) >= 8)
        .withColumn("hs", expr(s"array_sort(array_distinct($shArr))")))
      .drop("hx")
  }

  /** X5f: online payload-dedup gate — the multimodal twin of
    * `dedup_online_gate`: a probe slice of arriving payloads, signed
    * IN-ROW, band-joined against the session-stored byte-shingle index
    * (build-once/probe-many; the probe pays only its own signature plus
    * two index joins — the production shape for "is this image/audio
    * already in the corpus?" at ingest time). */
  val mmOnlineGate: Q = (s, d) => {
    val mm = withPayload(t(s, d, "documents"))
    val dir = Artifacts.buildOnce(s, "mm_gate", d)(dd =>
      Dedup.writeBandIndex(byteMinhashInRow(mm), s"$dd"))
    Dedup.dedupAgainstCorpusSigned(
        materialize(byteMinhashInRow(mm.filter(col("doc_id") % 10 === 0)),
          "mm.probe_signatures"),
        graft.Tables.parquet(s, s"$dir/bands"), graft.Tables.parquet(s, s"$dir/sets"))
      .filter(col("doc_id") =!= col("corpus_doc"))
      .distinct()
      .orderBy(desc("jaccard"), asc("doc_id"), asc("corpus_doc"))
  }

  /** X5g: per-source payload health — the dashboard-shaped rollup of the
    * quality gate (n, kept, keep rate, mean quality per source). The mean
    * sums through DECIMAL (q is already 4-dp, so the cast is exact) —
    * the §4.1 order-independence rule for decision-feeding means. */
  val mmQualityBySource: Q = (s, d) => {
    val mm = withPayload(t(s, d, "documents"))
    qualityOf(mm).join(mm.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        r4(expr("sum(cast(q as decimal(14,4)))").cast("double") /
          count(lit(1))).as("mean_q"))
      .withColumn("keep_rate",
        r4(col("n_keep").cast("double") / col("n_docs")))
      .select("source", "n_docs", "n_keep", "keep_rate", "mean_q")
      .orderBy("source")
  }

  /** X5h: payload near-dup pressure — the one-row monitoring summary of
    * the stored pair graph (pair count, docs touched, mean sampled
    * Jaccard via exact decimal sum). KB-scale probe of [[mmDedup]]'s
    * store. */
  val mmDedupStats: Q = (s, d) => {
    val pairs = mmDedup(s, d)
    val docs = pairs.select(col("da").as("id"))
      .unionByName(pairs.select(col("db").as("id")))
      .agg(countDistinct("id").as("n_docs"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        r4(expr("sum(cast(jaccard as decimal(14,4)))").cast("double") /
          count(lit(1))).as("mean_jaccard"))
      .crossJoin(docs)
      .select("n_pairs", "n_docs", "mean_jaccard")
  }

  val queries: Map[String, Q] = Map(
    "mm_meta" -> mmMeta,
    "mm_frames" -> mmFrames,
    "mm_features" -> mmFeatures,
    "mm_pack" -> mmPack,
    "mm_pack_tuning" -> mmPackTuning,
    "mm_pack_manifest" -> mmPackManifest,
    "mm_dedup" -> mmDedup,
    "mm_quality" -> mmQuality,
    "mm_online_gate" -> mmOnlineGate,
    "mm_quality_by_source" -> mmQualityBySource,
    "mm_dedup_stats" -> mmDedupStats,
    "mm_semantic_dedup" -> mmSemanticDedup,
    "mm_text_align" -> mmTextAlign,
    "mm_knn" -> mmKnn,
    "mm_semantic_gate" -> mmSemanticGate,
    "mm_semantic_decon" -> mmSemanticDecon,
    "mm_decon_report" -> mmDeconReport)

  /** The byte-shingle front CTE (the oracle twin of [[byteShinglesOf]]):
    * 8-hex-char (4-byte) windows of the payload blob, md5-hashed into the
    * same 60-bit space as the Spark side. */
  /** The byte-shingle CTE over ANY (doc_id, text) relation — `documents`
    * for the standard keys, the purged corpus for the forget gate. */
  private[llm] def byteShCteFrom(src: String): String =
    s"""bx AS (SELECT doc_id, hex(encode(text)) AS hx FROM $src),
       sh AS (SELECT DISTINCT doc_id,
                     CAST('0x' || substr(md5(unnest(
                       [substr(hx, CAST(2 * i + 1 AS INT), 8)
                        for i in generate_series(0, CAST(len(hx) / 2 AS INT) - 4)
                        if CAST('0x' || substr(hx, CAST(2 * i + 1 AS INT), 8) AS BIGINT) % 1009 < 252])),
                       1, 15) AS BIGINT) AS h
              FROM bx WHERE len(hx) >= 8)"""

  private val byteShCte: String = byteShCteFrom("documents")

  /** Source CTEs for the payload-EMBEDDING replay (the oracle twin of
    * [[decodeEmbedding]]'s fakeEmbed): enumerate payload bytes (hex the
    * blob, slice 2-char chunks — byte-exact like mm_features), bucket by
    * b>>2, densify over the 0..63 grid, normalize by the byte count.
    * Counts and count/len are exact in double, so `v` is bit-identical
    * to the Spark side's histogram. Empty payloads drop out (no mch
    * rows), mirroring the Spark-side length(payload)>0 filter. Produces
    * the `vn(vec_id, v, norm2)` / `fl(vec_id, f)` contract
    * [[Similarity.ivfChainCteFor]] trains over. */
  private val mmEmbCte: String =
    """mch AS (SELECT doc_id,
                      CAST('0x' || substr(h, CAST(2 * i - 1 AS INT), 2) AS INT) AS b
               FROM (SELECT doc_id, hex(encode(text)) AS h,
                            unnest(generate_series(1, octet_length(encode(text)))) AS i
                     FROM documents)),
       mhn AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM mch GROUP BY doc_id),
       mhc AS (SELECT doc_id, b // 4 AS bk, count(*) AS c FROM mch GROUP BY 1, 2),
       vn0 AS (SELECT g.doc_id AS vec_id,
                      list(CAST(coalesce(h.c, 0) AS DOUBLE) / g.n ORDER BY g.bk) AS v
               FROM (SELECT m.doc_id, m.n, gs.bk
                     FROM mhn m CROSS JOIN generate_series(0, 63) gs(bk)) g
               LEFT JOIN mhc h ON h.doc_id = g.doc_id AND h.bk = g.bk
               GROUP BY g.doc_id),
       vn AS (SELECT vec_id, v,
                     list_reduce([v[i] * v[i] for i in generate_series(1, 64)],
                                 (x, y) -> x + y) AS norm2
              FROM vn0),
       fl AS (SELECT vec_id, v AS f FROM vn)"""

  val oracle: Map[String, String] = Map(
    "mm_meta" ->
      """SELECT source, count(*) AS n_docs,
                CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
         FROM documents GROUP BY source ORDER BY source""",
    "mm_pack" ->
      """WITH mpb AS (SELECT doc_id, doc_id % 8 AS shard,
                             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_text_tok,
                             CAST((octet_length(encode(text)) + 63) // 64 AS BIGINT)
                               AS n_patches
                      FROM documents),
           mpc AS (SELECT doc_id, shard, n_text_tok, n_patches,
                          n_text_tok + n_patches + 2 AS mm_tok
                   FROM mpb),
           mpp AS (SELECT doc_id, shard, n_text_tok, n_patches, mm_tok,
                          CAST(coalesce(sum(mm_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                          AND 1 PRECEDING), 0)
                               AS BIGINT) AS cum_before
                   FROM mpc)
         SELECT doc_id, shard, n_text_tok, n_patches,
                CAST(mm_tok AS BIGINT) AS mm_tok,
                CAST(cum_before // 2048 AS BIGINT) AS chunk_id,
                cum_before % 2048 AS chunk_offset
         FROM mpp ORDER BY doc_id LIMIT 300""",
    "mm_pack_tuning" ->
      """WITH mks AS (SELECT doc_id % 8 AS shard,
                             CAST(sum(len(string_split(text, ' '))
                                      + (octet_length(encode(text)) + 63) // 64
                                      + 2) AS BIGINT) AS shard_tok
                      FROM documents GROUP BY 1),
           mkc AS (SELECT CAST(unnest([512, 1024, 2048, 4096]) AS BIGINT) AS ctx),
           mkx AS (SELECT c.ctx, s.shard_tok,
                          CAST((s.shard_tok + c.ctx - 1) // c.ctx AS BIGINT)
                            AS n_chunks
                   FROM mks s CROSS JOIN mkc c)
         SELECT ctx, CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
                CAST(sum(shard_tok) AS BIGINT) AS n_tokens,
                CAST(sum(n_chunks * ctx - shard_tok) AS BIGINT) AS waste_tok,
                CAST((1000 * CAST(sum(shard_tok) AS BIGINT))
                     // (CAST(sum(shard_tok) AS BIGINT)
                         + CAST(sum(n_chunks * ctx - shard_tok) AS BIGINT))
                     AS BIGINT) AS fill_permille
         FROM mkx GROUP BY 1 ORDER BY ctx""",
    "mm_pack_manifest" ->
      """WITH mmb AS (SELECT doc_id, doc_id % 8 AS shard,
                             CAST(len(string_split(text, ' '))
                                  + (octet_length(encode(text)) + 63) // 64 + 2
                                  AS BIGINT) AS n_tok,
                             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
                               AS content_h
                      FROM documents),
           mmp AS (SELECT doc_id, shard, n_tok, content_h,
                          CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                         AND 1 PRECEDING), 0)
                               AS BIGINT) AS cum_before
                   FROM mmb)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(max((cum_before + n_tok - 1) // 2048) + 1 AS BIGINT) AS n_chunks,
                CAST(CAST(sum(n_tok) AS BIGINT)
                     - (max((cum_before + n_tok - 1) // 2048)) * 2048 AS BIGINT)
                  AS last_fill,
                bit_xor(content_h) AS content_fp
         FROM mmp GROUP BY shard ORDER BY shard""",
    // BYTE-exact, not character-exact: the Spark side hashes UTF-8 BYTES
    // of the payload, so the oracle enumerates encode(text)'s bytes (hex
    // the blob once, slice 2-char chunks) rather than ascii() code points
    // — identical on ASCII but divergence-proof on multi-byte text — and
    // LEFT JOINs so an empty doc keeps its (0, 0.0, 0.0) row exactly as
    // fakeDecode emits it.
    "mm_features" ->
      """WITH ch AS (
           SELECT doc_id,
                  CAST('0x' || substr(h, CAST(2 * i - 1 AS INT), 2) AS INT) AS b
           FROM (SELECT doc_id, hex(encode(text)) AS h,
                        unnest(generate_series(1, octet_length(encode(text)))) AS i
                 FROM documents)),
         agg AS (
           SELECT doc_id,
                  CAST(sum(b) AS DOUBLE) AS s,
                  CAST(sum(b * b) AS DOUBLE) AS sq,
                  CAST(count(*) AS DOUBLE) AS n
           FROM ch GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
                coalesce(round(s / n, 4), 0.0) AS mean_byte,
                coalesce(round(sq / n - (s / n) * (s / n), 4) + 0.0, 0.0) AS var_byte
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id LIMIT 300""",
    // the word-shingle oracle's engine-generic back half (signature,
    // banding, bucket join, Jaccard verify) pointed at BYTE shingles:
    // 8-hex-char (4-byte) windows of the payload blob, md5-hashed into
    // the same 60-bit space as the Spark side
    "mm_dedup" ->
      s"""WITH ${Dedup.minhashCteFromShingles(byteShCte)}
         SELECT da, db, round(cc * 1.0 / (na + nb - cc), 4) AS jaccard
         FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5
         ORDER BY jaccard DESC, da ASC, db ASC""",
    // the text online gate's oracle (probe slice vs corpus index) over
    // the byte shingles
    "mm_online_gate" -> Dedup.onlineGateOracle(byteShCte),
    // pair-graph monitoring summary over the same chain; mean jaccard
    // through the exact decimal sum
    "mm_dedup_stats" ->
      s"""WITH ${Dedup.minhashCteFromShingles(byteShCte)},
           fp AS (SELECT da, db, round(cc * 1.0 / (na + nb - cc), 4) AS jaccard
                  FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           dd AS (SELECT count(DISTINCT id) AS n_docs FROM
                    (SELECT da AS id FROM fp UNION ALL SELECT db FROM fp))
         SELECT count(*) AS n_pairs,
                CAST(dd.n_docs AS BIGINT) AS n_docs,
                round(CAST(sum(CAST(jaccard AS DECIMAL(14,4))) AS DOUBLE)
                      / count(*), 4) AS mean_jaccard
         FROM fp CROSS JOIN dd GROUP BY dd.n_docs""",
    // mm_features' byte-moment CTE plus the quality factors; LEFT JOIN +
    // coalesce keeps empty payloads (they gate to q=0.05, keep=false,
    // exactly as fakeDecode's (0,0,0) row does). `keep` replays the
    // Spark gate's FULL predicate, including the integrity conjunct
    // decoded-length == metadata n_bytes (dec_bytes, the ch chain's byte
    // count, vs octet_length of the payload — the same two quantities
    // qualityOf compares), so oracle and gate are the same contract, not
    // merely coincident on corpora where withPayload makes them equal.
    "mm_quality" ->
      """WITH ch AS (
           SELECT doc_id,
                  CAST('0x' || substr(h, CAST(2 * i - 1 AS INT), 2) AS INT) AS b
           FROM (SELECT doc_id, hex(encode(text)) AS h,
                        unnest(generate_series(1, octet_length(encode(text)))) AS i
                 FROM documents)),
         agg AS (
           SELECT doc_id,
                  CAST(sum(b) AS DOUBLE) AS s,
                  CAST(sum(b * b) AS DOUBLE) AS sq,
                  CAST(count(*) AS DOUBLE) AS n
           FROM ch GROUP BY doc_id),
         q0 AS (
           SELECT d.doc_id,
                  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
                  coalesce(CAST(n AS BIGINT), 0) AS dec_bytes,
                  coalesce(s / n, 0.0) AS mean0,
                  coalesce(sq / n - (s / n) * (s / n), 0.0) AS var0
           FROM documents d LEFT JOIN agg USING (doc_id))
         SELECT doc_id, n_bytes,
                round(mean0, 4) AS mean_byte,
                round(var0, 4) + 0.0 AS var_byte,
                round((CASE WHEN n_bytes < 100 THEN 0.2 ELSE 1.0 END) *
                      (CASE WHEN mean0 BETWEEN 32.0 AND 127.0 THEN 1.0 ELSE 0.5 END) *
                      (CASE WHEN var0 > 100.0 THEN 1.0 ELSE 0.5 END), 4) AS q,
                (round((CASE WHEN n_bytes < 100 THEN 0.2 ELSE 1.0 END) *
                      (CASE WHEN mean0 BETWEEN 32.0 AND 127.0 THEN 1.0 ELSE 0.5 END) *
                      (CASE WHEN var0 > 100.0 THEN 1.0 ELSE 0.5 END), 4) >= 0.5
                 AND dec_bytes = n_bytes) AS keep
         FROM q0 ORDER BY doc_id LIMIT 300""",
    // mm_quality's byte-moment chain rolled up per source; means sum
    // through DECIMAL(14,4) (q is 4-dp, the cast is exact)
    "mm_quality_by_source" ->
      """WITH ch AS (
           SELECT doc_id,
                  CAST('0x' || substr(h, CAST(2 * i - 1 AS INT), 2) AS INT) AS b
           FROM (SELECT doc_id, hex(encode(text)) AS h,
                        unnest(generate_series(1, octet_length(encode(text)))) AS i
                 FROM documents)),
         agg AS (
           SELECT doc_id,
                  CAST(sum(b) AS DOUBLE) AS s,
                  CAST(sum(b * b) AS DOUBLE) AS sq,
                  CAST(count(*) AS DOUBLE) AS n
           FROM ch GROUP BY doc_id),
         q0 AS (
           SELECT d.doc_id, d.source,
                  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
                  coalesce(s / n, 0.0) AS mean0,
                  coalesce(sq / n - (s / n) * (s / n), 0.0) AS var0
           FROM documents d LEFT JOIN agg USING (doc_id)),
         qq AS (
           SELECT doc_id, source,
                  round((CASE WHEN n_bytes < 100 THEN 0.2 ELSE 1.0 END) *
                        (CASE WHEN mean0 BETWEEN 32.0 AND 127.0 THEN 1.0 ELSE 0.5 END) *
                        (CASE WHEN var0 > 100.0 THEN 1.0 ELSE 0.5 END), 4) AS q
           FROM q0)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                round(CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 4) AS keep_rate,
                round(CAST(sum(CAST(q AS DECIMAL(14,4))) AS DOUBLE)
                      / count(*), 4) AS mean_q
         FROM qq GROUP BY source ORDER BY source""",
    "mm_frames" ->
      """WITH f AS (
           SELECT doc_id,
                  greatest(1, octet_length(encode(text)) // 100) AS n_frames
           FROM documents),
         fr AS (
           SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_id
           FROM f)
         SELECT doc_id, count(*) AS n_sampled, max(frame_id) AS last_frame
         FROM fr WHERE frame_id % 3 = 0
         GROUP BY doc_id ORDER BY doc_id""",
    // semantic payload dedup: the embedding replay + the shared quantizer
    // chain, then sim_semantic_dedup's back half verbatim at the mm τ —
    // the filter on the RAW cosine (bit-identical left-fold doubles),
    // rounding only on the reported pair
    "mm_semantic_dedup" ->
      s"""WITH $mmEmbCte,
           ${graft.llm.Similarity.ivfChainCteFor(64, 16)},
           mem AS (SELECT a.cid, v.vec_id, v.v, v.norm2
                   FROM assign a JOIN vn v USING (vec_id)),
           pairs AS (
             SELECT a.cid, a.vec_id, b.vec_id AS bid,
                    list_reduce([a.v[k] * b.v[k] for k in generate_series(1, 64)],
                                (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(b.norm2)) AS cos
             FROM mem a JOIN mem b ON a.cid = b.cid AND b.vec_id < a.vec_id),
           hits AS (SELECT cid, vec_id, bid, cos,
                           row_number() OVER (PARTITION BY cid, vec_id
                                              ORDER BY bid ASC) AS rn
                    FROM pairs WHERE cos >= 0.999)
         SELECT cid, vec_id, bid AS dup_of, round(cos, 4) AS cosine
         FROM hits WHERE rn = 1 ORDER BY cid, vec_id""",
    // cross-modal alignment: the histogram replay joined to the text
    // tower on item id — one rounded cosine per pair, ntile gate over
    // the ROUNDED score with doc_id tie-break (both engines rank the
    // identical r4 doubles)
    "mm_text_align" ->
      s"""WITH $mmEmbCte,
           mtt AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS tv
                   FROM embeddings),
           mtn AS (SELECT vec_id, tv,
                          list_reduce([tv[i] * tv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) AS tn
                   FROM mtt),
           mal AS (SELECT v.vec_id AS doc_id, d.source,
                          round(list_reduce([v.v[k] * t.tv[k] for k in generate_series(1, 64)],
                                            (x, y) -> x + y)
                                / (sqrt(v.norm2) * sqrt(t.tn)), 4) + 0.0 AS align
                   FROM vn v JOIN mtn t ON t.vec_id = v.vec_id
                   JOIN documents d ON d.doc_id = v.vec_id),
           mq AS (SELECT *, CAST(ntile(4) OVER (PARTITION BY source
                                 ORDER BY align DESC, doc_id ASC) AS INT) AS quartile
                  FROM mal)
         SELECT doc_id, source, align, quartile, quartile = 1 AS kept
         FROM mq ORDER BY doc_id""",
    // cross-set semantic routing: sim_knn_join's probe replay over the
    // payload-embedding quantizer (nprobe=2, exact top-3, rank over the
    // ROUNDED cosine with nid tie-break)
    "mm_knn" ->
      s"""WITH $mmEmbCte,
           ${graft.llm.Similarity.ivfChainCteFor(64, 16)},
           inv AS (SELECT a.cid, v.vec_id AS nid, v.v AS nv, v.norm2 AS nn
                   FROM assign a JOIN vn v USING (vec_id)
                   WHERE v.vec_id % 10 <> 0),
           probes AS (SELECT vec_id AS qid, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rk
             FROM scored WHERE vec_id % 10 = 0) WHERE rk <= 2),
           q AS (SELECT vec_id AS qid, v AS qv, norm2 AS qn FROM vn
                 WHERE vec_id % 10 = 0),
           cand AS (
             SELECT p.qid, i.nid,
                    round(list_reduce([q.qv[k] * i.nv[k] for k in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(q.qn) * sqrt(i.nn)), 4) + 0.0 AS cosine
             FROM probes p JOIN inv i USING (cid) JOIN q ON q.qid = p.qid)
         SELECT qid, rnk, nid, cosine FROM (
           SELECT qid, nid, cosine,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cosine DESC, nid ASC) AS INT) AS rnk
           FROM cand) WHERE rnk <= 3
         ORDER BY qid, rnk""",
    // the semantic online gate: mm_knn's probe replay restricted to the
    // arriving slice (%100), top-1 only, plus the τ flag applied to the
    // ROUNDED cosine exactly as the Spark side filters it
    "mm_semantic_gate" ->
      s"""WITH $mmEmbCte,
           ${graft.llm.Similarity.ivfChainCteFor(64, 16)},
           inv AS (SELECT a.cid, v.vec_id AS nid, v.v AS nv, v.norm2 AS nn
                   FROM assign a JOIN vn v USING (vec_id)
                   WHERE v.vec_id % 100 <> 0),
           probes AS (SELECT vec_id AS qid, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rk
             FROM scored WHERE vec_id % 100 = 0) WHERE rk <= 2),
           q AS (SELECT vec_id AS qid, v AS qv, norm2 AS qn FROM vn
                 WHERE vec_id % 100 = 0),
           cand AS (
             SELECT p.qid, i.nid,
                    round(list_reduce([q.qv[k] * i.nv[k] for k in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(q.qn) * sqrt(i.nn)), 4) + 0.0 AS cosine
             FROM probes p JOIN inv i USING (cid) JOIN q ON q.qid = p.qid)
         SELECT qid, nid AS nearest, cosine, cosine >= 0.999 AS flagged FROM (
           SELECT qid, nid, cosine,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, nid ASC) AS rnk
           FROM cand) WHERE rnk = 1
         ORDER BY qid""",
    // semantic payload decontamination: the embedding replay + quantizer
    // chain + the shared sd-prefixed decon replay at the mm τ, rolled up
    // per corpus vector exactly as sim_semantic_decon's oracle does
    "mm_semantic_decon" ->
      s"""WITH $mmEmbCte,
           ${graft.llm.Similarity.ivfChainCteFor(64, 16)},
           ${graft.llm.Similarity.deconOracleCtesOn(c => s"$c % 10 = 0", tau = 0.999)},
           sdagg AS (SELECT nid, bid, cosine,
                            row_number() OVER (PARTITION BY nid
                                               ORDER BY cosine DESC, bid ASC) AS rn,
                            count(*) OVER (PARTITION BY nid) AS nh
                     FROM sdhit)
         SELECT nid AS vec_id, bid AS bench_id, cosine, CAST(nh AS INT) AS n_hits
         FROM sdagg WHERE rn = 1 ORDER BY vec_id""",
    // the per-bench-item triage: every eval payload rowed, zero-hit
    // items visible, worst corpus offender attached
    "mm_decon_report" ->
      s"""WITH $mmEmbCte,
           ${graft.llm.Similarity.ivfChainCteFor(64, 16)},
           ${graft.llm.Similarity.deconOracleCtesOn(c => s"$c % 10 = 0", tau = 0.999)},
           sdrep AS (SELECT bid, nid, cosine,
                            row_number() OVER (PARTITION BY bid
                                               ORDER BY cosine DESC, nid ASC) AS rn,
                            count(*) OVER (PARTITION BY bid) AS nh
                     FROM sdhit)
         SELECT b.bid AS bench_id,
                CAST(coalesce(r.nh, 0) AS INT) AS n_contaminated,
                coalesce(r.nid, -1) AS worst_vec,
                coalesce(r.cosine, 0.0) AS max_cosine
         FROM sdb b LEFT JOIN (SELECT * FROM sdrep WHERE rn = 1) r ON r.bid = b.bid
         ORDER BY bench_id""")
}
