package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Common._

/** T13b–T13e: right-to-be-FORGOTTEN propagation into the engine's own
  * STORED artifacts (upstream: the idempotent re-ETL contract of
  * activedata_etl/etl.py applied to derived indexes). `etl_forget` purges
  * a raw table and its derived aggregate; a real GDPR delete must also
  * reach the build-once/probe-many index stores this engine maintains —
  * otherwise the pair graph still holds the forgotten doc's shingles, the
  * IVF inverted lists its vectors, and the BM25 dictionary its term
  * partials. One tombstone rule across the family (doc_id % 37 == 0 — a
  * compliance feed in production), one forgotten-store build per base
  * store, and one gate discipline: **store-after-forget must hash-equal a
  * rebuild from the purged corpus** (the DuckDB oracle IS that rebuild).
  *
  * Deletion strategy is per-store, matching each store's algebra:
  *
  *  - **MinHash pair graph** (`minhash_pairs`): pairs are per-pair local
  *    (band keys and Jaccard of (a,b) never depend on other docs; the LSH
  *    band join carries no bucket cap), so deletion is an anti-join on
  *    either endpoint — EXACTLY the purged-corpus pair set. CC labels are
  *    recomputed only for AFFECTED components (those containing a
  *    tombstoned doc — removing a bridge doc can split its component and
  *    removing a component's min id renames it); unaffected components
  *    keep their stored labels verbatim. At 100 TB the delta touches
  *    |affected pairs| rows, not the corpus.
  *  - **IVF inverted lists** (`quantizer_16`): assignment rows are
  *    per-vector, so deletion is one anti-join on vec_id. The coarse
  *    quantizer (the MODEL) stays frozen — the documented store-the-model
  *    discipline; retraining is the separate `sim_quantizer_refresh`
  *    path — so "rebuild from purged corpus" means assigning the
  *    survivors through the same frozen centroids, which the oracle
  *    replays exactly (full-corpus training CTE + survivor filter).
  *  - **BM25 dictionary** (ST24 `df_store_stream`): df/cf sum across
  *    batches but max_tf/top_doc do NOT subtract, so the forget pass
  *    re-derives the per-batch partials of ONLY the batches that
  *    contained a tombstoned doc (the affected-batch set is computed from
  *    the tombstones) from the purged raw slice — the reference's
  *    "re-process the affected partition" contract — and copies every
  *    untouched batch partition verbatim. At 100 TB with date-partitioned
  *    batches the tombstones hit few partitions; cost is |affected
  *    batches|, not the corpus.
  *
  * Idempotence (a redelivered compliance feed must be a no-op) is by
  * construction — anti-joins of already-absent keys and re-derivation of
  * already-purged batches are fixpoints — and pinned by ForgetSpec, which
  * also pins store-after-forget == rebuild-from-purged inside Spark (the
  * driver oracle then re-proves it cross-engine at every gate SF).
  */
object Forget {

  /** The family-wide tombstone rule over any id column. */
  private def tombstoned(c: org.apache.spark.sql.Column) = c % 37 === 0

  // ——— T13b/T13c: MinHash pair graph + CC labels ———

  /** The scored (da, db, jaccard) pairs with no endpoint in `tomb` (one
    * `doc_id` column): two broadcast anti-joins. */
  private[llm] def dropPairs(pairs: DataFrame, tomb: DataFrame): DataFrame =
    pairs
      .join(broadcast(tomb.select(col("doc_id").as("da"))), Seq("da"), "left_anti")
      .join(broadcast(tomb.select(col("doc_id").as("db"))), Seq("db"), "left_anti")
      .select("da", "db", "jaccard")

  /** The pure delta: (surviving pairs, updated labels) from the stored
    * (pairs, labels) and a tombstone frame (one `doc_id` column), the
    * body of [[Dedup.PairGraph.forget]]. Public to the spec so
    * idempotence and rebuild-equality are pinned on the FRAME algebra,
    * not just the store wiring. */
  private[llm] def forgetPairFrames(pairs0: DataFrame, labels0: DataFrame,
      tomb: DataFrame): (DataFrame, DataFrame) = {
    val kept = dropPairs(pairs0, tomb)
    // components holding a tombstoned doc: only these can change (a
    // removed doc can split its own component or take its min-id label
    // with it; no other component gains or loses an edge)
    val affectedLbls = labels0
      .join(broadcast(tomb.select(col("doc_id").as("id"))), Seq("id"))
      .select("lbl").distinct()
    val untouched = labels0
      .join(broadcast(affectedLbls), Seq("lbl"), "left_anti")
      .select("id", "lbl")
    val affPairs = kept
      .join(labels0.select(col("id").as("da"), col("lbl")), Seq("da"))
      .join(broadcast(affectedLbls), Seq("lbl"), "left_semi")
      .select("da", "db")
    (kept, untouched.unionByName(Dedup.clusterLabelsFrom(affPairs)))
  }

  /** `g` with the family's tombstoned docs forgotten: the in-plan
    * forget, which IS the rebuild-from-purged the store gate pins equal
    * (the jx `corpus_op` forget routes over a non-standard corpus). */
  def forgotten(g: Dedup.PairGraph): Dedup.PairGraph =
    g.forget(g.docs.select("doc_id").filter(tombstoned(col("doc_id"))))

  /** The stored pair graph with the tombstoned docs forgotten, as its own
    * build-once store over the purged documents. */
  private[graft] def forgottenPairGraph(s: SparkSession, d: String): Dedup.PairGraph = {
    val dir = Artifacts.buildOnce(s, "minhash_pairs_forgotten", d) { dd =>
      val g = forgotten(Dedup.PairGraph.stored(s, d))
      g.pairs.write.mode("overwrite").parquet(s"$dd/pairs")
      g.labels.write.mode("overwrite").parquet(s"$dd/labels")
    }
    Dedup.PairGraph.at(s, t(s, d, "documents").filter(!tombstoned(col("doc_id"))), dir)
  }

  val dedupForgetPairs: Q = (s, d) => Dedup.pairsReadout(forgottenPairGraph(s, d).pairs)

  val dedupForgetClusters: Q = (s, d) => Dedup.clusters(forgottenPairGraph(s, d))

  def forgetIvfOf(embs: DataFrame): DataFrame = {
    val assign = Similarity.Ivf.of(embs, 16).assign
    val tomb = embs.select("vec_id").filter(tombstoned(col("vec_id")))
    listsReadout(assign.join(broadcast(tomb), Seq("vec_id"), "left_anti"))
  }

  def forgetDictOf(docs: DataFrame): DataFrame =
    TextOps.invertedIndexOf(docs.filter(!tombstoned(col("doc_id"))))

  /** In-plan twins of the T13h–T13k stores — the rebuild-from-purged each
    * store gate pins equal (jx `corpus_op` fallbacks for non-standard
    * corpora). */
  def forgetManifestOf(docs: DataFrame): DataFrame =
    TextOps.shardManifest(docs.filter(!tombstoned(col("doc_id"))))

  def forgetNoveltyOf(docs: DataFrame): DataFrame =
    TextOps.ngramNoveltyOf(docs.filter(!tombstoned(col("doc_id"))))

  /** SQ8 forget in-plan: per-dim stats stay FROZEN on the full frame
    * (the model), codes/queries purge — the store path's exact algebra. */
  def forgetSq8Of(embs: DataFrame): DataFrame = {
    val vecs = Similarity.sq8Doubles(embs)
    val stats = Similarity.sq8StatsOf(vecs)
    val codes = Similarity
      .sq8Encode(vecs.filter(!tombstoned(col("vec_id"))), stats)
      .crossJoin(broadcast(stats))
    val queries = Similarity.sq8Queries(
      embs.filter(!tombstoned(col("vec_id"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    Similarity.sq8ScoresFrom(codes, queries)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("int").as("rnk"),
        col("nid"), col("adot"))
      .orderBy("qid", "rnk")
  }

  // ——— T13d: IVF inverted lists (frozen quantizer) ———

  private def forgottenIvfStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "quantizer_16_forgotten", d) { dd =>
      val tomb = t(s, d, "embeddings").select("vec_id")
        .filter(tombstoned(col("vec_id")))
      Similarity.Ivf.stored(s, d)().assign
        .join(broadcast(tomb), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$dd/assign")
    }

  /** Per-list readout after the forget: member count, key checksum, and
    * an order-free xor membership fingerprint (the ST10 recipe) — content
    * proof of WHICH vectors survived in each list. */
  private def listsReadout(assign: DataFrame): DataFrame =
    assign
      .withColumn("member_h",
        expr("CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum("vec_id").as("key_sum"),
        min("vec_id").as("min_vec"),
        max("vec_id").as("max_vec"),
        expr("bit_xor(member_h)").as("member_fp"))
      .orderBy("cid")

  val simForgetIvf: Q = (s, d) =>
    listsReadout(graft.Tables.parquet(s, s"${forgottenIvfStore(s, d)}/assign"))

  // ——— T13g: multimodal payload pair graph ———

  /** The text pair-graph argument holds verbatim for the PAYLOAD pair
    * store (byte-shingle MinHash is the same per-pair-local chain over
    * in-row shingle sets, no bucket cap), so forgetting is the same two
    * broadcast anti-joins ([[dropPairs]]). No label table in this store —
    * the mm family's clustering rides the text machinery downstream. */
  private def forgottenMmPairStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "mm_pairs_forgotten", d) { dd =>
      val base = Multimodal.mmPairStore(s, d)
      val tomb = t(s, d, "documents").select("doc_id")
        .filter(tombstoned(col("doc_id")))
      dropPairs(graft.Tables.parquet(s, s"$base/pairs"), tomb)
        .write.mode("overwrite").parquet(s"$dd/pairs")
    }

  val mmForgetPairs: Q = (s, d) =>
    Dedup.pairsReadout(graft.Tables.parquet(s, s"${forgottenMmPairStore(s, d)}/pairs"))

  /** In-plan twin (jx `forget_knn` fallback): full rebuild over the
    * purged membership — by ForgetSpec's pin, exactly what the store's
    * re-rank delta equals. */
  def forgetKnnOf(embs: DataFrame): DataFrame = {
    val tomb = embs.select("vec_id").filter(tombstoned(col("vec_id")))
    val mem = Similarity.knnMembership(Similarity.Ivf.of(embs, 16), p = 3)
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
    Similarity.knnEdgesFromMem(mem, k = 3).orderBy("src", "rnk")
  }

  /** In-plan twin (jx `forget_payload` fallback). */
  def forgetPayloadPairsOf(docs: DataFrame): DataFrame =
    Dedup.pairsReadout(dropPairs(Multimodal.payloadPairsOf(docs),
      docs.select("doc_id").filter(tombstoned(col("doc_id")))))

  // ——— T13f: kNN-graph edges (the re-rank delta) ———

  /** Forgetting a vector from a kNN GRAPH is more than row deletion: a
    * surviving query whose top-k contained the deleted vector gets a
    * vacated slot — the (k+1)-th candidate enters. The exact delta:
    * drop tombstoned queries' rows; queries that LOST a neighbor (an
    * edge row with a tombstoned dst — by construction the stored rows
    * ARE the top-k, so losing one ⇔ rank shift) re-probe against the
    * purged membership; every other query's stored rows are already the
    * purged rebuild's rows verbatim (candidates only shrank below rank
    * k). Delta cost = |affected queries| × their probed lists, not the
    * corpus; the quantizer stays frozen (the model discipline). */
  private def forgottenKnnStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "knn_graph_forgotten", d) { dd =>
      val tomb = t(s, d, "embeddings").select("vec_id")
        .filter(tombstoned(col("vec_id")))
      val edges = Similarity.KnnGraph.stored(s, d).edges
      val keptSrc = edges
        .join(broadcast(tomb.select(col("vec_id").as("src"))), Seq("src"), "left_anti")
      val affected = keptSrc
        .join(broadcast(tomb.select(col("vec_id").as("dst"))), Seq("dst"), "left_semi")
        .select("src").distinct()
      val untouched = keptSrc
        .join(broadcast(affected), Seq("src"), "left_anti")
        .select("src", "rnk", "dst", "cosine", "cid")
      val mem = Similarity.knnMembership(Similarity.Ivf.stored(s, d)(), p = 3)
        .join(broadcast(tomb), Seq("vec_id"), "left_anti")
      val reprobed = Similarity.knnEdgesFromMem(mem, k = 3,
        srcFilter = Some(affected))
      untouched.unionByName(reprobed)
        .write.mode("overwrite").parquet(s"$dd/edges")
    }

  val simForgetKnn: Q = (s, d) =>
    graft.Tables.parquet(s, s"${forgottenKnnStore(s, d)}/edges").orderBy("src", "rnk")

  // ——— T13e: ST24 BM25 dictionary ———

  /** The T13e core over an ARBITRARY tombstone frame: affected batches
    * (by the store's own [[graft.streaming.Streams.dictBatches]] rule)
    * re-derive from the purged raw slice; untouched batch partitions copy
    * VERBATIM (partials round-trip parquet bit-exactly) — the re-ETL
    * contract. Returns the affected batch ids so ForgetSpec can pin the
    * delta as genuinely partial (|affected| < |batches|, untouched > 0)
    * with a single-batch tombstone set the %37 gate rule can't produce. */
  private[llm] def forgottenDictInto(s: SparkSession, docs: DataFrame,
      tomb: DataFrame, baseC: String, outC: String): Seq[Long] = {
    val nB = graft.streaming.Streams.dictBatches
    // which batches must re-process? derived from the tombstones via
    // the store's own batch rule — a bounded (≤ |batches|) driver list
    val affected: Seq[Long] = tomb
      .select(pmod(col("doc_id"), lit(nB)).as("batch_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    graft.Tables.parquet(s, baseC)
      .filter(!col("batch_id").isin(affected: _*))
      .write.mode("overwrite").partitionBy("batch_id").parquet(outC)
    affected.foreach { bid =>
      graft.streaming.Streams.dfStoreSink(
        docs.filter(col("doc_id") % nB === bid)
          .join(broadcast(tomb.select("doc_id")), Seq("doc_id"), "left_anti"),
        bid, outC)
    }
    affected
  }

  private def forgottenDictStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "df_store_forgotten", d) { dd =>
      val docs = t(s, d, "documents")
      val tomb = docs.select("doc_id").filter(tombstoned(col("doc_id")))
      forgottenDictInto(s, docs, tomb,
        s"${graft.streaming.Streams.dfStoreDir(s, d)}/c", s"$dd/c")
    }

  val textForgetDict: Q = (s, d) =>
    graft.streaming.Streams.dfStoreReadout(s, s"${forgottenDictStore(s, d)}/c")

  // ——— T13h: trainer-facing MANIFEST stores (shard export / corpus
  // release) — the pure-algebra forget ———

  /** Forget applied to a MANIFEST by its own merge algebra (upstream:
    * the accretive S3 key manifests of activedata_etl/etl.py, here the
    * [[TextOps.mergeManifests]] algebra run in reverse): counts and
    * token/byte sums SUBTRACT, the xor content fingerprint SELF-CANCELS
    * (x ^ x = 0), so the purged manifest is base ⊕ tombstone-partial —
    * KB-scale work, no corpus re-scan. The ONE column pair that does not
    * subtract is the (min_doc, max_doc) id range: an endpoint is only
    * wrong when the extreme doc itself was tombstoned (⇔ the group's
    * tombstone min/max EQUALS the stored endpoint — tombstones are a
    * subset), and only those groups re-derive their range from their
    * survivor rows. Groups whose every doc died vanish, matching the
    * rebuild. Cost at 100 TB: |tombstones| + |survivors of the few
    * endpoint-affected groups|.
    *
    * `base` carries (grp…, n_docs, n_tokens, n_bytes, min_doc, max_doc,
    * content_fp); `tombDocs`/`survivors` carry (grp…, doc_id, n_toks,
    * n_bytes, content_h). */
  private[llm] def manifestForget(base: DataFrame, tombDocs: DataFrame,
      survivors: DataFrame, grp: Seq[String]): DataFrame = {
    val neg = tombDocs.groupBy(grp.map(col): _*).agg(
      count(lit(1)).as("t_docs"),
      sum("n_toks").as("t_tokens"),
      sum("n_bytes").as("t_bytes"),
      expr("bit_xor(content_h)").as("t_fp"),
      min("doc_id").as("t_min"),
      max("doc_id").as("t_max"))
    val patched = base.join(broadcast(neg), grp, "left")
      .withColumn("n_docs", col("n_docs") - coalesce(col("t_docs"), lit(0L)))
      .withColumn("n_tokens", col("n_tokens") - coalesce(col("t_tokens"), lit(0L)))
      .withColumn("n_bytes", col("n_bytes") - coalesce(col("t_bytes"), lit(0L)))
      .withColumn("content_fp", when(col("t_fp").isNull, col("content_fp"))
        .otherwise(expr("content_fp ^ t_fp")))
      .filter(col("n_docs") > 0)
    val endpointDead =
      (col("t_min") <=> col("min_doc")) || (col("t_max") <=> col("max_doc"))
    val outCols = grp.map(col) ++ Seq(col("n_docs"), col("n_tokens"),
      col("n_bytes"), col("min_doc"), col("max_doc"), col("content_fp"))
    val untouched = patched.filter(!endpointDead).select(outCols: _*)
    val affected = patched.filter(endpointDead)
      .drop("min_doc", "max_doc")
    val fixedRanges = survivors
      .join(broadcast(affected.select(grp.map(col): _*)), grp, "left_semi")
      .groupBy(grp.map(col): _*)
      .agg(min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
    untouched.unionByName(
        affected.join(fixedRanges, grp).select(outCols: _*))
      .orderBy(grp.map(col): _*)
  }

  /** Per-doc manifest columns over a documents frame, with the stable
    * md5 shard key — the tombstone/survivor side of [[manifestForget]]. */
  private def shardedDocCols(docs: DataFrame): DataFrame =
    docs
      .withColumn("shard", TextOps.shardCol(16))
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_bytes", col("n_chars").cast("long"))
      .withColumn("content_h", expr(
        "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)"))
      .select("doc_id", "shard", "n_toks", "n_bytes", "content_h")

  /** T13h: the shard-export MANIFEST forgotten by pure algebra — the
    * write-side contract a trainer validates, kept honest after a GDPR
    * delete without re-manifesting the corpus. Base = the STORED
    * manifest artifact (16 rows, built once); delta = the tombstones'
    * own manifest partial; ranges re-derive only where an endpoint died
    * (the survivor scan is the rare branch, id-range-prunable at 100 TB).
    * Gate: must hash-equal the purged-corpus manifest (the oracle IS
    * that rebuild). */
  private def manifestStoreDir(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "shard_manifest_store", d) { dd =>
      TextOps.shardManifest(t(s, d, "documents"))
        .write.mode("overwrite").parquet(s"$dd/m")
    }

  val textForgetManifest: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val base = graft.Tables.parquet(s, s"${manifestStoreDir(s, d)}/m")
    val tombDocs = shardedDocCols(docs.filter(tombstoned(col("doc_id"))))
    val survivors = shardedDocCols(docs.filter(!tombstoned(col("doc_id"))))
    manifestForget(base, tombDocs, survivors, Seq("shard"))
  }

  /** T13h-export: the forget applied to the export STORE's bytes — GDPR
    * requires the doc's bytes gone from disk, not only from the summary.
    * Affected shard partitions rewrite via broadcast anti-join; untouched
    * partitions copy verbatim; the readout re-derives the manifest FROM
    * THE FILES AS WRITTEN, so the gate is a statement about the bytes on
    * disk. Returns the affected shard list for ForgetSpec's partial-delta
    * pin. */
  private[llm] def forgottenExportInto(s: SparkSession, tomb: DataFrame,
      baseDocs: String, outDocs: String): Seq[Long] = {
    val affected: Seq[Long] = tomb
      .select(TextOps.shardCol(16).as("shard")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val base = graft.Tables.parquet(s, baseDocs)
      .withColumn("shard", col("shard").cast("long"))
    base.filter(!col("shard").isin(affected: _*))
      .write.mode("overwrite").partitionBy("shard").parquet(outDocs)
    base.filter(col("shard").isin(affected: _*))
      .join(broadcast(tomb.select("doc_id")), Seq("doc_id"), "left_anti")
      .write.mode("append").partitionBy("shard").parquet(outDocs)
    affected
  }

  private def forgottenExportStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "shard_export_forgotten", d) { dd =>
      // the base export store is the text_shard_export artifact — probe
      // its key once so the store exists, then read the written files
      TextOps.queries("text_shard_export")(s, d).count()
      val baseDir = Artifacts.dir(s, "shard_export", d)
      val tomb = t(s, d, "documents").select("doc_id")
        .filter(tombstoned(col("doc_id")))
      forgottenExportInto(s, tomb, s"$baseDir/docs", s"$dd/docs")
    }

  val textForgetExport: Q = (s, d) =>
    TextOps.shardManifestOf(
      graft.Tables.parquet(s, s"${forgottenExportStore(s, d)}/docs")
        .withColumn("shard", col("shard").cast("long")))

  /** T13h-release: the CORPUS RELEASE manifest forgotten under FROZEN
    * curation decisions — the artifact a training run consumes. The
    * hygiene survivors and the classifier gate are STORED decisions
    * (re-deciding them is the separate scheduled re-curation, exactly
    * the frozen-quantizer discipline of T13d); the forget purges
    * tombstoned MEMBERS and patches the manifest by [[manifestForget]]'s
    * algebra. The oracle replays the whole chain on the full corpus and
    * purges before the rollup — frozen decisions, purged members,
    * cross-engine. */
  val pipelineForgetRelease: Q = (s, d) => {
    val members = Pipeline.releaseMembers(s, d)
    val base = Pipeline.releaseManifestFrom(members)
    val tombM = members.filter(tombstoned(col("doc_id")))
    val survM = members.filter(!tombstoned(col("doc_id")))
    manifestForget(base, tombM, survM, Seq("split", "shard"))
  }

  // ——— T13i: the ST13 novelty store — the one store where deletion is
  // NOT an anti-join ———

  /** Affected-batch re-process for the NOVELTY store (T13e's contract on
    * ST13): a tombstoned doc that was a gram's batch-local first-seen
    * leaves a stale (g, first_doc) partial; re-deriving the affected
    * batch partitions from the purged raw slice restores every such gram
    * to its first SURVIVING doc (or drops it if none) — min is
    * monotone-distributive, so the cross-batch re-min then equals the
    * whole-purged-corpus recompute exactly. Untouched partitions copy
    * verbatim. Returns the affected batch ids for the partial-delta pin. */
  private[llm] def forgottenNoveltyInto(s: SparkSession, docs: DataFrame,
      tomb: DataFrame, baseN: String, outN: String): Seq[Long] = {
    val nB = graft.streaming.Streams.dictBatches
    val affected: Seq[Long] = tomb
      .select(pmod(col("doc_id"), lit(nB)).as("b")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    Seq("grams", "docs").foreach { part =>
      graft.Tables.parquet(s, s"$baseN/$part")
        .filter(!col("batch_id").isin(affected: _*))
        .write.mode("overwrite").partitionBy("batch_id").parquet(s"$outN/$part")
    }
    affected.foreach { bid =>
      graft.streaming.Streams.noveltyStoreSink(
        docs.filter(col("doc_id") % nB === bid)
          .join(broadcast(tomb.select("doc_id")), Seq("doc_id"), "left_anti"),
        bid, outN)
    }
    affected
  }

  private def forgottenNoveltyStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "novelty_store_forgotten", d) { dd =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val tomb = docs.select("doc_id").filter(tombstoned(col("doc_id")))
      forgottenNoveltyInto(s, docs, tomb,
        s"${graft.streaming.Streams.noveltyStoreDir(s, d)}/n", s"$dd/n")
    }

  val textForgetNovelty: Q = (s, d) =>
    graft.streaming.Streams.noveltyStoreReadout(
      s, s"${forgottenNoveltyStore(s, d)}/n")

  // ——— T13j: the canonical/label store readout over forgotten labels ———

  /** The ST12b-facing canonical readout after the forget: T13b/c already
    * maintain the purged pair graph + labels; the canonical survivor
    * table (cluster → argmax-quality member) re-reads from those stored
    * labels joined with the purged docs — splits and min-id renames
    * included. Gate: `dedup_canonical`'s oracle over the purged corpus. */
  val dedupForgetCanonical: Q = (s, d) => Dedup.canonical(forgottenPairGraph(s, d))

  // ——— T13k: the SQ8 codes store (frozen stats) ———

  /** SQ8 forget: codes are per-vector (encode depends only on the
    * FROZEN per-dimension stats — the model, same discipline as T13d's
    * quantizer), so deletion is one broadcast anti-join on the codes
    * table; the stats artifact stays byte-identical. */
  private def forgottenSq8Store(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "sq8_forgotten", d) { dd =>
      val base = Similarity.sq8StoreDir(s, d)
      val tomb = t(s, d, "embeddings").select("vec_id")
        .filter(tombstoned(col("vec_id")))
      graft.Tables.parquet(s, s"$base/codes")
        .join(broadcast(tomb), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$dd/codes")
      graft.Tables.parquet(s, s"$base/stats")
        .write.mode("overwrite").parquet(s"$dd/stats")
    }

  /** The forgotten compressed index probed by the surviving queries:
    * top-5 ADC matches per query — a tombstoned vector must appear as
    * neither query nor candidate, and ranks re-close over the survivors. */
  val simForgetSq8: Q = (s, d) => {
    val dir = forgottenSq8Store(s, d)
    val codes = graft.Tables.parquet(s, s"$dir/codes")
      .crossJoin(broadcast(graft.Tables.parquet(s, s"$dir/stats")))
    val queries = Similarity.sq8Queries(
      t(s, d, "embeddings").filter(!tombstoned(col("vec_id"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    Similarity.sq8ScoresFrom(codes, queries)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("int").as("rnk"),
        col("nid"), col("adot"))
      .orderBy("qid", "rnk")
  }

  // ——— T13l: the ST19 line-frequency store — the SUBTRACT delta ———

  /** Line-store forget by PURE SUBTRACTION: the store's per-batch
    * partials are (lh, n_docs) distinct-doc counts over disjoint doc
    * batches, and counts SUBTRACT — the only forget in the family whose
    * delta never reads a surviving row. Each affected batch partition is
    * patched by left-joining the tombstoned docs' OWN line frequencies
    * (the negative delta) and dropping rows that reach zero (a line that
    * lived only in tombstoned docs disappears entirely, exactly as the
    * purged rebuild demands); untouched partitions copy verbatim. Cost
    * is ∝ |tombstoned docs| for the delta plus the affected partitions'
    * KB-scale rewrite — at 100 TB a GDPR batch patches the boilerplate
    * table without touching the corpus. Returns the affected batch ids
    * for the partial-delta pin. */
  private[llm] def forgottenLinesInto(s: SparkSession, docs: DataFrame,
      tomb: DataFrame, nB: Long, baseC: String, outC: String): Seq[Long] = {
    val tombDocs = docs.join(broadcast(tomb.select("doc_id")), Seq("doc_id"))
    val affected: Seq[Long] = tombDocs
      .select(pmod(col("doc_id"), lit(nB)).as("b")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    graft.Tables.parquet(s, baseC)
      .filter(!col("batch_id").isin(affected: _*))
      .write.mode("overwrite").partitionBy("batch_id").parquet(outC)
    affected.foreach { bid =>
      val neg = TextOps.lineFreqsOf(tombDocs.filter(col("doc_id") % nB === bid))
        .withColumnRenamed("ldf", "n_neg")
      graft.streaming.Streams.sinkBatch(
        graft.Tables.parquet(s, baseC).filter(col("batch_id") === bid)
          .drop("batch_id")
          .join(neg, Seq("lh"), "left")
          .withColumn("n_docs", col("n_docs") - coalesce(col("n_neg"), lit(0L)))
          .filter(col("n_docs") > 0)
          .select(col("lh"), col("n_docs")),
        bid, outC)
    }
    affected
  }

  private def forgottenLineStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "line_store_forgotten", d) { dd =>
      val docs = t(s, d, "documents")
      val tomb = docs.select("doc_id").filter(tombstoned(col("doc_id")))
      forgottenLinesInto(s, docs, tomb, 2L,
        s"${graft.streaming.Streams.lineStoreDir(s, d)}/c", s"$dd/c")
    }

  /** The purged corpus rewritten against the subtraction-patched
    * frequency table — gated by the one-shot line-dedup rebuild over the
    * purged corpus verbatim. */
  val textForgetLines: Q = (s, d) =>
    TextOps.lineDedupAgainst(
      t(s, d, "documents").filter(!tombstoned(col("doc_id"))),
      graft.streaming.Streams.lineStoreFreqs(s, s"${forgottenLineStore(s, d)}/c"))

  /** The in-plan rebuild-from-purged twin for the jx route. */
  def forgetLinesOf(docs: DataFrame): DataFrame = {
    val purged = docs.filter(!tombstoned(col("doc_id")))
    TextOps.lineDedupAgainst(purged, TextOps.lineFreqsOf(purged))
  }

  // ——— T13m: the A16b daily sketch store — re-process, the one store
  // whose partials CANNOT subtract ———

  /** Sketch-store forget: HLL registers, Bloom bits and t-digest
    * centroids are lossy one-way folds — a user's contribution cannot be
    * subtracted back out — so the only sound delta is the T13e
    * re-process applied to the DAY partitions the tombstoned users
    * touched: rebuild those days' (day, event_type) partials from the
    * purged raw slice in ONE partition-overwrite write, copy every other
    * day verbatim. Tombstones are USER-keyed (T11 `etl_forget`'s
    * user_id % 37 rule — GDPR requests name people, not documents), so
    * the family now spans both id domains. At 100 TB a user's events
    * live in the days they were active; cost is |affected days|' raw
    * slice, never the full history. Returns the affected days. */
  private[llm] def forgottenSketchInto(s: SparkSession, ev: DataFrame,
      tombUsers: DataFrame, baseDaily: String, outDaily: String): Seq[String] = {
    val tombEv = ev.join(broadcast(tombUsers), Seq("user_id"))
    val affected: Seq[String] = tombEv
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    graft.Tables.parquet(s, baseDaily)
      .filter(!col("day").isin(affected: _*))
      .write.mode("overwrite").partitionBy("day").parquet(outDaily)
    graft.sources.Sinks.overwritePartitions(
      graft.operators.Aggregates.sketchPartialsOf(
        ev.join(broadcast(tombUsers), Seq("user_id"), "left_anti")
          .filter(date_format(col("ts"), "yyyy-MM-dd").isin(affected: _*))),
      outDaily, "day")
    affected
  }

  private def eventTombstones(ev: DataFrame): DataFrame =
    ev.select("user_id").distinct().filter(tombstoned(col("user_id")))

  private def forgottenSketchStore(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "sketch_store_forgotten", d) { dd =>
      val ev = t(s, d, "events")
      forgottenSketchInto(s, ev, eventTombstones(ev),
        s"${graft.operators.Aggregates.sketchStoreDir(s, d)}/daily",
        s"$dd/daily")
    }

  /** The dashboard window re-merged from the FORGOTTEN store, pinned
    * against the PURGED raw events through the identical band recipe as
    * `sketch_dashboard` — a tombstoned user must be absent from the
    * count, the distinct estimate, and the median's input. */
  val aggForgetSketch: Q = (s, d) => {
    val ev = t(s, d, "events")
    val purged = ev.join(broadcast(eventTombstones(ev)), Seq("user_id"), "left_anti")
    graft.operators.Aggregates.dashboardPinsOver(purged,
      graft.operators.Aggregates.sketchMergeFrame(
        graft.Tables.parquet(s, s"${forgottenSketchStore(s, d)}/daily"),
        "2024-01-05", "2024-01-12"),
      "2024-01-05", "2024-01-12")
  }

  /** The in-plan rebuild-from-purged twin for the jx route. */
  def forgetSketchOf(ev: DataFrame): DataFrame = {
    val purged = ev.join(broadcast(eventTombstones(ev)), Seq("user_id"), "left_anti")
    graft.operators.Aggregates.dashboardPinsOver(purged,
      graft.operators.Aggregates.sketchMergeFrame(
        graft.operators.Aggregates.sketchPartialsOf(purged),
        "2024-01-05", "2024-01-12"),
      "2024-01-05", "2024-01-12")
  }

  // ——— T13n: the COMPLIANCE AUDIT — one table across the family ———

  /** The auditor's summary a compliance owner actually files: one row
    * per forgotten ID-bearing store with its surviving row count and a
    * TOMBSTONE-REFERENCE count scanned from the store's own rows — the
    * independent "is the delete really gone?" check (it reads the
    * forgotten artifacts, not the delta code that produced them), so a
    * bug in any per-store delta surfaces here as tomb_refs > 0. The
    * oracle recomputes each store's surviving cardinality from the
    * purged corpus from first principles (per-store CTE chains in
    * isolated subqueries) with tomb_refs pinned to zero. KB-scale: seven
    * aggregate scans over already-built stores, no raw-corpus pass. */
  val etlForgetAudit: Q = (s, d) => {
    def rowOf(store: String, df: DataFrame,
        refs: org.apache.spark.sql.Column): DataFrame =
      df.agg(
          count(lit(1)).as("n_store"),
          coalesce(sum(when(refs, lit(1L)).otherwise(lit(0L))), lit(0L))
            .as("tomb_refs"))
        .select(lit(store).as("store"), col("n_store"), col("tomb_refs"))
    val g = forgottenPairGraph(s, d)
    Seq(
      rowOf("dedup_pairs", g.pairs, tombstoned(col("da")) || tombstoned(col("db"))),
      rowOf("dedup_labels", g.labels, tombstoned(col("id"))),
      rowOf("ivf_lists", graft.Tables.parquet(s, s"${forgottenIvfStore(s, d)}/assign"),
        tombstoned(col("vec_id"))),
      rowOf("knn_edges", graft.Tables.parquet(s, s"${forgottenKnnStore(s, d)}/edges"),
        tombstoned(col("src")) || tombstoned(col("dst"))),
      rowOf("sq8_codes", graft.Tables.parquet(s, s"${forgottenSq8Store(s, d)}/codes"),
        tombstoned(col("vec_id"))),
      rowOf("payload_pairs", graft.Tables.parquet(s, s"${forgottenMmPairStore(s, d)}/pairs"),
        tombstoned(col("da")) || tombstoned(col("db"))),
      rowOf("export_docs", graft.Tables.parquet(s, s"${forgottenExportStore(s, d)}/docs"),
        tombstoned(col("doc_id"))))
      .reduce(_ unionByName _).orderBy("store")
  }

  val queries: Map[String, Q] = Map(
    "dedup_forget_pairs" -> dedupForgetPairs,
    "dedup_forget_clusters" -> dedupForgetClusters,
    "dedup_forget_canonical" -> dedupForgetCanonical,
    "sim_forget_ivf" -> simForgetIvf,
    "sim_forget_knn" -> simForgetKnn,
    "sim_forget_sq8" -> simForgetSq8,
    "mm_forget_pairs" -> mmForgetPairs,
    "text_forget_dict" -> textForgetDict,
    "text_forget_manifest" -> textForgetManifest,
    "text_forget_export" -> textForgetExport,
    "text_forget_novelty" -> textForgetNovelty,
    "text_forget_lines" -> textForgetLines,
    "agg_forget_sketch" -> aggForgetSketch,
    "pipeline_forget_release" -> pipelineForgetRelease,
    "etl_forget_audit" -> etlForgetAudit)

  /** The purged corpus as a CTE body — every oracle below is literally
    * "rebuild from this". */
  private val purgedDocs =
    "pdocs AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 37 <> 0)"

  private val purgedRel =
    "(SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 37 <> 0) pd"

  /** The kNN graph rebuilt over the PURGED membership under the frozen
    * quantizer, as a reusable CTE chain (fmem filters BOTH join sides;
    * probe ranks are per-vector, unaffected by other vectors) — shared
    * by `sim_forget_knn` and the audit's edge count. */
  private val knnPurgedCtes =
    s"""${Similarity.knnGraphOracleCte},
           fmem AS (SELECT * FROM mem WHERE vec_id % 37 <> 0),
           fcand AS (
             SELECT min(a.cid) AS cid, a.vec_id AS src, b.vec_id AS dst,
                    min(round(list_reduce([a.v[k] * b.v[k] for k in generate_series(1, 64)],
                                          (x, y) -> x + y)
                              / (sqrt(a.norm2) * sqrt(b.norm2)), 4)) + 0.0 AS cosine
             FROM fmem a JOIN fmem b ON a.cid = b.cid AND a.vec_id <> b.vec_id
             GROUP BY a.vec_id, b.vec_id),
           fg AS (SELECT cid, src, dst, cosine, rnk FROM (
               SELECT cid, src, dst, cosine,
                      CAST(row_number() OVER (PARTITION BY src
                                              ORDER BY cosine DESC, dst ASC) AS INT) AS rnk
               FROM fcand) WHERE rnk <= 3)"""

  val oracle: Map[String, String] = Map(
    // the surviving pair graph must equal the purged corpus's pair graph
    "dedup_forget_pairs" ->
      s"""WITH $purgedDocs, ${Dedup.minhashCteFrom("pdocs")}
         SELECT da, db, round(cc * 1.0 / (na + nb - cc), 4) AS jaccard
         FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5
         ORDER BY jaccard DESC, da ASC, db ASC""",
    // the delta-relabeled components must equal recursive CC over the
    // purged pair graph (splits and min-id renames included)
    "dedup_forget_clusters" ->
      s"""WITH RECURSIVE $purgedDocs, ${Dedup.minhashCteFrom("pdocs")},
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         SELECT cluster_id, count(*) AS n_docs,
                array_to_string(list(CAST(id AS VARCHAR) ORDER BY id), ',') AS members
         FROM labels GROUP BY cluster_id ORDER BY cluster_id""",
    // the forgotten lists must equal assigning the SURVIVORS through the
    // frozen full-corpus quantizer (model retrain is sim_quantizer_refresh)
    "sim_forget_ivf" ->
      s"""WITH ${Similarity.ivfOracleCte}
         SELECT cid, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS key_sum,
                min(vec_id) AS min_vec, max(vec_id) AS max_vec,
                bit_xor(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                             AS BIGINT)) AS member_fp
         FROM assign WHERE vec_id % 37 <> 0
         GROUP BY cid ORDER BY cid""",
    // the surviving payload pair graph must equal the purged corpus's
    // byte-shingle pair graph (mm_dedup's chain over pdocs)
    "mm_forget_pairs" ->
      s"""WITH $purgedDocs, ${Dedup.minhashCteFromShingles(
             Multimodal.byteShCteFrom("pdocs"))}
         SELECT da, db, round(cc * 1.0 / (na + nb - cc), 4) AS jaccard
         FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5
         ORDER BY jaccard DESC, da ASC, db ASC""",
    // the re-rank delta must equal the kNN graph rebuilt over the purged
    // membership under the frozen quantizer (fmem filters BOTH join
    // sides; probe ranks are per-vector, unaffected by other vectors)
    "sim_forget_knn" ->
      s"""WITH $knnPurgedCtes
         SELECT src, rnk, dst, cosine, cid FROM fg ORDER BY src, rnk""",
    // the re-processed dictionary must equal the one-shot build over the
    // purged corpus
    "text_forget_dict" -> TextOps.invertedIndexOracleFrom(
      "(SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0) pd"),
    // the algebra-patched manifest (and the rewritten export store's
    // files) must equal the purged corpus's manifest
    "text_forget_manifest" -> TextOps.shardManifestOracleFrom(purgedRel),
    "text_forget_export" -> TextOps.shardManifestOracleFrom(purgedRel),
    // the affected-batch-reprocessed novelty store must equal the purged
    // corpus's first-seen scoring (grams re-min to their first survivor)
    "text_forget_novelty" -> TextOps.noveltyOracleFrom(purgedRel),
    // the subtraction-patched line-frequency store rewriting the purged
    // corpus must equal the one-shot line dedup over the purged corpus
    "text_forget_lines" -> TextOps.lineDedupOracleFrom(
      "(SELECT doc_id, source, text FROM documents WHERE doc_id % 37 <> 0) pd"),
    // the day-reprocessed sketch store's dashboard window must pin
    // against the purged raw events (user-keyed tombstones, T11's rule)
    "agg_forget_sketch" ->
      """SELECT event_type, count(*) AS n, TRUE AS range_complete,
                TRUE AS p50_ok, TRUE AS hll_ok
         FROM events
         WHERE user_id % 37 <> 0
           AND CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
         GROUP BY event_type ORDER BY event_type""",
    // the release manifest under FROZEN curation decisions, members
    // purged just before the rollup — the oracle replays the whole chain
    "pipeline_forget_release" ->
      Pipeline.releaseOracle("s.doc_id % 37 <> 0"),
    // the canonical table over the forgotten labels must equal
    // dedup_canonical rebuilt from the purged corpus (splits and min-id
    // renames included)
    "dedup_forget_canonical" ->
      s"""WITH RECURSIVE $purgedDocs, ${Dedup.minhashCteFrom("pdocs")},
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           q AS (SELECT doc_id, n_chars,
                        round((CASE WHEN n_chars < 100 THEN 0.2 ELSE 1.0 END) *
                              (CASE WHEN n_stop = 0 THEN 0.5 ELSE 1.0 END), 4) AS quality
                 FROM (SELECT doc_id, n_chars,
                              len(list_filter(string_split(text, ' '),
                                w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
                       FROM pdocs)),
           m AS (SELECT l.cluster_id, q.doc_id, q.quality, q.n_chars,
                        row_number() OVER (PARTITION BY l.cluster_id
                          ORDER BY q.quality DESC, q.n_chars DESC, q.doc_id ASC) AS rn,
                        count(*) OVER (PARTITION BY l.cluster_id) AS n_docs
                 FROM labels l JOIN q ON q.doc_id = l.id)
         SELECT cluster_id, doc_id AS canonical, quality AS canon_quality,
                n_chars AS canon_chars, n_docs, n_docs - 1 AS n_dropped
         FROM m WHERE rn = 1 ORDER BY cluster_id""",
    // the anti-joined codes probed by surviving queries must equal the
    // ADC replay with FROZEN full-corpus stats and both sides purged
    "sim_forget_sq8" ->
      s"""WITH ${Similarity.sq8OracleCteFrom(
             "vec_id < 20 AND vec_id % 37 <> 0", "c.vec_id % 37 <> 0")}
         SELECT qid, CAST(rnk AS INT) AS rnk, nid, adot
         FROM (SELECT qid, nid, adot,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY adot DESC, nid ASC) AS rnk
               FROM sqscore)
         WHERE rnk <= 5 ORDER BY qid, rnk""",
    // the audit: each store's surviving cardinality recomputed from the
    // purged corpus FROM FIRST PRINCIPLES (per-store CTE chains, each in
    // its own subquery namespace), tomb_refs pinned to zero — a delta
    // that left a tombstoned id behind fails on tomb_refs, a delta that
    // dropped/kept the wrong rows fails on n_store
    "etl_forget_audit" ->
      s"""SELECT store, n_store, tomb_refs FROM (
           SELECT 'dedup_pairs' AS store,
                  (WITH $purgedDocs, ${Dedup.minhashCteFrom("pdocs")}
                   SELECT count(*) FROM mh
                   WHERE cc * 1.0 / (na + nb - cc) >= 0.5) AS n_store,
                  CAST(0 AS BIGINT) AS tomb_refs
           UNION ALL
           SELECT 'dedup_labels',
                  (WITH $purgedDocs, ${Dedup.minhashCteFrom("pdocs")},
                     pairs AS (SELECT da, db FROM mh
                               WHERE cc * 1.0 / (na + nb - cc) >= 0.5)
                   SELECT count(DISTINCT id) FROM
                     (SELECT da AS id FROM pairs
                      UNION ALL SELECT db FROM pairs)),
                  0
           UNION ALL
           SELECT 'ivf_lists',
                  (SELECT count(*) FROM embeddings WHERE vec_id % 37 <> 0), 0
           UNION ALL
           SELECT 'knn_edges',
                  (WITH $knnPurgedCtes SELECT count(*) FROM fg), 0
           UNION ALL
           SELECT 'sq8_codes',
                  (SELECT count(*) FROM embeddings WHERE vec_id % 37 <> 0), 0
           UNION ALL
           SELECT 'payload_pairs',
                  (WITH $purgedDocs, ${Dedup.minhashCteFromShingles(
                     Multimodal.byteShCteFrom("pdocs"))}
                   SELECT count(*) FROM mh
                   WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
                  0
           UNION ALL
           SELECT 'export_docs',
                  (SELECT count(*) FROM documents WHERE doc_id % 37 <> 0), 0
         ) ORDER BY store""")
}
