package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Common._

/** The composed corpus-hygiene pipeline — the product the individual
  * operators exist for: raw documents → normalize → redact PII → drop
  * near-duplicates → drop benchmark-contaminated docs → pack the
  * survivors into fixed-size training chunks. One driver key proves the
  * stages COMPOSE (one plan, one shared shingle pass) rather than merely
  * passing in isolation.
  *
  * Scale shape, stage by stage:
  *  - clean + redact: in-row codegen'd regexp work in the scan stage —
  *    linear, no shuffle, survives any corpus size.
  *  - shingling: the one expensive pass, computed ONCE, in-row, over the
  *    hygienic text of corpus ∪ bench ([[Dedup.docShingleSets]]): one row
  *    per doc, (doc_id, bench, hs, n_sh), with `hs` the sorted distinct
  *    md5 shingle hashes — no explode and no shuffle. It is materialized
  *    ([[graft.operators.Common.materialize]]; a parquet set table in a
  *    100 TB deployment — same role as the stored quantizer of
  *    [[Similarity.Ivf.stored]]) and SHARED by the MinHash bands, the
  *    exact-Jaccard verify and the decontamination overlap; the `bench`
  *    flag tells the two sides apart, with no join on bench ids.
  *    PlanAuditSpec pins that the final plan contains NO shingle
  *    recompute (no md5→conv chain outside the checkpoint).
  *  - near-dup drop list: band keys computed in-row from `hs` (never
  *    all-pairs, no signature groupBy) → bucket self-join → verify on
  *    `hs`/`n_sh` as they are (no collect_list) → min-label connected
  *    components, in one union-find when the pair list is small. Those
  *    labels are a sized local relation, so the survivor anti-join
  *    broadcasts the KB-scale drop list and the corpus text streams.
  *  - decontamination: corpus hashes left-semi joined against the
  *    broadcast bench hashes ([[Dedup.benchOverlaps]]), then one count
  *    per doc — a semi join cannot double-count a hash several bench
  *    docs share.
  *  - packing: per-shard cumulative windows — no global order; the md5
  *    of each survivor's bytes is computed in the packing projection.
  *
  * The oracle replays every stage in DuckDB: the same regex chain, the
  * same md5 shingle space (via [[Dedup.minhashCteFrom]] pointed at the
  * cleaned CTE), recursive CC for the drop list, and the packing window —
  * then pins the packed layout AND the md5 of every surviving byte.
  */
object Pipeline {

  /** Whitespace/control runs collapsed to single spaces (same class as
    * TextOps.textClean). */
  private val WsRe = "[ \\t\\n\\r\\x01]+"

  /** Stages 1+2 as one in-row column: normalize then redact. On this
    * corpus both are no-ops byte-for-byte (the synthetic docs are already
    * clean) — the oracle REPLAYS the chain rather than assuming identity,
    * so the pin stays honest on any corpus. */
  private[llm] def hygienicText(text: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(regexp_replace(
      trim(regexp_replace(text, WsRe, " ")),
      TextOps.EmailRe, "<EMAIL>"), TextOps.UrlRe, "<URL>"),
      TextOps.PhoneRe, "<PHONE>")

  /** The library surface: run the full hygiene chain over ANY corpus
    * frame against ANY benchmark frame (both (doc_id, text)). Returns the
    * packed survivor layout plus the md5 of each survivor's final bytes.
    * `benchIds` must not collide with corpus ids (they are held out by
    * id). */
  def corpusHygiene(corpus: DataFrame, bench: DataFrame,
      jaccardThreshold: Double = 0.5, minOverlap: Int = 3,
      ctx: Long = 2048L, nShards: Long = 8L,
      trimSpans: Boolean = false,
      qualitySources: Option[DataFrame] = None,
      canonicalQuality: Option[DataFrame] = None,
      payloadGate: Boolean = false,
      ensembleSources: Option[DataFrame] = None,
      tieredSources: Option[DataFrame] = None,
      rulesSources: Option[DataFrame] = None): DataFrame = {
    val survivors = corpusSurvivors(corpus, bench, jaccardThreshold,
      minOverlap, trimSpans, qualitySources, canonicalQuality, payloadGate,
      ensembleSources, tieredSources, rulesSources)
    packedWithMd5(survivors, ctx, nShards)
  }

  /** The packed layout of a survivor set plus the md5 of each
    * survivor's final bytes, computed in the packing projection: the
    * survivor text is read once, with no second read and join on
    * doc_id. */
  private def packedWithMd5(survivors: DataFrame, ctx: Long, nShards: Long): DataFrame =
    TextOps.packChunks(survivors, ctx, nShards, md5(col("text")).as("final_md5"))
      .select("doc_id", "shard", "n_tok", "chunk_id", "chunk_offset", "final_md5")

  /** The hygiene chain up to (but not including) packing: the surviving
    * (doc_id, text) set — exposed so EXPORT consumers (the shard
    * manifest) can run on the curated corpus without the packed layout. */
  def corpusSurvivors(corpusIn: DataFrame, bench: DataFrame,
      jaccardThreshold: Double = 0.5, minOverlap: Int = 3,
      trimSpans: Boolean = false,
      qualitySources: Option[DataFrame] = None,
      canonicalQuality: Option[DataFrame] = None,
      payloadGate: Boolean = false,
      ensembleSources: Option[DataFrame] = None,
      tieredSources: Option[DataFrame] = None,
      rulesSources: Option[DataFrame] = None): DataFrame = {
    // optional X5e stage, FIRST and on the RAW rows (payload integrity is
    // a property of the stored bytes, not the hygienic text): decode the
    // payload via the mapPartitions codec plumbing and keep only rows
    // passing the multimodal quality gate
    val corpus0 =
      if (payloadGate)
        corpusIn.join(
          Multimodal.qualityOf(Multimodal.withPayload(corpusIn))
            .filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      else corpusIn
    val hygCorpus0 = corpus0.select(col("doc_id"), hygienicText(col("text")).as("text"))
    val hygBench = bench.select(col("doc_id"), hygienicText(col("text")).as("text"))
    // optional X4i stage, FIRST (cheap filters before expensive dedup —
    // the standard pipeline order): per-source NLL percentile gate over
    // the hygienic corpus; `qualitySources` supplies (doc_id, source)
    // optional X4w stage at the same slot: the 2-of-3 multi-filter vote
    // (NB classifier + Gopher repetition + NLL percentile) over the
    // hygienic corpus — the FineWeb-style front gate
    // optional X4aa stage at the same slot: the CCNet tier gate — each
    // source's head (curated: head+middle) by self-trained bigram-LM
    // score reaches the shingle pass
    // optional X4af stage at the same slot: the Gopher/C4 rule-table
    // gate — only docs passing EVERY heuristic rule reach the shingle
    // pass (the cheapest of the front gates: pure per-row string work,
    // no corpus-wide model, so at 100 TB it runs first among filters)
    // EVERY gate's keep list materializes ONCE (KB-scale — one row per
    // kept doc): the gated corpus is referenced by several consumers (the
    // shingle union, the survivor joins, canonical's quality frame), and
    // an unmaterialized gate subtree — a corpus-wide word explode +
    // frequency join + rank window for quality/tiered, three such passes
    // for ensemble, the rule chain's large decoration codegen tree for
    // rules — replayed under EACH consumer (r18 plan read: the ensemble
    // chain carried 92 scans / 132 exchanges; the rules branch measured
    // 28.5 s → 0.8 s when its list was first materialized in r17).
    // Production shape: a gate output IS a persisted decision list.
    def gated(srcs: DataFrame) = hygCorpus0.join(srcs, Seq("doc_id"))
    val keep: Option[DataFrame] =
      (qualitySources, ensembleSources, tieredSources, rulesSources) match {
      case (Some(srcs), _, _, _) => Some(TextOps.qualityFilterOf(gated(srcs)))
      case (None, Some(srcs), _, _) =>
        Some(TextOps.ensembleVotesOf(gated(srcs)).filter(col("keep")))
      case (None, None, Some(srcs), _) =>
        Some(TextOps.pplGateOf(gated(srcs)).filter(col("keep")))
      case (None, None, None, Some(srcs)) =>
        Some(TextOps.ruleVerdictsOf(gated(srcs)).filter(col("keep")))
      case (None, None, None, None) => None
    }
    // a semi join: the kept ids, not the corpus text, are the side a
    // join can broadcast
    val hygCorpus = keep.fold(hygCorpus0)(k => hygCorpus0.join(
      materialize(k.select("doc_id"), "pipeline.keep_list"), Seq("doc_id"), "left_semi"))
    // the one shingle pass over corpus ∪ bench: one row per doc with its
    // sorted distinct shingle hashes, materialized and shared (see object
    // doc); the `bench` flag tells the two sides apart
    val sets = materialize(Dedup.docShingleSets(
        hygCorpus.withColumn("bench", lit(false))
          .unionByName(hygBench.withColumn("bench", lit(true)))),
      "pipeline.shingles")
    val corpusSets = sets.filter(!col("bench"))

    // near-dup drop list from banded-LSH pairs over the corpus shingles.
    // Default survivor rule: the cluster's min id. With `canonicalQuality`
    // ((doc_id, n_chars)): the QUALITY-aware rule — keep each cluster's
    // argmax over (quality, n_chars, -doc_id), `dedup_canonical`'s exact
    // pick, so the pipeline drops the truncated copies instead of
    // whichever duplicate happened to crawl first
    val labels = Dedup.clusterLabelsFrom(
      Dedup.minhashScoredPairsOfSets(corpusSets)
        .filter(col("jaccard") >= jaccardThreshold))
    val dropIds = canonicalQuality match {
      case Some(chars) =>
        // Left join with n_chars defaulting to 0: a clustered doc missing
        // from the caller's quality frame still competes (at the lowest
        // quality band) instead of silently dropping out — an all-missing
        // cluster degrades to the min-id survivor rule rather than losing
        // every member.
        val q = hygCorpus.join(chars, Seq("doc_id"), "left")
          .withColumn("n_chars", coalesce(col("n_chars"), lit(0)))
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_stop",
            size(expr("filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'to'))")))
          .select(col("doc_id"), col("n_chars"),
            r4(when(col("n_chars") < 100, 0.2).otherwise(1.0) *
              when(col("n_stop") === 0, 0.5).otherwise(1.0)).as("quality"))
        val picks = labels.join(q, labels("id") === q("doc_id"))
          .groupBy(col("lbl"))
          .agg(max(struct(col("quality"), col("n_chars"),
            (-col("doc_id")).as("neg_id"))).as("mx"))
          .select((-col("mx.neg_id")).as("doc_id"))
        labels.select(col("id").as("doc_id"))
          .join(picks, Seq("doc_id"), "left_anti")
      case None =>
        labels.filter(col("id") =!= col("lbl"))
          .select(col("id").as("doc_id"))
    }

    val contaminated = Dedup.benchOverlaps(corpusSets, sets.filter(col("bench")))
      .filter(col("n_overlap") >= minOverlap)
      .select("doc_id")

    // The survivor set materializes ONCE too: the release (classifier
    // gate + member join) and the span trim (four token/window
    // consumers) read it at least twice, and each unmaterialized read
    // replayed the regex chain + gate join + the anti-join. The frame
    // is the DECISION-side output (surviving text, KB–MB at gate scale;
    // the parquet `hygiene_survivors` store is its cross-job twin).
    val survivors0 = materialize(hygCorpus
      .join(dropIds.unionByName(contaminated), Seq("doc_id"), "left_anti"),
      "pipeline.survivors")

    // optional passage-level pass (the Lee-et-al-style completion):
    // whole-doc near-dups are already gone; this removes REPEATED SPANS
    // surviving inside otherwise-distinct docs, keeping each span's
    // canonical (lowest doc_id) occurrence
    // the trimmed corpus is a second decision-side frame with the same
    // read-twice consumers — materialize it as well (trim-path only)
    if (trimSpans) materialize(Dedup.substringTrimText(survivors0), "pipeline.trimmed")
    else survivors0
  }

  /** Driver gate: the documents table split into corpus (doc_id ≥ 10) and
    * benchmark (doc_id < 10) — a deterministic split the oracle rebuilds. */
  val pipelineCorpus: Q = (s, d) => {
    val docs = t(s, d, "documents")
    corpusHygiene(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10))
      .orderBy("doc_id")
      .limit(300)
  }

  /** The full chain including the passage-level span trim. Honest note
    * about THIS corpus: its shared ≥16-token passages occur only inside
    * whole-doc near-dup clusters (verified: every window-sharing doc set
    * is a jaccard ≥ 0.97 cluster), so after the drop-list stage the trim
    * finds nothing to remove — the gate still proves the composition
    * (every surviving byte flows through the trim machinery and the
    * oracle replays it), while `dedup_substring_trim` demonstrates the
    * stage firing on the pre-dedup corpus (22 docs at sf0.01). On a real
    * crawl the two stages catch different things: whole-doc copies vs
    * boilerplate spans inside otherwise-distinct docs. */
  val pipelineCorpusTrim: Q = (s, d) => {
    val docs = t(s, d, "documents")
    corpusHygiene(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        trimSpans = true)
      .orderBy("doc_id")
      .limit(300)
  }

  /** The chain with the per-source quality percentile gate composed in
    * FRONT (X4i into X9): only each source's most-fluent half reaches
    * the shingle pass — the standard cheap-filter-before-expensive-dedup
    * order, and at 100 TB the gate halves every downstream stage's
    * input. */
  val pipelineCorpusQuality: Q = (s, d) => {
    val docs = t(s, d, "documents")
    corpusHygiene(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        qualitySources = Some(docs.select("doc_id", "source")))
      .orderBy("doc_id")
      .limit(300)
  }

  /** The chain with the X4w quality ENSEMBLE composed in front: only
    * docs passing 2 of the 3 independent gates (NB classifier, Gopher
    * repetition, NLL percentile) reach the shingle pass — the
    * FineWeb-style front gate, strictly harder to fool than any single
    * filter and at 100 TB the same halve-everything-downstream win as
    * the percentile gate. */
  val pipelineCorpusEnsemble: Q = (s, d) => {
    val docs = t(s, d, "documents")
    corpusHygiene(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        ensembleSources = Some(docs.select("doc_id", "source")))
      .orderBy("doc_id")
      .limit(300)
  }

  /** The chain with the X4aa CCNet tier gate composed in front: only
    * each source's most-corpus-like tier (curated sources: head+middle,
    * crawl: head only) reaches the shingle pass — the published
    * perplexity-bucket curation order, and at 100 TB the same
    * halve-everything-downstream win as the percentile gate, with the
    * policy expressed per source instead of one global cut. */
  val pipelineCorpusTiered: Q = (s, d) => {
    val docs = t(s, d, "documents")
    corpusHygiene(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        tieredSources = Some(docs.select("doc_id", "source")))
      .orderBy("doc_id")
      .limit(300)
  }

  /** The chain with the X4af rule-table gate composed in front: only
    * docs passing EVERY Gopher/C4 heuristic rule reach the shingle
    * pass — the cheapest front gate (pure per-row string work, no
    * corpus-wide model to train or broadcast), which is why production
    * pipelines run the rule table before anything else. At 100 TB the
    * same halve-everything-downstream win as the other gates, minus
    * even the model-build cost. */
  val pipelineCorpusRules: Q = (s, d) => {
    val docs = t(s, d, "documents")
    corpusHygiene(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        rulesSources = Some(docs.select("doc_id", "source")))
      .orderBy("doc_id")
      .limit(300)
  }

  /** The chain with `dedup_canonical`'s quality-aware survivor rule:
    * each near-dup cluster keeps its argmax over (quality, n_chars,
    * -doc_id) rather than the min id — the production choice (drop the
    * truncated crawl copies, keep the fullest). Same plan shape as
    * pipeline_corpus plus one KB-scale pick aggregate. */
  val pipelineCorpusCanonical: Q = (s, d) => {
    val docs = t(s, d, "documents")
    corpusHygiene(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        canonicalQuality = Some(docs.select("doc_id", "n_chars")))
      .orderBy("doc_id")
      .limit(300)
  }

  /** X9+X4n: the CLOSED export loop — the hygiene survivors manifested
    * as trainer-facing shards (raw docs → hygiene → validated export in
    * one gated readout). n_bytes is the HYGIENIC text length: the
    * manifest must describe the bytes a trainer will read, not the raw
    * crawl's. Same plan as pipeline_corpus up to the survivor set, then
    * the 16-row manifest aggregate replaces packing. */
  val pipelineCorpusManifest: Q = (s, d) =>
    TextOps.shardManifest(
      survivorStore(s, d).withColumn("n_chars", length(col("text"))))

  /** The PLAIN hygiene survivor set materialized ONCE per dataset (the
    * [[graft.llm.Artifacts]] build-once recipe) and probed by every
    * readout that sits ON TOP of the curated corpus — the release, the
    * export manifest, the semantic-decon extension. At 100 TB this IS
    * the production shape: the hygiene chain is one scheduled job whose
    * survivor table every downstream consumer reads; recomputing the
    * chain per readout would re-shingle the corpus each time. The chain
    * keys (`pipeline_corpus` and its gated variants) still run the full
    * plan — the chain remains gated end-to-end; only the derived
    * readouts probe the store, and their oracles replay the WHOLE chain
    * regardless, so store == recompute stays proven per-key. */
  private def survivorStore(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val dir = graft.llm.Artifacts.buildOnce(s, "hygiene_survivors", d) { dd =>
      val docs = t(s, d, "documents")
      corpusSurvivors(docs.filter(col("doc_id") >= 10),
          docs.filter(col("doc_id") < 10))
        .write.mode("overwrite").parquet(s"$dd/survivors")
    }
    graft.Tables.parquet(s, s"$dir/survivors")
  }

  /** The chain with the MULTIMODAL payload gate composed in front (X5e
    * into X9): payloads are decoded (mapPartitions codec plumbing) and
    * integrity/quality-gated before any text stage runs — the production
    * order for a multimodal corpus, where a corrupt payload should never
    * pay for shingling. At 100 TB the decode pass is the expensive stage;
    * running it first is correct anyway because EVERY downstream consumer
    * (dedup, packing, export) needs only its verdict, and the gate's
    * output is a KB-scale id set. */
  val pipelineCorpusMm: Q = (s, d) => {
    val docs = t(s, d, "documents")
    corpusHygiene(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        payloadGate = true)
      .orderBy("doc_id")
      .limit(300)
  }

  /** X9+X4r+X1g+X4n: the CORPUS RELEASE — the artifact a training run
    * actually consumes: hygiene survivors → the curated-vs-crawl NB
    * classifier gate (trained on the surviving corpus itself, original
    * source labels) → train/val side assignment → a per-(split, shard)
    * manifest rollup (docs, tokens, bytes, id range, xor fingerprint).
    * Side assignment uses the SAME md5 key recipe as
    * `dedup_split_leakfree`; on the post-dedup survivor set every
    * near-dup cluster has exactly one member left, so hashing the doc
    * id IS hashing the cluster label — the structural no-leakage
    * guarantee is inherited from the dedup stage rather than re-proved
    * (a non-deduped corpus routes through `dedup_split_leakfree`'s
    * label hash instead). Plan: pipeline_corpus's shared shingle pass
    * up to survivors, one vocabulary-bounded classifier join, then a
    * ≤2×16-row rollup — the release readout costs one extra broadcast
    * join over the survivor set.
    *
    * Library surface: `corpus` must carry (doc_id, source, text);
    * `bench` is the held-out benchmark frame (doc_id, text). `nShards`
    * sizes the shard key; the 90/10 train/val rule is the
    * `dedup_split_leakfree` convention. */
  def corpusRelease(corpus: DataFrame, bench: DataFrame,
      nShards: Int = 16): DataFrame =
    releaseFromSurvivors(corpusSurvivors(corpus, bench),
      corpus.select("doc_id", "source"), nShards)

  /** The release manifest AFTER a GDPR forget, over arbitrary frames (jx
    * `pipeline` entry point, [[graft.llm.Forget]]'s in-plan twin):
    * curation decisions frozen on the corpus as given, tombstoned MEMBERS
    * purged before the rollup — the rebuild the store path's manifest
    * algebra is gated equal to. */
  def corpusReleaseForgotten(corpus: DataFrame, bench: DataFrame,
      nShards: Int = 16): DataFrame =
    releaseManifestFrom(
      releaseMemberFrame(corpusSurvivors(corpus, bench),
        corpus.select("doc_id", "source"), nShards)
        .filter(col("doc_id") % 37 =!= 0))

  /** The order capstone over ARBITRARY corpus/benchmark frames (jx
    * `pipeline` entry point — [[pipelineCorpusOrder]]'s store-probing
    * twin recomputes the same thing over the standard corpus). */
  def corpusOrder(corpus: DataFrame, bench: DataFrame): DataFrame =
    graft.llm.TextOps.trainOrderOf(
      corpusSurvivors(corpus, bench)
        .join(corpus.select("doc_id", "source"), Seq("doc_id")))

  /** The release MEMBER set (doc + split/shard coordinates + the per-doc
    * manifest columns) — the frame both the manifest rollup and the
    * forget-propagation delta ([[graft.llm.Forget]]) read. The member
    * DECISIONS (hygiene survivors, classifier gate) are computed on the
    * frame as given — the stored-decision discipline: a GDPR forget
    * purges members from the release artifact under FROZEN decisions;
    * re-curation is the separate scheduled rebuild. */
  private[graft] def releaseMemberFrame(survivors: DataFrame,
      sources: DataFrame, nShards: Int): DataFrame = {
    val keptIds = TextOps.classifierScoresOf(
        survivors.join(sources, Seq("doc_id")))
      .filter(col("selected")).select("doc_id")
    survivors.join(keptIds, Seq("doc_id"))
      .withColumn("split", when(expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 10")
        < 9, "train").otherwise("val"))
      .withColumn("shard", TextOps.shardCol(nShards))
      .withColumn("n_bytes", length(col("text")).cast("long"))
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("content_h", expr(
        "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)"))
      .select("doc_id", "split", "shard", "n_toks", "n_bytes", "content_h")
  }

  /** The per-(split, shard) manifest rollup over a member frame. */
  private[graft] def releaseManifestFrom(members: DataFrame): DataFrame =
    members
      .groupBy("split", "shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        expr("bit_xor(content_h)").as("content_fp"))
      .orderBy("split", "shard")

  private def releaseFromSurvivors(survivors: DataFrame, sources: DataFrame,
      nShards: Int): DataFrame =
    releaseManifestFrom(releaseMemberFrame(survivors, sources, nShards))

  /** The standard-corpus member frame (stored survivor artifact + raw
    * sources) — [[graft.llm.Forget]]'s entry point. */
  private[graft] def releaseMembers(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    releaseMemberFrame(survivorStore(s, d),
      t(s, d, "documents").select("doc_id", "source"), 16)

  val pipelineCorpusRelease: Q = (s, d) =>
    releaseFromSurvivors(survivorStore(s, d),
      t(s, d, "documents").select("doc_id", "source"), 16)

  /** X9 order capstone: the curated corpus handed to the trainer as a
    * deterministic READING ORDER — [[graft.llm.TextOps.trainOrderOf]]'s
    * (epoch, shard, position) coordinates computed over the hygiene
    * SURVIVOR set (the stored `hygiene_survivors` artifact; source
    * rides back in from the raw table). The last gap between "what to
    * train on" (release manifest) and "in what order" closes inside the
    * same pipeline surface. The oracle replays the whole hygiene chain
    * and the placement twin end-to-end, so store == recompute stays
    * proven on this key too. */
  val pipelineCorpusOrder: Q = (s, d) =>
    graft.llm.TextOps.trainOrderOf(
      survivorStore(s, d)
        .join(t(s, d, "documents").select("doc_id", "source"), Seq("doc_id")))

  /** X9+X3j: the hygiene chain with SEMANTIC decontamination composed
    * after the n-gram stage — the two decon passes catch different
    * leaks (shingle overlap catches near-verbatim copies; embedding
    * cosine catches paraphrases that share no shingles), so a corpus
    * released for training runs BOTH. The held-out set is the SAME ids
    * (< 10) for both stages: their documents gate the text side, their
    * embeddings gate the semantic side (vec_id aligns with doc_id in
    * the standard tables). The semantic stage probes the STORED
    * quantizer and anti-joins a KB-scale flagged-id list — at 100 TB it
    * adds one bench-sized probe pass, never a corpus re-scan. */
  val pipelineCorpusSemdecon: Q = (s, d) => {
    val survivors = survivorStore(s, d)
    val flagged = Similarity
      .semanticDecon(Similarity.Ivf.stored(s, d)(), tau = 0.35, col("vec_id") < 10)
      .select(col("vec_id").as("doc_id"))
    val kept = survivors.join(flagged, Seq("doc_id"), "left_anti")
    packedWithMd5(kept, 2048L, 8L)
      .orderBy("doc_id")
      .limit(300)
  }

  /** X9-audit: the curation FUNNEL — one row per stage of the full
    * chain (raw crawl → hygiene survivors → semantic decon → classifier
    * gate) with the doc count surviving each and the drop it cost. The
    * number a curation review actually reads: where did the corpus go?
    * Every count is a probe of work other keys already gate (the
    * survivor store, the decon flag set, the classifier scores over the
    * semdecon set) — the funnel itself adds only four KB-scale
    * aggregates, and its oracle replays the whole chain so the counts
    * are pinned end-to-end, not trusted. */
  val pipelineFunnel: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val raw = docs.filter(col("doc_id") >= 10)
    val surv = survivorStore(s, d)
    val flagged = Similarity
      .semanticDecon(Similarity.Ivf.stored(s, d)(), tau = 0.35, col("vec_id") < 10)
      .select(col("vec_id").as("doc_id"))
    val sem = surv.join(flagged, Seq("doc_id"), "left_anti")
    val kept = sem.join(
      TextOps.classifierScoresOf(
          sem.join(docs.select("doc_id", "source"), Seq("doc_id")))
        .filter(col("selected")).select("doc_id"),
      Seq("doc_id"))
    def st(i: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i).as("stage"), lit(name).as("stage_name"), col("n_docs"))
    val w = Window.orderBy("stage")
    st(0, "raw", raw)
      .unionByName(st(1, "hygiene_survivors", surv))
      .unionByName(st(2, "semantic_decon", sem))
      .unionByName(st(3, "classifier_kept", kept))
      .withColumn("n_dropped",
        coalesce(lag("n_docs", 1).over(w) - col("n_docs"), lit(0L)))
      .orderBy("stage")
  }

  val queries: Map[String, Q] = Map(
    "pipeline_funnel" -> pipelineFunnel,
    "pipeline_corpus_release" -> pipelineCorpusRelease,
    "pipeline_corpus_order" -> pipelineCorpusOrder,
    "pipeline_corpus_semdecon" -> pipelineCorpusSemdecon,
    "pipeline_corpus" -> pipelineCorpus,
    "pipeline_corpus_trim" -> pipelineCorpusTrim,
    "pipeline_corpus_quality" -> pipelineCorpusQuality,
    "pipeline_corpus_ensemble" -> pipelineCorpusEnsemble,
    "pipeline_corpus_tiered" -> pipelineCorpusTiered,
    "pipeline_corpus_rules" -> pipelineCorpusRules,
    "pipeline_corpus_canonical" -> pipelineCorpusCanonical,
    "pipeline_corpus_manifest" -> pipelineCorpusManifest,
    "pipeline_corpus_mm" -> pipelineCorpusMm)

  /** Shared oracle prefix: every stage up to the survivor set.
    * `corpusSrc` is the CTE the shingle pass and survivors read (plain
    * `corp`, or the quality-gated `corpq` built by `qualityCtes`). */
  private def hygienePrefixFrom(corpusSrc: String, qualityCtes: String = "",
      canonicalDroplist: Boolean = false): String =
    raw"""WITH RECURSIVE
           hyg AS (
             SELECT doc_id,
                    regexp_replace(regexp_replace(regexp_replace(
                      trim(regexp_replace(text, '[ \t\n\r\x01]+', ' ', 'g')),
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                      'https?://[^ ]+', '<URL>', 'g'),
                      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS text
             FROM documents),
           corp AS (SELECT doc_id, text FROM hyg WHERE doc_id >= 10),
           $qualityCtes
           ${Dedup.minhashCteFrom(corpusSrc)},
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           ${if (canonicalDroplist)
             raw"""clab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           cq AS (SELECT h2.doc_id, d.n_chars,
                         round((CASE WHEN d.n_chars < 100 THEN 0.2 ELSE 1.0 END) *
                               (CASE WHEN len(list_filter(string_split(h2.text, ' '),
                                  w -> w IN ('the', 'a', 'of', 'and', 'to'))) = 0
                                  THEN 0.5 ELSE 1.0 END), 4) AS quality
                  FROM $corpusSrc h2 JOIN documents d USING (doc_id)),
           cpick AS (SELECT doc_id FROM (
                       SELECT q.doc_id,
                              row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality DESC, q.n_chars DESC,
                                         q.doc_id ASC) AS rn
                       FROM clab l JOIN cq q ON q.doc_id = l.id) WHERE rn = 1),
           droplist AS (SELECT id AS doc_id FROM clab
                        WHERE id NOT IN (SELECT doc_id FROM cpick))"""
           else
             """droplist AS (SELECT id AS doc_id FROM (
             SELECT id, min(lbl) AS canonical FROM reach GROUP BY id)
             WHERE id <> canonical)"""},
           btoks AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM hyg WHERE doc_id < 10),
           bench AS (SELECT DISTINCT
                       CAST('0x' || substr(md5(unnest(
                         [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          for i in generate_series(1, len(t) - 2)])), 1, 15)
                         AS BIGINT) AS h
                     FROM btoks WHERE len(t) >= 3),
           ov AS (SELECT sh.doc_id, count(*) AS n_overlap
                  FROM sh JOIN bench USING (h)
                  GROUP BY 1),
           contaminated AS (SELECT doc_id FROM ov WHERE n_overlap >= 3),
           survivors AS (
             SELECT doc_id, text FROM $corpusSrc
             WHERE doc_id NOT IN (SELECT doc_id FROM droplist)
               AND doc_id NOT IN (SELECT doc_id FROM contaminated))"""

  private val hygienePrefix: String = hygienePrefixFrom("corp")

  /** The CORPUS RELEASE oracle (full hygiene chain → NB classifier gate →
    * split/shard manifest rollup), parameterized on a member PURGE
    * predicate: the forget gate replays the SAME chain — decisions
    * frozen on the full corpus — and purges tombstoned members just
    * before the rollup, exactly [[graft.llm.Forget]]'s semantics. */
  private[graft] def releaseOracle(purge: String = "TRUE"): String =
    s"""$hygienePrefix,
           rsc AS (SELECT s.doc_id, d.source, s.text
                   FROM survivors s JOIN documents d USING (doc_id)),
           rqf AS (SELECT doc_id, curated, w FROM (
                     SELECT doc_id,
                            CAST(substr(source, 4) AS INT) % 3 = 0 AS curated,
                            unnest(string_split(text, ' ')) AS w
                     FROM rsc)
                   WHERE length(w) > 0),
           rcc AS (SELECT w, count(*) FILTER (WHERE curated) AS cc,
                          count(*) FILTER (WHERE NOT curated) AS rc
                   FROM rqf GROUP BY 1),
           rcn AS (SELECT count(*) FILTER (WHERE curated) AS c_n,
                          count(*) FILTER (WHERE NOT curated) AS r_n,
                          count(DISTINCT w) AS v
                   FROM rqf),
           rcm AS (SELECT w, ln((cc + 1.0) / (c_n + v))
                            - ln((rc + 1.0) / (r_n + v)) AS lo
                   FROM rcc CROSS JOIN rcn),
           rsel AS (SELECT f.doc_id FROM rqf f JOIN rcm m USING (w)
                    GROUP BY f.doc_id
                    HAVING round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                                 / count(*), 4) > 0),
           rrel AS (SELECT s.doc_id, s.text,
                           CASE WHEN CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)),
                                          1, 15) AS BIGINT) % 10 < 9
                                THEN 'train' ELSE 'val' END AS split,
                           CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15)
                                AS BIGINT) % 16 AS shard,
                           CAST('0x' || substr(md5(s.text), 1, 15) AS BIGINT) AS content_h,
                           len(string_split(s.text, ' ')) AS n_toks,
                           CAST(length(s.text) AS BIGINT) AS n_chars
                    FROM survivors s JOIN rsel USING (doc_id)
                    WHERE ($purge))
         SELECT split, shard, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                bit_xor(content_h) AS content_fp
         FROM rrel GROUP BY 1, 2 ORDER BY split, shard"""

  /** The X4i gate as oracle CTEs: per-source NLL over the hygienic
    * corpus slice, keep each source's most-fluent half → `corpq`. */
  private val qualityGateCtes: String =
    """qsrc AS (SELECT c.doc_id, d.source, c.text
                FROM corp c JOIN documents d USING (doc_id)),
           qt AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
                  FROM qsrc),
           qt2 AS (SELECT doc_id, source, w FROM qt WHERE length(w) > 0),
           qtot AS (SELECT count(*) AS n FROM qt2),
           qfreq AS (SELECT w, count(*) AS wc FROM qt2 GROUP BY 1),
           qnll AS (SELECT doc_id, source,
                           round(-avg(ln(wc * 1.0 / (SELECT n FROM qtot))), 4) AS nll
                    FROM qt2 JOIN qfreq USING (w) GROUP BY 1, 2),
           qr AS (SELECT *,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY nll ASC, doc_id ASC) AS rn,
                         count(*) OVER (PARTITION BY source) AS n_src
                  FROM qnll),
           corpq AS (SELECT c.doc_id, c.text
                     FROM corp c JOIN qr ON qr.doc_id = c.doc_id
                     WHERE qr.rn * 2 <= qr.n_src),"""

  /** The X4w gate as oracle CTEs: the 2-of-3 vote (NB classifier +
    * Gopher repetition + NLL percentile, each replayed over the
    * hygienic corpus slice) → `corpe`, the kept slice the shingle pass
    * reads. */
  private val ensembleGateCtes: String =
    """esrc AS (SELECT c.doc_id, d.source, c.text
                FROM corp c JOIN documents d USING (doc_id)),
           eqcf AS (SELECT doc_id, curated, w FROM (
                      SELECT doc_id,
                             CAST(substr(source, 4) AS INT) % 3 = 0 AS curated,
                             unnest(string_split(text, ' ')) AS w
                      FROM esrc)
                    WHERE length(w) > 0),
           eqcc AS (SELECT w, count(*) FILTER (WHERE curated) AS cc,
                           count(*) FILTER (WHERE NOT curated) AS rc
                    FROM eqcf GROUP BY 1),
           eqcn AS (SELECT count(*) FILTER (WHERE curated) AS c_n,
                           count(*) FILTER (WHERE NOT curated) AS r_n,
                           count(DISTINCT w) AS v
                    FROM eqcf),
           eqcm AS (SELECT w, ln((cc + 1.0) / (c_n + v))
                             - ln((rc + 1.0) / (r_n + v)) AS lo
                    FROM eqcc CROSS JOIN eqcn),
           enb AS (SELECT f.doc_id,
                          round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                                / count(*), 4) > 0 AS pass_nb
                   FROM eqcf f JOIN eqcm m USING (w) GROUP BY f.doc_id),
           erpb AS (SELECT doc_id, string_split(text, ' ') AS toks FROM esrc),
           erpt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                           CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist
                    FROM erpb),
           erpg AS (SELECT doc_id,
                           unnest([toks[i] || ' ' || toks[i+1]
                                   for i in generate_series(1, len(toks) - 1)]) AS g
                    FROM erpb WHERE len(toks) >= 2),
           erpgc AS (SELECT doc_id, g, count(*) AS c FROM erpg GROUP BY 1, 2),
           erpagg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg_n,
                             CAST(sum(c) AS BIGINT) AS n_bg
                      FROM erpgc GROUP BY 1),
           erp AS (SELECT erpt.doc_id,
                          round(1.0 - n_dist * 1.0 / n_tok, 4) <= 0.5
                          AND round(top_bg_n * 1.0 / n_bg, 4) <= 0.05 AS pass_rep
                   FROM erpt JOIN erpagg ON erpt.doc_id = erpagg.doc_id),
           eqt AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
                   FROM esrc),
           eqt2 AS (SELECT doc_id, source, w FROM eqt WHERE length(w) > 0),
           eqtot AS (SELECT count(*) AS n FROM eqt2),
           eqfreq AS (SELECT w, count(*) AS wc FROM eqt2 GROUP BY 1),
           eqnll AS (SELECT doc_id, source,
                            round(-avg(ln(wc * 1.0 / (SELECT n FROM eqtot))), 4) AS nll
                     FROM eqt2 JOIN eqfreq USING (w) GROUP BY 1, 2),
           eqr AS (SELECT *,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY nll ASC, doc_id ASC) AS rn,
                          count(*) OVER (PARTITION BY source) AS n_src
                   FROM eqnll),
           evote AS (SELECT s.doc_id,
                            CAST(COALESCE(nb.pass_nb, false) AS INT)
                            + CAST(COALESCE(rp.pass_rep, false) AS INT)
                            + CAST(k.doc_id IS NOT NULL AS INT) AS n_pass
                     FROM esrc s
                     LEFT JOIN enb nb ON nb.doc_id = s.doc_id
                     LEFT JOIN erp rp ON rp.doc_id = s.doc_id
                     LEFT JOIN (SELECT doc_id FROM eqr WHERE rn * 2 <= n_src) k
                       ON k.doc_id = s.doc_id),
           corpe AS (SELECT c.doc_id, c.text
                     FROM corp c JOIN evote v ON v.doc_id = c.doc_id
                     WHERE v.n_pass >= 2),"""

  /** The X4aa gate as oracle CTEs: the perplexity-tier chain (bigram LM
    * trained on the hygienic corpus slice, per-source ntile(3), the
    * curated-keeps-more policy) → `corpt`, the kept slice the shingle
    * pass reads. Prefix tg*. */
  private val tieredGateCtes: String =
    """tgsrc AS (SELECT c.doc_id, d.source, c.text
                 FROM corp c JOIN documents d USING (doc_id)),
           tgt AS (SELECT doc_id, string_split(text, ' ') AS t FROM tgsrc),
           tgb AS (SELECT doc_id, t[i] AS a, t[i+1] AS b
                   FROM (SELECT doc_id, t,
                                unnest(generate_series(1, len(t) - 1)) AS i
                         FROM tgt WHERE len(t) >= 2)),
           tgbc AS (SELECT a, b, count(*) AS c_ab FROM tgb GROUP BY 1, 2),
           tgcc AS (SELECT a, count(*) AS c_a FROM tgb GROUP BY 1),
           tgv AS (SELECT count(DISTINCT w) AS v
                   FROM (SELECT unnest(string_split(text, ' ')) AS w FROM tgsrc)
                   WHERE length(w) > 0),
           tgs AS (SELECT g.doc_id,
                          round(avg(-ln((bc.c_ab + 1.0) / (cc.c_a + tgv.v))), 4) AS nll
                   FROM tgb g JOIN tgbc bc USING (a, b) JOIN tgcc cc USING (a)
                        CROSS JOIN tgv
                   GROUP BY g.doc_id),
           tgall AS (SELECT s.doc_id, s.source, coalesce(p.nll, 0.0) AS nll
                     FROM tgsrc s LEFT JOIN tgs p USING (doc_id)),
           tgbk AS (SELECT *, CAST(ntile(3) OVER (
                             PARTITION BY source ORDER BY nll, doc_id) AS INT)
                             AS bucket
                    FROM tgall),
           corpt AS (SELECT c.doc_id, c.text
                     FROM corp c JOIN tgbk k ON k.doc_id = c.doc_id
                     WHERE CASE WHEN CAST(substr(k.source, 4) AS INT) % 3 = 0
                                THEN k.bucket <= 2 ELSE k.bucket = 1 END),"""

  /** The X4af gate as oracle CTEs: the rule-table chain replayed on the
    * HYGIENIC corpus slice (TextOps.ruleCtesOn) → `corpr`, the kept
    * slice the shingle pass reads. */
  private val rulesGateCtes: String =
    s"""${TextOps.ruleCtesOn(
        "(SELECT c.doc_id, d.source, c.text FROM corp c " +
          "JOIN documents d USING (doc_id))")},
           corpr AS (SELECT c.doc_id, c.text
                     FROM corp c JOIN rr ON rr.doc_id = c.doc_id
                     WHERE rr.r_wc AND rr.r_mwl AND rr.r_sym AND rr.r_bullet
                       AND rr.r_ellipsis AND rr.r_alpha AND rr.r_stop),"""

  /** The X5e gate as oracle CTEs: byte-moment quality over the RAW
    * payload bytes (mm_quality's construction) → `corpmm`, the kept
    * corpus slice the shingle pass reads. */
  private val mmGateCtes: String =
    """mmch AS (SELECT doc_id,
                       CAST('0x' || substr(h, CAST(2 * i - 1 AS INT), 2) AS INT) AS b
                FROM (SELECT doc_id, hex(encode(text)) AS h,
                             unnest(generate_series(1, octet_length(encode(text)))) AS i
                      FROM documents WHERE doc_id >= 10)),
           mmagg AS (SELECT doc_id, CAST(sum(b) AS DOUBLE) AS s,
                            CAST(sum(b * b) AS DOUBLE) AS sq,
                            CAST(count(*) AS DOUBLE) AS n
                     FROM mmch GROUP BY doc_id),
           mmkeep AS (SELECT d.doc_id
                      FROM documents d LEFT JOIN mmagg a USING (doc_id)
                      WHERE d.doc_id >= 10
                        AND round((CASE WHEN octet_length(encode(d.text)) < 100
                                        THEN 0.2 ELSE 1.0 END) *
                              (CASE WHEN coalesce(a.s / a.n, 0.0)
                                         BETWEEN 32.0 AND 127.0
                                    THEN 1.0 ELSE 0.5 END) *
                              (CASE WHEN coalesce(a.sq / a.n - (a.s / a.n) * (a.s / a.n),
                                                  0.0) > 100.0
                                    THEN 1.0 ELSE 0.5 END), 4) >= 0.5
                        -- the gate's integrity conjunct, replayed: decoded
                        -- byte count must equal the metadata n_bytes
                        AND coalesce(CAST(a.n AS BIGINT), 0)
                            = octet_length(encode(d.text))),
           corpmm AS (SELECT c.doc_id, c.text FROM corp c JOIN mmkeep USING (doc_id)),"""

  /** The packing tail, parameterized on the frame being packed. */
  private def packTail(src: String): String =
    s"""base AS (SELECT doc_id, doc_id % 8 AS shard,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                 FROM $src),
        packed AS (SELECT doc_id, shard, n_tok,
                          CAST(coalesce(sum(n_tok) OVER (
                            PARTITION BY shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
                   FROM base)
      SELECT p.doc_id, p.shard, p.n_tok,
             CAST(p.cum_before // 2048 AS BIGINT) AS chunk_id,
             p.cum_before % 2048 AS chunk_offset,
             md5(s.text) AS final_md5
      FROM packed p JOIN $src s USING (doc_id)
      ORDER BY p.doc_id LIMIT 300"""

  val oracle: Map[String, String] = Map(
    "pipeline_corpus" ->
      s"""$hygienePrefix,
           ${packTail("survivors")}""",
    // hygiene + the semantic-decon stage: the ivf/decon replay composes
    // after the hygiene prefix (disjoint CTE namespaces), flagged ids
    // anti-joined out of the survivor set before packing
    "pipeline_corpus_semdecon" ->
      s"""$hygienePrefix,
           ${graft.llm.Similarity.ivfOracleCte},
           ${graft.llm.Similarity.deconOracleCtesOn(c => s"$c < 10")},
           sdsurv AS (SELECT s.doc_id, s.text FROM survivors s
                      WHERE s.doc_id NOT IN (SELECT DISTINCT nid FROM sdhit)),
           ${packTail("sdsurv")}""",
    "pipeline_corpus_quality" ->
      s"""${hygienePrefixFrom("corpq", qualityGateCtes)},
           ${packTail("survivors")}""",
    "pipeline_corpus_mm" ->
      s"""${hygienePrefixFrom("corpmm", mmGateCtes)},
           ${packTail("survivors")}""",
    "pipeline_corpus_ensemble" ->
      s"""${hygienePrefixFrom("corpe", ensembleGateCtes)},
           ${packTail("survivors")}""",
    "pipeline_corpus_tiered" ->
      s"""${hygienePrefixFrom("corpt", tieredGateCtes)},
           ${packTail("survivors")}""",
    "pipeline_corpus_rules" ->
      s"""${hygienePrefixFrom("corpr", rulesGateCtes)},
           ${packTail("survivors")}""",
    "pipeline_corpus_canonical" ->
      s"""${hygienePrefixFrom("corp", canonicalDroplist = true)},
           ${packTail("survivors")}""",
    // the export loop: the shard-manifest aggregation over the hygiene
    // survivors, byte counts from the HYGIENIC text
    "pipeline_corpus_order" ->
      s"""$hygienePrefix,
           posrc AS (SELECT s.doc_id, d.source, s.text
                     FROM survivors s JOIN documents d USING (doc_id)),
           ${graft.llm.TextOps.trainOrderOracleFrom("posrc")}""",
    "pipeline_corpus_manifest" ->
      s"""$hygienePrefix,
           md AS (SELECT doc_id, length(text) AS n_chars,
                         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                              AS BIGINT) % 16 AS shard,
                         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h,
                         len(string_split(text, ' ')) AS n_toks
                  FROM survivors)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                bit_xor(content_h) AS content_fp
         FROM md GROUP BY shard ORDER BY shard""",
    // the funnel: stage counts replayed end-to-end — hygiene prefix,
    // ivf/decon replay, then the classifier chain over the semdecon
    // survivors (f-prefixed CTEs)
    "pipeline_funnel" ->
      s"""$hygienePrefix,
           ${graft.llm.Similarity.ivfOracleCte},
           ${graft.llm.Similarity.deconOracleCtesOn(c => s"$c < 10")},
           sdsurv AS (SELECT s.doc_id, s.text FROM survivors s
                      WHERE s.doc_id NOT IN (SELECT DISTINCT nid FROM sdhit)),
           fsc AS (SELECT s.doc_id, d.source, s.text
                   FROM sdsurv s JOIN documents d USING (doc_id)),
           fqf AS (SELECT doc_id, curated, w FROM (
                     SELECT doc_id,
                            CAST(substr(source, 4) AS INT) % 3 = 0 AS curated,
                            unnest(string_split(text, ' ')) AS w
                     FROM fsc)
                   WHERE length(w) > 0),
           fcc AS (SELECT w, count(*) FILTER (WHERE curated) AS cc,
                          count(*) FILTER (WHERE NOT curated) AS rc
                   FROM fqf GROUP BY 1),
           fcn AS (SELECT count(*) FILTER (WHERE curated) AS c_n,
                          count(*) FILTER (WHERE NOT curated) AS r_n,
                          count(DISTINCT w) AS v
                   FROM fqf),
           fcm AS (SELECT w, ln((cc + 1.0) / (c_n + v))
                            - ln((rc + 1.0) / (r_n + v)) AS lo
                   FROM fcc CROSS JOIN fcn),
           fsel AS (SELECT f.doc_id FROM fqf f JOIN fcm m USING (w)
                    GROUP BY f.doc_id
                    HAVING round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                                 / count(*), 4) > 0),
           fst AS (
             SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs
             FROM documents WHERE doc_id >= 10
             UNION ALL SELECT 1, 'hygiene_survivors', count(*) FROM survivors
             UNION ALL SELECT 2, 'semantic_decon', count(*) FROM sdsurv
             UNION ALL SELECT 3, 'classifier_kept', count(*) FROM fsel)
         SELECT stage, stage_name, n_docs,
                coalesce(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0) AS n_dropped
         FROM fst ORDER BY stage""",
    // the release: survivors → NB classifier gate (trained on the
    // surviving corpus, rl-prefixed CTEs) → split/shard rollup
    "pipeline_corpus_release" -> releaseOracle(),
    // the trim stage replayed over the survivor set (same construction as
    // dedup_substring_trim, t-prefixed names to avoid CTE collisions)
    "pipeline_corpus_trim" ->
      s"""$hygienePrefix,
           strs AS (SELECT doc_id, string_split(text, ' ') AS st FROM survivors),
           twins AS (SELECT doc_id, i - 1 AS tok_pos,
                            CAST('0x' || substr(md5(array_to_string(st[i:i+15], ' ')),
                                 1, 15) AS BIGINT) AS h
                     FROM (SELECT doc_id, st,
                                  unnest(generate_series(1, len(st) - 15)) AS i
                           FROM strs WHERE len(st) >= 16)),
           tsel AS (SELECT * FROM twins WHERE h % 4 = 0),
           tshared AS (SELECT h, min(doc_id) AS owner FROM tsel GROUP BY h
                       HAVING count(DISTINCT doc_id) >= 2),
           tcov AS (SELECT DISTINCT s2.doc_id, s2.tok_pos + g.j AS idx
                    FROM tsel s2 JOIN tshared sh2 USING (h)
                    CROSS JOIN generate_series(0, 15) g(j)
                    WHERE s2.doc_id <> sh2.owner),
           ttk AS (SELECT doc_id, i - 1 AS idx, st[i] AS tok
                   FROM (SELECT doc_id, st,
                                unnest(generate_series(1, len(st))) AS i
                         FROM strs)),
           tkept AS (SELECT ttk.doc_id, ttk.idx, ttk.tok
                     FROM ttk LEFT JOIN tcov c2
                       ON c2.doc_id = ttk.doc_id AND c2.idx = ttk.idx
                     WHERE c2.doc_id IS NULL),
           trimmed AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text
                       FROM tkept GROUP BY doc_id),
           ${packTail("trimmed")}""")
}
