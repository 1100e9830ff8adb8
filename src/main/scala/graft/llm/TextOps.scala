package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Common._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §2.9 / BASELINE.json north star): token counting, quality
  * scoring, language-ID, fingerprinting, TF-IDF.
  *
  * All pure Catalyst: string/array built-ins + SQL higher-order functions —
  * no UDFs, so the scalar stages fuse into whole-stage codegen and scale
  * linearly with executors (each document is independent; no shuffle until
  * an aggregate needs one).
  */
object TextOps {

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letters / digits / single non-space symbol) + distinct count. */
  val textTokens: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|\\\\S', 0)")).as("n_re"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct"))
      .orderBy("doc_id")
      .limit(300)

  /** Quality scoring: length / token stats / stopword ratio — the standard
    * cheap pre-filters before expensive dedup in a data pipeline. */
  val textQuality: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_stop",
        size(expr("filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'to'))")))
      .select(
        col("doc_id"),
        col("n_chars"),
        col("n_toks"),
        r4(col("n_chars").cast("double") / col("n_toks")).as("avg_tok_len"),
        r4(col("n_stop").cast("double") / col("n_toks")).as("stop_ratio"),
        r4(
          when(col("n_chars") < 100, 0.2).otherwise(1.0) *
            when(col("n_stop") === 0, 0.5).otherwise(1.0)).as("quality"))
      .orderBy("doc_id")
      .limit(300)

  /** Language-ID by stopword-hit heuristic (n-gram-free variant: count
    * hits against tiny per-language marker sets; argmax wins, 'und' when
    * nothing hits). Mechanism is what matters — real marker tables would
    * be a broadcast resource exactly like the T3 normalization table. */
  val textLangid: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hits_en", size(expr("filter(toks, w -> w IN ('the', 'a', 'of'))")))
      .withColumn("hits_es", size(expr("filter(toks, w -> w IN ('el', 'la', 'de'))")))
      .withColumn("hits_de", size(expr("filter(toks, w -> w IN ('der', 'die', 'das'))")))
      .withColumn("predicted",
        when(col("hits_en") >= col("hits_es") && col("hits_en") >= col("hits_de") &&
          col("hits_en") > 0, "en")
          .when(col("hits_es") >= col("hits_de") && col("hits_es") > 0, "es")
          .when(col("hits_de") > 0, "de")
          .otherwise("und"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** X4a-ngram: language-ID by character-trigram profile matching — the
    * classic n-gram heuristic (Cavnar–Trenkle shape): slide a 3-char
    * window over the text, count hits against tiny per-language trigram
    * profiles, argmax wins. Pure higher-order functions over the char
    * grams — one codegen'd pass per document, profiles are in-plan
    * literals (a real system would broadcast learned profiles, exactly
    * like the T3 mapping table). */
  val textLangidNgram: Q = (s, d) => {
    // Hit counts via native `replace` instead of materializing the
    // per-char trigram array (one 3-char string allocation per character
    // of corpus text — the array build dominated the key at 3.4 s/sf0.1).
    // Exactness: every profile trigram is border-free (no prefix equals
    // a suffix), so two occurrences of the same trigram can never
    // overlap and left-to-right non-overlapping removal counts ALL
    // occurrences: (length − length(text minus p)) / 3 equals the
    // gram-array positional filter count, position for position; profile
    // grams are distinct, so a position matches at most one gram and the
    // per-gram counts sum to the filter's size(). Short texts need no
    // guard — a <3-char text contains no trigram and every term is 0.
    def hits(profile: Seq[String]): org.apache.spark.sql.Column = {
      val terms = profile
        .map(p => s"(length(text) - length(replace(text, '$p')))")
        .mkString(" + ")
      expr(s"CAST(($terms) / 3 AS INT)")
    }
    t(s, d, "documents")
      .withColumn("g_en", hits(Seq("the", "ing", "and", " th")))
      .withColumn("g_es", hits(Seq(" de", "la ", "ión", "os ")))
      .withColumn("g_de", hits(Seq("der", "sch", "ung", "ein")))
      .withColumn("predicted",
        when(col("g_en") >= col("g_es") && col("g_en") >= col("g_de") &&
          col("g_en") > 0, "en")
          .when(col("g_es") >= col("g_de") && col("g_es") > 0, "es")
          .when(col("g_de") > 0, "de")
          .otherwise("und"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** X4c: sequence packing — concat-and-chunk, the batch-assembly step of
    * a training pipeline: documents are concatenated in a deterministic
    * order and cut into fixed-size token windows; each doc needs to know
    * its (chunk, offset) so the tokenized corpus can be written straight
    * into packed training rows. Packing is per hash-shard — a global
    * order would serialize the corpus through one partition at 100 TB;
    * per-shard packing is what real pipelines do (one packer per worker)
    * and keeps every window bounded by the shard, not the table. Pure
    * integer window arithmetic → oracle-exact. */
  /** The reusable form: shard count is a parameter — size it to the
    * input's partition count (one packer per worker) at scale; a fixed
    * constant would cap packing parallelism at 100 TB no matter how many
    * executors are available. `carry` columns (over `docs`) ride along
    * in the packing projection, after `n_tok`. */
  def packChunks(docs: org.apache.spark.sql.DataFrame, ctx: Long, nShards: Long,
      carry: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(Seq(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok")) ++ carry: _*)
      .withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("chunk_id", (col("cum_before") / ctx).cast("long"))
      .withColumn("chunk_offset", col("cum_before") % ctx)
      .drop("cum_before")
  }

  val textPackChunks: Q = (s, d) =>
    // 8 shards here only because the oracle SQL echoes the constant;
    // production call: packChunks(docs, ctx, docs.rdd.getNumPartitions)
    packChunks(t(s, d, "documents"), ctx = 2048L, nShards = 8L)
      .orderBy("doc_id")
      .limit(300)

  /** X4ae: PACKING-CONTEXT TUNING census — the ctx knob's cost curve
    * without packing once per candidate: gap-free sequential packing
    * ([[packChunks]]) pins each shard's chunk count to
    * ceil(shard_tok/ctx) and its waste to the final chunk's underfill,
    * so the whole (chunks, waste, fill) curve is CLOSED-FORM from the
    * per-shard token sums — one corpus aggregate, then 4 rows of integer
    * arithmetic per candidate ctx (the probe-tuning pattern applied to
    * the packer: measure the knob, don't re-run the job per setting).
    * All-integer output; a spec cross-checks the closed form against an
    * actual packChunks run. */
  val textPackTuning: Q = (s, d) => packTuningOf(t(s, d, "documents"))

  /** The same census over ANY (doc_id, text) frame (jx `corpus_op`
    * entry point). */
  def packTuningOf(docs: org.apache.spark.sql.DataFrame, nShards: Long = 8L,
      ctxs: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L))
      : org.apache.spark.sql.DataFrame =
    packTuningFrom(
      docs.select(pmod(col("doc_id"), lit(nShards)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
      ctxs)

  /** The closed-form half over ANY (shard, n_tok) cost frame — shared
    * with the interleaved multimodal twin (the cost column differs, the
    * geometry arithmetic does not). */
  private[graft] def packTuningFrom(costs: org.apache.spark.sql.DataFrame,
      ctxs: Seq[Long]): org.apache.spark.sql.DataFrame = {
    import costs.sparkSession.implicits._
    costs.groupBy("shard").agg(sum("n_tok").as("shard_tok"))
      .crossJoin(broadcast(ctxs.toDF("ctx")))
      .withColumn("n_chunks", expr("(shard_tok + ctx - 1) div ctx"))
      .groupBy("ctx")
      .agg(sum("n_chunks").as("n_chunks"),
        sum("shard_tok").as("n_tokens"),
        sum(col("n_chunks") * col("ctx") - col("shard_tok")).as("waste_tok"))
      .select(col("ctx"), col("n_chunks"), col("n_tokens"), col("waste_tok"),
        expr("(1000 * n_tokens) div (n_tokens + waste_tok)").as("fill_permille"))
      .orderBy("ctx")
  }

  /** The materialized form the trainer actually reads: each doc exploded
    * into its per-chunk SLICES — (chunk, tok_start, tok_end) — so the
    * tokenized corpus can be written chunk-by-chunk with every chunk
    * exactly `ctx` tokens (a doc crossing a boundary contributes a
    * segment to each side). Pure integer arithmetic over
    * [[packChunks]]'s offsets: a doc starting at (chunk_id, offset) with
    * n tokens spans ⌈(offset + n) / ctx⌉ chunks; segment j covers doc
    * tokens [j·ctx − offset, min(n, (j+1)·ctx − offset)). Still
    * per-shard — no global order, no state. */
  def packSegments(docs: org.apache.spark.sql.DataFrame, ctx: Long, nShards: Long):
      org.apache.spark.sql.DataFrame =
    packChunks(docs, ctx, nShards)
      .filter(col("n_tok") > 0)
      .withColumn("n_chunks",
        ((col("chunk_offset") + col("n_tok") - 1) / ctx).cast("long") + 1)
      .select(col("doc_id"), col("shard"), col("chunk_id"), col("chunk_offset"),
        col("n_tok"), explode(sequence(lit(0L), col("n_chunks") - 1)).as("j"))
      .select(
        col("doc_id"), col("shard"),
        (col("chunk_id") + col("j")).as("chunk"),
        greatest(col("j") * ctx - col("chunk_offset"), lit(0L)).as("tok_start"),
        least(col("n_tok"), (col("j") + 1) * ctx - col("chunk_offset")).as("tok_end"))
      .withColumn("seg_len", col("tok_end") - col("tok_start"))

  val textPackSegments: Q = (s, d) =>
    packSegments(t(s, d, "documents"), ctx = 2048L, nShards = 8L)
      .orderBy("doc_id", "chunk")
      .limit(500)

  /** Forward idea (x): PACKING-AWARE SHARD MANIFEST — the trainer-facing
    * closing of the packing loop: one row per PACKING shard (the
    * [[packChunks]] pmod shard, not the export hash shard) stating what
    * the packed shard contains — docs, token total, how many ctx-sized
    * chunks the shard fills, the fill of the final (possibly partial)
    * chunk, and the xor content fingerprint ([[shardManifest]]'s
    * distributive-algebra recipe). `n_chunks` is derived FROM the packed
    * coordinates (max over docs of the chunk its last token lands in),
    * so the manifest is a statement about the packing arithmetic itself:
    * gap-free, quota-true packing forces n_chunks == ceil(n_tokens/ctx)
    * and 0 < last_fill <= ctx — a trainer validates a delivered shard
    * against this row before consuming a single chunk.
    *
    * Plan shape at 100 TB: the same per-shard cumulative window packing
    * itself uses (no global order), then a groupBy collapsing to
    * nShards rows — KB-scale output, merge-able across batches exactly
    * like [[mergeManifests]] (sums add, fingerprints xor; n_chunks/
    * last_fill re-derive from the merged totals). */
  def packManifest(docs: org.apache.spark.sql.DataFrame, ctx: Long,
      nShards: Long): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr("CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)").as("content_h"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        // the chunk the shard's last token lands in, from the packed
        // coordinates (cum_before == chunk_id·ctx + chunk_offset)
        (max(((col("cum_before") + col("n_tok") - 1) / ctx).cast("long")) + 1)
          .as("n_chunks"),
        expr("bit_xor(content_h)").as("content_fp"))
      .withColumn("last_fill", col("n_tokens") - (col("n_chunks") - 1) * ctx)
      .select("shard", "n_docs", "n_tokens", "n_chunks", "last_fill", "content_fp")
      .orderBy("shard")
  }

  val textPackManifest: Q = (s, d) =>
    packManifest(t(s, d, "documents"), ctx = 2048L, nShards = 8L)

  /** One micro-batch's per-packing-shard partials: doc/token sums plus
    * the xor content fingerprint — every column distributive, so any
    * batch split merges exactly ([[packMergeFrom]]). The chunk geometry
    * is deliberately NOT in the partial: it re-derives from the merged
    * totals. */
  def packPartialsOf(docs: org.apache.spark.sql.DataFrame,
      nShards: Long = 8L): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr("CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)").as("content_h"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        expr("bit_xor(content_h)").as("content_fp"))

  /** Merge any number of [[packPartialsOf]] rows back into the
    * trainer-facing manifest. Exactness argument: gap-free concat
    * packing forces n_chunks == ceil(n_tokens / ctx) (the invariant
    * [[packManifest]]'s coordinate-derived value asserts), so the
    * geometry columns re-derive from the merged token totals alone —
    * the streamed store is gated by `text_pack_manifest`'s oracle
    * VERBATIM, not a weaker consistency check. Every doc has ≥ 1 token
    * (split of an empty string is one element), so n_tokens ≥ 1 and the
    * (n−1) div ctx form is safe. */
  def packMergeFrom(parts: org.apache.spark.sql.DataFrame,
      ctx: Long = 2048L): org.apache.spark.sql.DataFrame =
    parts
      .groupBy("shard")
      .agg(
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        expr("bit_xor(content_fp)").as("content_fp"))
      .withColumn("n_chunks", expr(s"(n_tokens - 1) div $ctx") + 1L)
      .withColumn("last_fill", col("n_tokens") - (col("n_chunks") - 1L) * ctx)
      .select("shard", "n_docs", "n_tokens", "n_chunks", "last_fill", "content_fp")
      .orderBy("shard")

  /** X4e: intra-document repetition signals (the Gopher/MassiveText
    * quality-filter family — Rae et al. 2021, public recipe): documents
    * dominated by a few repeated n-grams are boilerplate/spam and get
    * filtered before training. Two signals per doc: duplicate-token
    * fraction (1 − distinct/total, pure in-row array ops) and the
    * top-bigram fraction (share of all bigram occurrences held by the
    * most frequent bigram — explode → per-doc count → max/sum, one
    * shuffle keyed by doc_id so skew is bounded by document length). */
  val textRepetition: Q = (s, d) =>
    repetitionScoresOf(t(s, d, "documents")).orderBy("doc_id").limit(300)

  /** The un-windowed repetition frame over ANY (doc_id, text) corpus —
    * the composable form ([[textQualityEnsemble]] votes on it). Docs
    * with fewer than 2 tokens have no bigram row and drop (the Gopher
    * convention: too short to score). */
  def repetitionScoresOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Pure in-row form (guide §1.2 step 2 + §2.4): the old shape exploded
    // every bigram and shuffled the whole corpus TWICE (groupBy(doc_id,
    // bg) then groupBy(doc_id)) plus a per-doc join, to compute what is a
    // doc-local statistic. The top-bigram count is the longest equal run
    // in the doc's SORTED bigram array (identical multiset ⇒ identical
    // max count — same concat(' ') key as the old groupBy), and the total
    // bigram count is size(toks) − 1, so the whole signal is one
    // codegen'd expression per row: zero exchanges at any corpus size.
    // Docs with < 2 tokens drop, exactly like the old inner join.
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .withColumn("sb", expr(
        """array_sort(transform(sequence(0, size(toks) - 2),
             i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2))))"""))
      .withColumn("top_bg_n", expr(
        """IF(size(sb) = 1, CAST(1 AS BIGINT),
             aggregate(sequence(2, size(sb)),
               named_struct('run', CAST(1 AS BIGINT), 'best', CAST(1 AS BIGINT)),
               (a, i) -> IF(element_at(sb, i) = element_at(sb, i - 1),
                 named_struct('run', a.run + CAST(1 AS BIGINT),
                   'best', greatest(a.best, a.run + CAST(1 AS BIGINT))),
                 named_struct('run', CAST(1 AS BIGINT), 'best', a.best)),
               a -> a.best))"""))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        r4(lit(1.0) - size(array_distinct(col("toks"))).cast("double")
          / size(col("toks"))).as("dup_tok_frac"),
        col("top_bg_n"),
        r4(col("top_bg_n").cast("double")
          / (size(col("toks")) - 1)).as("top_bg_frac"))
  }

  /** X4w: multi-filter QUALITY ENSEMBLE — the FineWeb/RefinedWeb lesson
    * that no single filter is trustworthy alone: three INDEPENDENT
    * gates vote per document — the NB curated-vs-crawl classifier
    * ([[classifierScoresOf]]'s decision bit), the Gopher repetition
    * rules ([[repetitionScoresOf]] at dup ≤ 0.5, top-bigram ≤ 0.05),
    * and the per-source NLL fluency percentile ([[qualityFilterOf]]'s
    * kept half) — and a document needs 2 of 3 to stay. Every vote is a
    * decision on an ALREADY-rounded score (the determinism recipe), so
    * the keep set replays exactly. Plan: three document-bounded frames
    * left-joined on doc_id — each gate's own scale story applies
    * unchanged; a doc too short to have bigrams fails the repetition
    * vote by convention (never silently passes). */
  val textQualityEnsemble: Q = (s, d) => qualityEnsembleOf(t(s, d, "documents"))

  /** The same 2-of-3 vote over ANY (doc_id, source, text) frame (jx
    * `corpus_op` entry point). */
  def qualityEnsembleOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ensembleVotesOf(docs).orderBy("doc_id").limit(300)

  /** The un-windowed vote frame — the composable form
    * ([[graft.llm.Pipeline]]'s ensemble-gated chain consumes the full
    * set). */
  def ensembleVotesOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // ONE word explode shared by the NB and NLL gates (the repetition
    // gate is pure in-row work — see [[repetitionScoresOf]]), then ONE
    // vocabulary aggregate feeding BOTH gates' tables (the NB class
    // counts AND the NLL frequency wc = cc + rc; class totals, vocab
    // size and the corpus token total are exact integer sums over it),
    // then ONE scoring join computing BOTH votes' per-doc statistics.
    // r18 shape: 6 reads of toks (model counts, model totals, NB join,
    // freq, corpus total, NLL join); now 2 (vocab aggregate + scoring
    // join) — guide §2.4. The NB model covers every corpus word (built
    // from the same toks), so its inner join keeps every row and both
    // aggregates see exactly the standalone gates' groups: the votes
    // stay bit-identical to the standalone keys (CorpusOpsSpec pins the
    // NB agreement row for row; the oracle replays both gates).
    // wc counts EVERY token, like the standalone NLL gate's frequency
    // table: cc + rc would drop the tokens whose source has no class
    // (curated is null when the source suffix does not parse)
    val toks = materialize(docs
      .select(col("doc_id"), col("source"), curatedOf(col("source")).as("curated"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0), "text.ensemble_tokens")
    val wstats = materialize(toks.groupBy("w").agg(
        count(when(col("curated"), lit(1))).as("cc"),
        count(when(!col("curated"), lit(1))).as("rc"),
        count(lit(1)).as("wc")), "text.ensemble_vocab")
    val tot = wstats.agg(sum("cc").as("c_n"), sum("rc").as("r_n"),
      count(lit(1)).as("v"), sum("wc").as("n_total"))
    val model = wstats.crossJoin(broadcast(tot))
      .withColumn("lo",
        log((col("cc") + lit(1.0)) / (col("c_n") + col("v"))) -
          log((col("rc") + lit(1.0)) / (col("r_n") + col("v"))))
      .select(col("w"), col("lo"), col("wc"), col("n_total"))
    val scored = toks.join(model, Seq("w"))
      .groupBy("doc_id", "source")
      .agg(
        r4(sum(col("lo").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("score"),
        r4(-avg(log(col("wc").cast("double") / col("n_total")))).as("nll"))
    val wR = Window.partitionBy("source").orderBy(col("nll").asc, col("doc_id").asc)
    val wC = Window.partitionBy("source")
    val votes = scored
      .withColumn("rn", row_number().over(wR))
      .withColumn("n_src", count(lit(1)).over(wC))
      .select(col("doc_id"), (col("score") > 0).as("pass_nb"),
        (col("rn") * 2 <= col("n_src")).as("pass_nll"))
    val rep = repetitionScoresOf(docs)
      .select(col("doc_id"),
        (col("dup_tok_frac") <= 0.5 && col("top_bg_frac") <= 0.05).as("pass_rep"))
    docs.select("doc_id", "source")
      .join(votes, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
      .withColumn("pass_nb", coalesce(col("pass_nb"), lit(false)))
      .withColumn("pass_rep", coalesce(col("pass_rep"), lit(false)))
      .withColumn("pass_nll", coalesce(col("pass_nll"), lit(false)))
      .withColumn("n_pass",
        col("pass_nb").cast("int") + col("pass_rep").cast("int") +
          col("pass_nll").cast("int"))
      .withColumn("keep", col("n_pass") >= 2)
      .select("doc_id", "source", "pass_nb", "pass_rep", "pass_nll",
        "n_pass", "keep")
  }

  /** X4f: corpus mixture sampling — assemble a training mix by weighting
    * sources (the "2 epochs of wiki, 0.4 of web" step every run config
    * encodes). Weight w ≥ 0 per source → each doc contributes ⌊w⌋ copies
    * plus one more with probability frac(w), decided by the md5-hash of
    * its id (same family as sample_hash): deterministic across runs,
    * engines, and repartitioning — reproducible mixtures are as
    * load-bearing as reproducible splits. Pure map-side arithmetic +
    * an explode of bounded width; no shuffle grows with corpus size. */
  val textMixSources: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .withColumn("w", expr(
        """CASE CAST(substr(source, 4) AS INT) % 3
             WHEN 0 THEN 2.25 WHEN 1 THEN 1.0 ELSE 0.4 END"""))
      .withColumn("hfrac", expr(
        "(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 1000000) / 1e6"))
      .withColumn("n_copies",
        floor(col("w")).cast("long") +
          when(col("hfrac") < col("w") - floor(col("w")), 1L).otherwise(0L))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_in"),
        sum("n_copies").as("n_out"),
        r4(first(col("w")).cast("double")).as("w"))
      .orderBy("source")
  }

  /** X4p: data-constrained mixture SCHEDULE — per-source repeat factors
    * under a token budget (the planning step BEFORE [[textMixSources]]'s
    * doc-level expansion: how many epochs of each source to run). The
    * budget (2× the corpus) is split by the source weights; a source may
    * repeat up to `maxEpochs` passes (repeating data up to ~4 epochs
    * retains most of its value — Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"), and unmet demand is reported as
    * `deficit_tok` so the pipeline can re-weight the remaining sources.
    * Cross-engine exactness: weights are ×100 integers and the target is
    * an INTEGER floor-division — no double sum ever crosses rows, so the
    * schedule replays bit-identically under any partitioning. Plan at
    * 100 TB: one groupBy on the (bounded) source key over a pruned
    * (source, text) scan, then a broadcast 1-row totals frame — the
    * readout is KB-scale. */
  val textMixSchedule: Q = (s, d) => mixScheduleOf(t(s, d, "documents"))

  /** The same scheduler over ANY (source, text) frame (jx `corpus_op`
    * entry point). budgetPct is the budget as a percentage of the corpus
    * token count (200 = 2 epochs' worth of tokens overall). */
  def mixScheduleOf(docs: org.apache.spark.sql.DataFrame, budgetPct: Long = 200L,
      maxEpochs: Long = 4L): org.apache.spark.sql.DataFrame =
    mixScheduleFromTok(
      docs
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(sum("n_tok").as("n_tok")),
      budgetPct, maxEpochs)

  /** The scheduler over a pre-aggregated (source, n_tok) frame — the
    * store-probing entry: the streamed quality monitor's merged
    * `n_tokens` sums are the SAME exact longs this scan derives, so a
    * dataset-backed jx route plans the mixture off the maintained store
    * without any corpus scan (monitor → planner, closed loop). */
  def mixScheduleFromTok(srcTok: org.apache.spark.sql.DataFrame, budgetPct: Long = 200L,
      maxEpochs: Long = 4L): org.apache.spark.sql.DataFrame = {
    // the finished |sources|-row schedule is materialized: a training
    // order reads it once per phase, and the totals below read the
    // per-source rows twice in one plan (one shared exchange)
    val src = srcTok
      .withColumn("weight_pct", expr(
        """CAST(CASE CAST(substr(source, 4) AS INT) % 3
             WHEN 0 THEN 225 WHEN 1 THEN 100 ELSE 40 END AS BIGINT)"""))
    val tot = src.agg(
      sum("n_tok").as("tot_tok"), sum("weight_pct").as("tot_w"))
    materialize(src.crossJoin(broadcast(tot))
      .withColumn("target_tok",
        // single integer floor-division — no intermediate truncation, no
        // doubles; budget×tokens×weight stays < 2⁶³ through ~10¹⁶ tokens
        expr(s"($budgetPct * tot_tok * weight_pct) div (100 * tot_w)"))
      .withColumn("scheduled_tok",
        least(col("target_tok"), col("n_tok") * maxEpochs))
      .select(col("source"), col("n_tok"), col("weight_pct"),
        col("target_tok"), col("scheduled_tok"),
        r4(col("scheduled_tok").cast("double") / col("n_tok")).as("epochs"),
        (col("target_tok") - col("scheduled_tok")).as("deficit_tok")),
      "text.mix_schedule")
      .orderBy("source")
  }

  /** X4x: deterministic TRAINING-ORDER manifest — the mix schedule
    * turned into the actual (epoch, shard, position) coordinates a
    * trainer consumes, closing the planner→trainer loop the way
    * [[packManifest]] closes the packer's. Each source's `scheduled_tok`
    * quota becomes `scheduled div total` FULL passes over the source
    * plus one PARTIAL pass covering the remainder; membership in the
    * partial pass is the DSIR threshold-gate shape ([[dsirOf]]): docs in
    * deterministic md5 order, cumulative tokens, in while
    * `cum_before < remainder` — no sampling state, no RNG, bit-stable
    * under re-runs. Every (doc, epoch) instance is then placed at a
    * per-(epoch, shard) position: shard = md5(doc#epoch) so consecutive
    * epochs see DIFFERENT doc→shard assignments (the reshuffle-between-
    * epochs a trainer expects), position = rank of the md5 key within
    * the shard. Epoch indices are per-source (a 225-weight source cycles
    * more often than a 40-weight one — the repeat-factor recipe).
    *
    * Plan shape at 100 TB: the schedule is |sources| rows broadcast; the
    * gate window partitions BY SOURCE (bounded per-source scans, same as
    * DSIR); placement is row_number per (epoch, shard) — parallelism =
    * epochs × shards with no global sort anywhere. Pure integer + md5
    * arithmetic → oracle-exact. */
  val textTrainOrder: Q = (s, d) => trainOrderOf(t(s, d, "documents"))

  /** The same ordering over ANY (doc_id, source, text) frame (jx
    * `corpus_op` entry point). */
  def trainOrderOf(docs: org.apache.spark.sql.DataFrame, budgetPct: Long = 200L,
      maxEpochs: Long = 4L, nShards: Long = 8L): org.apache.spark.sql.DataFrame =
    trainOrderFullOf(docs, budgetPct, maxEpochs, nShards)
      .orderBy("epoch", "shard", "pos")
      .limit(300)

  /** The full (un-limited) instance frame — what the export sink would
    * actually write, one row per (doc, epoch) instance. */
  def trainOrderFullOf(docs: org.apache.spark.sql.DataFrame, budgetPct: Long = 200L,
      maxEpochs: Long = 4L, nShards: Long = 8L): org.apache.spark.sql.DataFrame =
    placeInstances(
      docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
      mixScheduleOf(docs, budgetPct, maxEpochs)
        .select(col("source"), col("scheduled_tok").as("quota_tok"), col("n_tok").as("set_tok")),
      maxEpochs, nShards, shardSalt = "")

  /** X4ab: TRAINING-ORDER MIX AUDIT — the trainer-side validation of
    * [[textTrainOrder]]'s interleave: per (epoch, shard), is the shard's
    * source mixture the epoch's mixture? A worker reads one shard
    * sequentially, so a badly-mixed shard IS a curriculum the planner
    * never chose. Metric: total-variation distance between the shard's
    * per-source token shares and the epoch's global shares (0 = perfectly
    * mixed, 1 = single-source shard); a source absent from the shard
    * contributes its full epoch share. Readout: one row per (epoch,
    * shard) with doc/token mass, sources present, and tv_mix.
    *
    * Scale shape: the audit aggregates the instance frame once on the
    * BOUNDED (epoch, shard, source) key (map-side partials; epochs ×
    * shards × sources cells, never corpus-scale rows past the shuffle)
    * and never references `pos` — Catalyst's column pruning drops the
    * placement window, so auditing costs the gate pass only. Cross-engine
    * exactness: shares are single double divisions of exact integers;
    * each |p − q| term is rounded to a 12-dp DECIMAL before the exact
    * cross-source sum (the PageRank-contribution rule), then one ×0.5
    * (exact scaling) and r4. */
  val textOrderAudit: Q = (s, d) => orderAuditOf(t(s, d, "documents"))

  /** The same audit over ANY (doc_id, source, text) frame (jx `corpus_op`
    * entry point). */
  def orderAuditOf(docs: org.apache.spark.sql.DataFrame, budgetPct: Long = 200L,
      maxEpochs: Long = 4L, nShards: Long = 8L): org.apache.spark.sql.DataFrame = {
    val inst = trainOrderFullOf(docs, budgetPct, maxEpochs, nShards)
      .select("epoch", "shard", "source", "n_tok")
    val cell = inst.groupBy("epoch", "shard", "source")
      .agg(count(lit(1)).as("c_docs"), sum("n_tok").as("c_tok"))
    val shardTot = cell.groupBy("epoch", "shard")
      .agg(sum("c_docs").as("n_docs"), sum("c_tok").as("n_tokens"),
        count(lit(1)).as("n_sources"))
    val epochSrc = cell.groupBy("epoch", "source")
      .agg(sum("c_tok").as("e_src_tok"))
    val epochTot = epochSrc.groupBy("epoch").agg(sum("e_src_tok").as("e_tok"))
    // (epoch, shard) × (sources active in the epoch) grid, so a source
    // missing from a shard still contributes |0 − q| — all frames here are
    // epochs×shards×sources cells, driver-safe at any corpus size
    shardTot.join(epochSrc, Seq("epoch")).join(epochTot, Seq("epoch"))
      .join(cell, Seq("epoch", "shard", "source"), "left")
      .withColumn("term", expr(
        """CAST(round(abs(CAST(coalesce(c_tok, 0) AS DOUBLE) / n_tokens
                        - CAST(e_src_tok AS DOUBLE) / e_tok), 12)
                AS DECIMAL(38,12))"""))
      .groupBy(col("epoch"), col("shard"), col("n_docs"), col("n_tokens"),
        col("n_sources"))
      .agg(r4(sum(col("term")).cast("double") * lit(0.5)).as("tv_mix"))
      .select("epoch", "shard", "n_docs", "n_tokens", "n_sources", "tv_mix")
      .orderBy("epoch", "shard")
  }

  /** X4ad: per-(source, epoch) TOKEN ACCOUNTING of the training order —
    * the repeat-factor decomposition a trainer logs: each full pass
    * carries the source's whole token mass (fill 1000‰), the
    * threshold-gated final pass carries exactly the schedule's
    * remainder. This is the step-budget table "what does epoch e of
    * source s cost", derivable ONLY from the instance frame (the
    * schedule says how much in total; the order says when). Scale
    * shape: one bounded-key groupBy over the instance frame (sources ×
    * epochs cells) plus the |sources|-row totals join; `pos` is never
    * read, so the placement window prunes away (the order-audit rule).
    * All-integer output — oracle-exact by construction. */
  val textEpochBudget: Q = (s, d) => epochBudgetOf(t(s, d, "documents"))

  /** The same accounting over ANY (doc_id, source, text) frame (jx
    * `corpus_op` entry point). */
  def epochBudgetOf(docs: org.apache.spark.sql.DataFrame, budgetPct: Long = 200L,
      maxEpochs: Long = 4L, nShards: Long = 8L): org.apache.spark.sql.DataFrame = {
    val cell = trainOrderFullOf(docs, budgetPct, maxEpochs, nShards)
      .select("source", "epoch", "n_tok")
      .groupBy("source", "epoch")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val tot = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("src_tok"))
    cell.join(broadcast(tot), Seq("source"))
      .select(col("source"), col("epoch"), col("n_docs"), col("n_tokens"),
        expr("(1000 * n_tokens) div src_tok").as("fill_permille"))
      .orderBy("source", "epoch")
  }

  /** The shared placement core behind [[trainOrderFullOf]] and
    * [[annealOrderOf]]: given ONE phase's doc set (doc_id, source,
    * n_tok) and a per-source (source, quota_tok, set_tok) frame — the
    * token quota and the phase set's token total, which the schedule
    * already holds — emit one row per (doc, epoch) instance.
    * `quota div set_tok` full passes (capped at maxEpochs) + a
    * threshold-gated partial pass over the remainder; `shardSalt`
    * (appended inside the md5 shard key) keeps different phases'
    * epoch-reshuffles independent. The quota join is |sources| rows —
    * always broadcast; the gate window partitions by source; placement
    * is per (epoch, shard) — no global sort. */
  private def placeInstances(base: org.apache.spark.sql.DataFrame,
      quota: org.apache.spark.sql.DataFrame, maxEpochs: Long, nShards: Long,
      shardSalt: String,
      // in-shard reading order; the default is the hash key (uniform
      // shuffle). The GATE below always stays hk-ordered — what's
      // included is the schedule's decision, placement only decides
      // the order it's read in.
      placeOrder: Seq[org.apache.spark.sql.Column] =
        Seq(col("hk"), col("doc_id"))): org.apache.spark.sql.DataFrame = {
    val gate = Window.partitionBy("source").orderBy("hk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val place = Window.partitionBy("epoch", "shard").orderBy(placeOrder: _*)
    val saltSql = if (shardSalt.isEmpty) "" else s", '$shardSalt'"
    base
      .withColumn("hk", expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .join(broadcast(quota), Seq("source"))
      .withColumn("raw_epochs", expr("quota_tok div set_tok"))
      .withColumn("full_epochs", least(col("raw_epochs"), lit(maxEpochs)))
      .withColumn("rem_tok",
        when(col("raw_epochs") < maxEpochs, col("quota_tok") % col("set_tok"))
          .otherwise(lit(0L)))
      .withColumn("cum_before", coalesce(sum("n_tok").over(gate), lit(0L)))
      .withColumn("n_rep", col("full_epochs") +
        when(col("cum_before") < col("rem_tok"), 1L).otherwise(0L))
      .filter(col("n_rep") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("n_rep") - 1)))
      .withColumn("shard", expr(
        s"""CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '#',
              CAST(epoch AS STRING)$saltSql)), 1, 15), 16, 10) AS BIGINT)""") % nShards)
      .withColumn("pos", row_number().over(place))
      .select("doc_id", "source", "epoch", "shard", "pos", "n_tok")
  }

  /** X4z: CURRICULUM reading order — [[trainOrderFullOf]]'s schedule and
    * shard placement with the IN-SHARD order switched from the uniform
    * hash shuffle to quality-first: within each (epoch, shard) a worker
    * reads its docs in descending classifier score (the published
    * easy/clean-first curriculum recipe, applied per shard so ordering
    * never needs a global sort). Crucially WHAT is read is unchanged —
    * the threshold gate stays hash-ordered, so curriculum ordering
    * cannot bias the mixture, only sequence it; a doc the model cannot
    * score (no scorable tokens) reads last at score 0, never silently
    * drops. Scores are the r4'd decimal-exact NB means
    * ([[classifierScoresOf]]) with doc_id tiebreak → bit-stable order
    * on both engines. */
  val textCurriculumOrder: Q = (s, d) => curriculumOrderOf(t(s, d, "documents"))

  /** The same curriculum over ANY (doc_id, source, text) frame (jx
    * `corpus_op` entry point). */
  def curriculumOrderOf(docs: org.apache.spark.sql.DataFrame, budgetPct: Long = 200L,
      maxEpochs: Long = 4L, nShards: Long = 8L): org.apache.spark.sql.DataFrame =
    curriculumOrderFullOf(docs, budgetPct, maxEpochs, nShards)
      .orderBy("epoch", "shard", "pos")
      .limit(300)

  /** The full (un-limited) curriculum instance frame. */
  def curriculumOrderFullOf(docs: org.apache.spark.sql.DataFrame, budgetPct: Long = 200L,
      maxEpochs: Long = 4L, nShards: Long = 8L): org.apache.spark.sql.DataFrame =
    placeInstances(
      docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(classifierScoresOf(docs).select("doc_id", "score"),
          Seq("doc_id"), "left")
        .withColumn("score", coalesce(col("score"), lit(0.0))),
      mixScheduleOf(docs, budgetPct, maxEpochs)
        .select(col("source"), col("scheduled_tok").as("quota_tok"), col("n_tok").as("set_tok")),
      maxEpochs, nShards, shardSalt = "",
      placeOrder = Seq(col("score").desc, col("doc_id")))

  /** X4y: the ANNEAL plan as executable coordinates — [[annealScheduleOf]]'s
    * two-phase token quotas turned into (phase, epoch, shard, position)
    * rows the way [[trainOrderFullOf]] executes the mix schedule: phase 0
    * (bulk) places ALL docs against the bulk quotas; phase 1 (anneal)
    * places only the classifier-SELECTED docs ([[classifierScoresOf]]'s
    * decision bit — the same gate the release pipeline enforces) against
    * the anneal quotas, so "finish on your best data" becomes literal
    * reading order. Each phase reshuffles independently (salted shard
    * key); anneal full passes cap at maxEpochs of the SELECTED set.
    * Plan shape at 100 TB: one classifier scoring scan (vocabulary-
    * bounded broadcast model), then two [[placeInstances]] passes —
    * per-source gate windows, per-(phase, epoch, shard) placement, the
    * schedule and quota frames all |sources|-row broadcasts. */
  val textAnnealOrder: Q = (s, d) => annealOrderOf(t(s, d, "documents"))

  /** The same two-phase ordering over ANY (doc_id, source, text) frame
    * (jx `corpus_op` entry point). */
  def annealOrderOf(docs: org.apache.spark.sql.DataFrame, bulkPct: Long = 160L,
      annealPct: Long = 40L, maxEpochs: Long = 4L,
      nShards: Long = 8L): org.apache.spark.sql.DataFrame =
    annealOrderFullOf(docs, bulkPct, annealPct, maxEpochs, nShards)
      .orderBy("phase", "epoch", "shard", "pos")
      .limit(300)

  /** The full (un-limited) two-phase instance frame. */
  def annealOrderFullOf(docs: org.apache.spark.sql.DataFrame, bulkPct: Long = 160L,
      annealPct: Long = 40L, maxEpochs: Long = 4L,
      nShards: Long = 8L): org.apache.spark.sql.DataFrame = {
    // ONE classifier scoring pass serves both consumers (the schedule's
    // per-source pass rates and the anneal phase's selected-doc gate):
    // the per-doc decision bits are a KB-scale frame, materialized so
    // the corpus-wide NB explode+join never replays under the second
    // consumer (it ran twice per call before this).
    val scores = materialize(classifierScoresOf(docs).select("doc_id", "selected"),
      "text.anneal_scores")
    // |sources| rows, probed once per phase — materialize so the quota
    // tail (totals broadcast) doesn't re-plan under each branch
    val sched = materialize(annealScheduleFromScores(docs, scores, bulkPct, annealPct,
        maxEpochs), "text.anneal_schedule")
    val base = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val bulk = placeInstances(base,
      sched.select(col("source"), col("bulk_tok").as("quota_tok"), col("n_tok").as("set_tok")),
      maxEpochs, nShards, shardSalt = "")
      .withColumn("phase", lit(0))
    // the anneal phase places the selected docs only: its set total is
    // theirs, not the schedule's all-doc n_tok
    val selected = base.join(scores.filter(col("selected")).select("doc_id"), Seq("doc_id"))
    val anneal = placeInstances(selected,
      sched.select(col("source"), col("anneal_tok").as("quota_tok"))
        .join(selected.groupBy("source").agg(sum("n_tok").as("set_tok")), Seq("source")),
      maxEpochs, nShards, shardSalt = "#a")
      .withColumn("phase", lit(1))
    bulk.unionByName(anneal)
      .select("phase", "doc_id", "source", "epoch", "shard", "pos", "n_tok")
  }

  /** X4u: two-phase ANNEAL schedule — the "finish training on your best
    * data" plan (the published end-of-run recipe: a long bulk phase at
    * the standard mixture, then a short anneal phase re-weighted toward
    * the sources the quality classifier likes). Phase-1 weights are
    * [[textMixSchedule]]'s standard ×100 integers; phase-2 weights are
    * each source's classifier pass rate as an integer PER-MILLE
    * ((1000 · n_selected) div n_docs — [[classifierScoresOf]]'s decision
    * bit, so the anneal mixture is exactly the gate the release pipeline
    * already enforces). Both quotas are single integer floor-divisions
    * of the shared token total (no double crosses a row boundary), each
    * capped at `maxEpochs` passes of the source. Plan at 100 TB: the
    * classifier model is a vocabulary-bounded broadcast table, the
    * per-source frame is |sources| rows (materialized), and the
    * totals re-read those KB rows — after the scoring scan nothing grows
    * with the corpus. */
  val textAnnealSchedule: Q = (s, d) => annealScheduleOf(t(s, d, "documents"))

  /** The same scheduler over ANY (doc_id, source, text) frame (jx
    * `corpus_op` entry point). bulkPct/annealPct are each phase's token
    * budget as a percentage of the corpus token count. */
  def annealScheduleOf(docs: org.apache.spark.sql.DataFrame, bulkPct: Long = 160L,
      annealPct: Long = 40L, maxEpochs: Long = 4L): org.apache.spark.sql.DataFrame =
    annealScheduleFromScores(docs, classifierScoresOf(docs),
      bulkPct, annealPct, maxEpochs)

  /** [[annealScheduleOf]] over a precomputed [[classifierScoresOf]] frame
    * — lets [[annealOrderFullOf]] run the classifier scoring scan ONCE
    * for its schedule and its anneal-phase gate instead of twice. */
  private def annealScheduleFromScores(docs: org.apache.spark.sql.DataFrame,
      scores: org.apache.spark.sql.DataFrame, bulkPct: Long = 160L,
      annealPct: Long = 40L, maxEpochs: Long = 4L): org.apache.spark.sql.DataFrame = {
    val perSrc = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(sum("n_tok").as("n_tok"), count(lit(1)).as("n_docs"))
    val selBySrc = scores.filter(col("selected"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_sel"))
    annealScheduleFromParts(
      perSrc.join(selBySrc, Seq("source"), "left")
        .withColumn("n_sel", coalesce(col("n_sel"), lit(0L))),
      bulkPct, annealPct, maxEpochs)
  }

  /** The scheduler over a pre-aggregated (source, n_tok, n_docs, n_sel)
    * frame — the store-probing entry: the streamed quality monitor's
    * exact token sums plus the streamed classifier monitor's exact pass
    * counts are the SAME longs the corpus scan derives, so a
    * dataset-backed jx route plans BOTH anneal phases off maintained
    * stores without any corpus scan (two monitors → one planner, the
    * mix_schedule closed loop extended to the quality axis). */
  def annealScheduleFromParts(srcStats: org.apache.spark.sql.DataFrame,
      bulkPct: Long = 160L, annealPct: Long = 40L,
      maxEpochs: Long = 4L): org.apache.spark.sql.DataFrame = {
    // |sources| rows — the totals frame below re-reads this KB table
    // instead of re-running the scoring scan
    val src = materialize(srcStats
      .withColumn("w_bulk", expr(
        """CAST(CASE CAST(substr(source, 4) AS INT) % 3
             WHEN 0 THEN 225 WHEN 1 THEN 100 ELSE 40 END AS BIGINT)"""))
      .withColumn("sel_permille", expr("(1000 * n_sel) div n_docs")),
      "text.anneal_sources")
    val tot = src.agg(
      sum("n_tok").as("tot_tok"), sum("w_bulk").as("tot_wb"),
      sum("sel_permille").as("tot_wa"))
    src.crossJoin(broadcast(tot))
      .withColumn("bulk_tok", least(
        expr(s"($bulkPct * tot_tok * w_bulk) div (100 * tot_wb)"),
        col("n_tok") * maxEpochs))
      .withColumn("anneal_tok", when(col("tot_wa") > 0, least(
        expr(s"($annealPct * tot_tok * sel_permille) div (100 * tot_wa)"),
        col("n_tok") * maxEpochs)).otherwise(lit(0L)))
      .withColumn("total_tok", col("bulk_tok") + col("anneal_tok"))
      .select(col("source"), col("n_tok"), col("n_docs"), col("n_sel"),
        col("sel_permille"), col("bulk_tok"), col("anneal_tok"), col("total_tok"),
        when(col("total_tok") > 0,
          r4(col("anneal_tok").cast("double") / col("total_tok")))
          .otherwise(lit(0.0)).as("anneal_share"))
      .orderBy("source")
  }

  /** X4q: n-gram NOVELTY score — per document, the fraction of its
    * distinct word trigrams that FIRST appear in this document (first =
    * lowest doc_id, the corpus's deterministic arrival order). The
    * curation read: low novelty means the doc re-treads earlier content
    * (boilerplate, near-dup residue below the pair-graph threshold);
    * ordering candidate docs by novelty is the greedy facility-location
    * heuristic over n-gram coverage. Plan at 100 TB: the gram table is
    * NEVER joined at gram granularity — both sides reduce to DOC-level
    * aggregates first (per-doc distinct-gram count; per-gram min doc
    * re-aggregated by first doc), and the only join is doc×doc-level
    * (corpus-row-sized, equi-keyed). Nothing is all-pairs, no window,
    * no skew (trigram keys are near-unique). */
  val textNgramNovelty: Q = (s, d) => ngramNoveltyOf(t(s, d, "documents"))

  /** The same scorer over ANY (doc_id, text) frame (jx `corpus_op`
    * entry point). */
  def ngramNoveltyOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val occ = gramOccurrencesOf(docs)
    noveltyFromParts(
      occ.groupBy("g").agg(min("doc_id").as("first_doc")),
      occ.groupBy("doc_id").agg(countDistinct("g").as("n_grams")))
  }

  /** Word-trigram occurrences (doc_id, g) of a (doc_id, text) frame —
    * the one corpus-sized pass both the batch scorer and the streamed
    * novelty store's per-batch partials start from. */
  def gramOccurrencesOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 2),
             i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                            element_at(toks, i + 2)))""")).as("g"))

  /** The novelty readout over pre-aggregated parts: `gramMins` may carry
    * SEVERAL (g, first_doc) rows per gram (one per streamed batch) — the
    * re-min collapses them, and because min is monotone-distributive the
    * result is exactly the whole-corpus first-seen table under ANY batch
    * split or redelivery order (the same algebra as the CC label store).
    * `perDoc` is doc-local (each doc lives in exactly one batch), so its
    * rows need no merge. */
  def noveltyFromParts(gramMins: org.apache.spark.sql.DataFrame,
      perDoc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val novel = gramMins.groupBy("g").agg(min("first_doc").as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        r4(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams"))
          .as("novelty"))
      .orderBy("doc_id")
      .limit(300)
  }

  /** X4r: curated-vs-crawl QUALITY CLASSIFIER — the GPT-3/WebText data
    * recipe: train a classifier to tell curated sources from the raw
    * crawl, score EVERY document, and keep what scores curated-like.
    * Here the classifier is word-level Naive Bayes with add-1 smoothing
    * (the classifier-free analogue of the fastText gate; DSIR is the
    * hashed-bigram cousin — this one keeps an interpretable per-word
    * log-odds table). "Curated" = the mix's high-weight sources (source
    * idx % 3 == 0 — the same convention [[textMixSchedule]]'s weights
    * encode). Scale: the model is a VOCABULARY-bounded log-odds table
    * (broadcast at real vocab sizes); scoring is one word join + a
    * per-doc mean whose addends sum through exact DECIMAL — the DSIR
    * determinism recipe, because `selected` is a decision fed by the
    * rounded score. */
  val textQualityClassifier: Q = (s, d) => qualityClassifierOf(t(s, d, "documents"))

  /** The same gate over ANY (doc_id, source, text) frame (jx `corpus_op`
    * entry point). */
  def qualityClassifierOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    classifierScoresOf(docs).orderBy("doc_id").limit(300)

  /** The un-windowed score frame — the composable form
    * ([[graft.llm.Pipeline]]'s release gate consumes the full set). */
  def classifierScoresOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = nbToks(docs)
    toks.join(broadcast(nbModelFromToks(toks)), Seq("w"))
      .groupBy("doc_id", "curated")
      .agg(count(lit(1)).as("n_tok"),
        r4(sum(col("lo").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("score"))
      .withColumn("selected", col("score") > 0)
      .select("doc_id", "curated", "n_tok", "score", "selected")
  }

  private def nbToks(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), curatedOf(col("source")).as("curated"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)

  /** The NB class of a source `srcN`: curated when N % 3 = 0, null (no
    * class) when the suffix does not parse as an integer. */
  private def curatedOf(source: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(source, 4, Int.MaxValue).try_cast("int") % 3 === 0

  private def nbModelFromToks(toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // ONE corpus pass: the per-word class counts. The class totals and
    // vocabulary size are exact integer sums/counts OVER that table
    // (c_n = Σ cc, r_n = Σ rc, v = |rows|), so the second corpus-wide
    // aggregate the old form paid (count + countDistinct over every
    // token) collapses to a re-aggregation of the vocabulary-bounded
    // frame — guide §2.4, remove passes outright. The counts table
    // materializes once (vocabulary-bounded, the persisted-model shape)
    // so the totals read doesn't replay the token explode.
    val counts = materialize(toks.groupBy("w").agg(
      count(when(col("curated"), lit(1))).as("cc"),
      count(when(!col("curated"), lit(1))).as("rc")), "text.classifier_vocab")
    val totals = counts.agg(
      sum("cc").as("c_n"), sum("rc").as("r_n"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .withColumn("lo",
        log((col("cc") + lit(1.0)) / (col("c_n") + col("v"))) -
          log((col("rc") + lit(1.0)) / (col("r_n") + col("v"))))
      .select("w", "lo")
  }

  /** The TRAIN half alone: the vocabulary-bounded (w, lo) log-odds
    * table from a (doc_id, source, text) corpus. */
  def nbModelOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nbModelFromToks(nbToks(docs))

  /** The stored NB model — [[nbModelOf]] trained on the FULL standard
    * corpus, persisted once per (session, dataset) under the
    * [[Artifacts]] discipline. The online gate and the streamed
    * pass-rate monitor probe this SAME frozen table, so their
    * decisions are exactly the release gate's. */
  def nbModelStored(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.buildOnce(s, "nb_model", d) { dd =>
      nbModelOf(t(s, d, "documents")).write.mode("overwrite")
        .parquet(s"$dd/model")
    }
    graft.Tables.parquet(s, s"$dir/model")
  }

  /** The SCORE half: per-doc mean log-odds of `docs` against a frozen
    * (w, lo) model (vocabulary-bounded: the planner broadcasts it by
    * its stored size), with the same
    * DECIMAL-sum determinism and rounded-decision recipe as
    * [[classifierScoresOf]]. In-vocab tokens only (the inner join), so
    * scoring a batch against the stored full-corpus model reproduces
    * the full-corpus scores bit-for-bit. */
  def scoreAgainstModel(docs: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(model, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        r4(sum(col("lo").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("score"))
      .withColumn("selected", col("score") > 0)
      .select("doc_id", "n_tok", "score", "selected")

  /** X4r-gate: ONLINE classifier gate — an arriving slice scored
    * against the STORED model ([[nbModelStored]]): the production shape
    * where the gate is a broadcast hash join per batch and training is
    * a separate, periodic job. Gated by the full-replay oracle (train
    * on the corpus, score the slice) — store == retrain, proven
    * per-row. */
  val textClassifierGate: Q = (s, d) =>
    scoreAgainstModel(
      t(s, d, "documents").filter(col("doc_id") % 7 === 3),
      nbModelStored(s, d))
      .orderBy("doc_id")
      .limit(300)

  /** X4s: NOVELTY CURVE — Heaps-law readout of marginal novelty: how
    * many new distinct trigrams each successive tenth of the corpus
    * (by arrival order) still contributes. The flattening tail is the
    * data-acquisition signal: when a decile's `n_first` approaches
    * zero, more of the same source buys volume, not coverage. Scale:
    * one gram pass → per-gram min doc → a 10-key aggregate; the running
    * sum runs over TEN rows (the one global window that is genuinely
    * bounded). */
  val textNoveltyCurve: Q = (s, d) => noveltyCurveOf(t(s, d, "documents"))

  /** The same readout over ANY (doc_id, text) frame (jx `corpus_op`
    * entry point). Requires contiguous 0-based doc ids (the generated
    * corpus convention) for the decile split. */
  def noveltyCurveOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // 10 rows — materialized so the totals below re-read them instead of
    // re-running the gram pass
    val perDecile = materialize(gramOccurrencesOf(docs)
      .groupBy("g").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(nDocs))
      .withColumn("decile", least(lit(9L), expr("first_doc * 10 div n_docs")))
      .groupBy("decile").agg(count(lit(1)).as("n_first")), "text.novelty_deciles")
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perDecile.agg(sum("n_first").as("n_grams"))
    perDecile
      .withColumn("cum_grams", sum("n_first").over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_first"), col("cum_grams"),
        r4(col("cum_grams").cast("double") / col("n_grams")).as("cum_share"))
      .orderBy("decile")
  }

  /** X4t: per-source NOVELTY contribution — the vendor-comparison twin
    * of [[textNoveltyCurve]]: how many distinct trigrams each SOURCE was
    * first to contribute (by arrival order). A source whose docs mostly
    * re-tread earlier grams adds volume, not coverage — the per-vendor
    * read of the same acquisition signal. Scale: gram pass → per-gram
    * min doc → doc-level left join onto a pruned (doc_id, source) scan →
    * a bounded-source aggregate; the share denominators come from the
    * materialized |sources|-row table, never a second corpus
    * scan. */
  val textNoveltySources: Q = (s, d) => noveltySourcesOf(t(s, d, "documents"))

  /** The same readout over ANY (doc_id, source, text) frame (jx
    * `corpus_op` entry point). */
  def noveltySourcesOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val firsts = gramOccurrencesOf(docs)
      .groupBy("g").agg(min("doc_id").as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("n_first"))
    val perSource = materialize(docs.select(col("doc_id"), col("source"))
      .join(firsts, col("doc_id") === col("first_doc"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_first"), lit(0L))).as("n_first")), "text.novelty_sources")
    val tot = perSource.agg(sum("n_first").as("n_grams"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_first"),
        r4(col("n_first").cast("double") / col("n_docs")).as("first_per_doc"),
        r4(col("n_first").cast("double") / col("n_grams")).as("coverage_share"))
      .orderBy("source")
  }

  /** X4g: unigram-logprob quality score — the perplexity PROXY used to
    * rank documents when no LM is at hand (CCNet-style: docs whose
    * tokens are globally rare score high / read as noise, boilerplate of
    * common tokens scores low): nll = −mean ln p(tok), p estimated from
    * the corpus itself. Scale shape: the token-frequency table is a
    * vocabulary aggregate that STREAMS (never collected); the doc side
    * joins by token (one shuffle), then re-aggregates by doc_id. The
    * mean-of-ln is FP-order-dependent in the last ulp — r4 absorbs it,
    * same policy as tfidf. */
  val textLogfreq: Q = (s, d) => {
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val total = toks.agg(count(lit(1)).as("n_total"))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("wc"))
    toks.join(freq, Seq("w"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        r4(-avg(log(col("wc").cast("double") / col("n_total")))).as("nll"))
      .orderBy("doc_id")
      .limit(300)
  }

  /** Bigram language-model scoring — the conditional-probability upgrade
    * of [[textLogfreq]]'s unigram proxy: per doc, the mean
    * −ln P(wᵢ | wᵢ₋₁) under an add-1-smoothed bigram model trained on the
    * corpus itself (quality filters score "does this doc read like the
    * corpus"; contextual models catch scrambled/boilerplate text that
    * unigram frequency cannot). Scale shape: the LM tables are
    * vocabulary-bounded (C(a,b) and context counts C(a) — orders of
    * magnitude below corpus size), the per-doc pass joins on hashed
    * token keys, and the vocab size rides along as a broadcast scalar.
    * Cross-engine exactness: counts are integers, the smoothed ratio is
    * the same rational in both engines, and round(avg(−ln r), 4)
    * tolerates summation-order ULP (the proven textLogfreq pattern). */
  val textBigramNll: Q = (s, d) =>
    bigramNllOf(t(s, d, "documents")).orderBy("doc_id").limit(300)

  /** The full per-doc bigram-NLL frame (doc_id, n_bigrams, nll) over ANY
    * (doc_id, text) corpus — [[textBigramNll]]'s un-limited core, shared
    * with the perplexity-bucket assignment ([[pplBucketsOf]]). Docs with
    * fewer than 2 tokens have no bigram and are absent here; callers that
    * must cover every doc left-join and default (the curriculum rule:
    * unscorable never silently drops). */
  private[graft] def bigramNllOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (ab, ctx, v) = bigramLmOf(docs)
    bigramsOf(docs).join(ab, Seq("a", "b")).join(ctx, Seq("a"))
      .crossJoin(broadcast(v))
      .withColumn("nll", -log((col("c_ab") + lit(1.0)) / (col("c_a") + col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), r4(avg("nll")).as("nll"))
  }

  /** The per-doc (doc_id, a, b) bigram explode shared by the LM trainer
    * and the scorer. */
  private def bigramsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
    .withColumn("toks", split(col("text"), " "))
    .filter(size(col("toks")) >= 2)
    .select(col("doc_id"), explode(expr(
      """transform(sequence(1, size(toks) - 1),
           i -> struct(element_at(toks, i) AS a,
                       element_at(toks, i + 1) AS b))""")).as("bg"))
    .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))

  /** The add-1-smoothed bigram LM tables over a corpus — (bigram counts,
    * context counts, vocab size), all vocabulary-bounded aggregates —
    * [[bigramNllOf]]'s model half, persisted by [[bigramLmStored]] so a
    * stream can score arriving batches against a frozen generation
    * (training is a separate periodic job, the [[nbModelStored]] split). */
  private[graft] def bigramLmOf(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val big = bigramsOf(docs)
    (big.groupBy("a", "b").agg(count(lit(1)).as("c_ab")),
      big.groupBy("a").agg(count(lit(1)).as("c_a")),
      docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .agg(countDistinct(col("w")).as("v")))
  }

  /** The frozen-LM artifact: [[bigramLmOf]] trained once per
    * session/dataset on the standard corpus and persisted — probed by the
    * streamed score store (ST17) the way [[nbModelStored]] is probed by
    * the classifier monitor. */
  def bigramLmStored(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val dir = Artifacts.buildOnce(s, "bigram_lm", d) { dd =>
      val (ab, ctx, v) = bigramLmOf(t(s, d, "documents"))
      ab.write.mode("overwrite").parquet(s"$dd/ab")
      ctx.write.mode("overwrite").parquet(s"$dd/ctx")
      v.write.mode("overwrite").parquet(s"$dd/v")
    }
    (graft.Tables.parquet(s, s"$dir/ab"), graft.Tables.parquet(s, s"$dir/ctx"),
      graft.Tables.parquet(s, s"$dir/v"))
  }

  /** Score ANY (doc_id, source, text) batch against a (possibly frozen)
    * bigram LM: one row per batch doc — (doc_id, source, n_bigrams, nll),
    * unscorable docs at nll 0 (the ppl-bucket coverage rule). Left joins
    * + add-1 smoothing price UNSEEN grams honestly ((0+1)/(c_a+v), or
    * (0+1)/(0+v) for an unseen context), so the same code is exact on the
    * training corpus and well-defined on genuinely new data. Given a
    * frozen LM every doc's score is batch-INDEPENDENT — the property the
    * streamed store's exactness rests on. */
  private[graft] def bigramNllAgainstLm(batch: org.apache.spark.sql.DataFrame,
      ab: org.apache.spark.sql.DataFrame, ctx: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val scored = bigramsOf(batch)
      .join(ab, Seq("a", "b"), "left")
      .join(ctx, Seq("a"), "left")
      .crossJoin(broadcast(v))
      .withColumn("nll", -log((coalesce(col("c_ab"), lit(0L)) + lit(1.0)) /
        (coalesce(col("c_a"), lit(0L)) + col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), r4(avg("nll")).as("nll"))
    batch.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("nll", coalesce(col("nll"), lit(0.0)))
      .select("doc_id", "source", "n_bigrams", "nll")
  }

  /** X4aa: PERPLEXITY BUCKETS — the published head/middle/tail recipe: rank
    * every doc by its LM score WITHIN its source and cut each source into
    * three equal tiers (head = most corpus-like), so per-source tier quotas
    * ("keep head+middle of low-resource sources, head only of crawl") can
    * be expressed without cross-source score calibration. The LM is
    * [[bigramNllOf]]'s add-1-smoothed bigram model (the same self-trained
    * proxy the quality gates use); a doc the model cannot score (<2
    * tokens) buckets at nll 0 — covered, never silently dropped. Readout:
    * one row per (source, bucket) with doc/bigram mass and the tier's nll
    * range + decimal-exact mean.
    *
    * Scale shape: the ntile window runs over the per-DOC score table (one
    * row per doc — KB-scale beside the corpus), partitioned by source, so
    * the sort is per-source and never global; the bucket aggregate is a
    * bounded |sources|×3-key groupBy with map-side partials. Cross-engine
    * exactness: ntile over (r4'd nll, doc_id) is a total order, both
    * engines place the +1-sized buckets first (SQL standard); the mean
    * sums 4-dp DECIMALs exactly before one double division. */
  val textPplBuckets: Q = (s, d) => pplBucketsOf(t(s, d, "documents"))

  /** The same bucket readout over ANY (doc_id, source, text) frame (jx
    * `corpus_op` entry point). */
  def pplBucketsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = pplTiersFrom(bigramNllSelfOf(docs))

  /** Train-on-self scoring with ONE materialized bigram pass shared by
    * the model build and the scoring join (the hygiene chain's
    * shingle-pass discipline — without it the upstream text pipeline,
    * regexes included, re-runs once per model table; at 100 TB the
    * checkpoint is a parquet bigram table). Same arithmetic as
    * [[bigramNllAgainstLm]] over [[bigramLmOf]] — scores are identical,
    * only the plan shape differs. */
  private[graft] def bigramNllSelfOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val big = materialize(bigramsOf(docs), "text.bigrams")
    val ab = big.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val ctx = big.groupBy("a").agg(count(lit(1)).as("c_a"))
    val v = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(countDistinct(col("w")).as("v"))
    val scored = big.join(ab, Seq("a", "b")).join(ctx, Seq("a"))
      .crossJoin(broadcast(v))
      .withColumn("nll", -log((col("c_ab") + lit(1.0)) / (col("c_a") + col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), r4(avg("nll")).as("nll"))
    docs.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("nll", coalesce(col("nll"), lit(0.0)))
      .select("doc_id", "source", "n_bigrams", "nll")
  }

  /** The tier readout over ANY (doc_id, source, n_bigrams, nll) score
    * frame — shared by the in-plan key (scores trained+ranked in one
    * plan) and the streamed score store's readout (scores maintained per
    * batch against the frozen LM, ranked here). */
  private[graft] def pplTiersFrom(all: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tier = Window.partitionBy("source").orderBy(col("nll"), col("doc_id"))
    all.withColumn("bucket", ntile(3).over(tier))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        min("nll").as("min_nll"),
        max("nll").as("max_nll"),
        r4(sum(col("nll").cast("decimal(28,4)")).cast("double") /
          count(lit(1))).as("mean_nll"))
      .withColumn("label", expr(
        "CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"))
      .select("source", "bucket", "label", "n_docs", "n_bigrams",
        "min_nll", "max_nll", "mean_nll")
      .orderBy("source", "bucket")
  }

  /** X4aa-gate: the tier DECISION list — perplexity buckets turned into
    * the per-doc keep/drop a pipeline anti-joins against (the published
    * recipe's actual use: keep more tiers of trusted sources, head-only
    * of crawl). Policy follows the repo's curated convention
    * (srcN, N%3==0 = curated): curated keeps head+middle, crawl keeps
    * head only. Emitted per doc with its tier so downstream can re-cut
    * the policy without re-scoring; the 300-doc readout slice is the
    * driver key, the full frame is the pipeline input. Scale shape
    * inherits [[pplBucketsOf]]: the rank runs over the per-doc score
    * table, the decision is a stateless in-row CASE. */
  val textPplGate: Q = (s, d) => pplGateOf(t(s, d, "documents"))
    .orderBy("doc_id").limit(300)

  /** The full decision frame over ANY (doc_id, source, text) corpus (jx
    * `corpus_op` entry point). */
  def pplGateOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = pplGateFrom(bigramNllSelfOf(docs))

  /** The decision half over ANY (doc_id, source, n_bigrams, nll) score
    * frame — tier assignment + the per-source tier policy. */
  private[graft] def pplGateFrom(all: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tier = Window.partitionBy("source").orderBy(col("nll"), col("doc_id"))
    all.withColumn("bucket", ntile(3).over(tier))
      .withColumn("curated", expr("CAST(substr(source, 4) AS INT) % 3 = 0"))
      .withColumn("keep",
        when(col("curated"), col("bucket") <= 2).otherwise(col("bucket") === 1))
      .select("doc_id", "source", "bucket", "nll", "keep")
  }

  /** X4ac: QUALITY CALIBRATION — the governance readout that answers "is
    * the learned gate aligned with the heuristics it will replace?": the
    * NB classifier score binned into fixed 0.01-wide bins (a stateless
    * in-row floor — deliberately NOT deciles, whose global ntile would
    * need a corpus-wide sort; 0.01 because a mean per-token log-odds
    * concentrates near 0), each bin carrying its doc count, pass
    * count, share of heuristically-clean docs, and the decimal-exact
    * heuristic-quality mean. A calibrated gate shows clean share and
    * mean quality rising monotonically with the score bin; an inversion
    * is the retrain alarm. Scale shape: one join of two per-doc score
    * frames on doc_id, then a bounded-key groupBy with map-side
    * partials. */
  val textQualityCalibration: Q = (s, d) =>
    qualityCalibrationOf(t(s, d, "documents"))

  /** The same calibration over any (doc_id, text, n_chars) corpus. */
  def qualityCalibrationOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val heur = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_stop",
        size(expr("filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'to'))")))
      .select(col("doc_id"),
        r4(when(col("n_chars") < 100, 0.2).otherwise(1.0) *
          when(col("n_stop") === 0, 0.5).otherwise(1.0)).as("quality"))
    classifierScoresOf(docs).select(col("doc_id"), col("score"), col("selected"))
      .join(heur, Seq("doc_id"))
      .withColumn("score_bin", floor(col("score") * 100).cast("long"))
      .groupBy("score_bin")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("selected"), lit(1))).as("n_sel"),
        count(when(col("quality") >= 1.0, lit(1))).as("n_clean"),
        r4(sum(col("quality").cast("decimal(28,4)")).cast("double") /
          count(lit(1))).as("mean_quality"))
      .select(col("score_bin"), col("n_docs"), col("n_sel"),
        expr("(1000 * n_clean) div n_docs").as("clean_permille"),
        col("mean_quality"))
      .orderBy("score_bin")
  }

  /** Document fingerprinting: canonical-form hash (sorted distinct tokens →
    * md5). Identical fingerprints ⇒ same bag of words — the cheap exact
    * near-dup key; groupBy(fingerprint) at scale shuffles only the 16-byte
    * digest, not the text. */
  val textFingerprint: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("fp",
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
      .filter(col("n_docs") >= 1)
      .orderBy(desc("n_docs"), asc("fp"))
      .limit(100)

  /** TF-IDF: explode terms → tf per (doc, term); df per term; idf =
    * ln(N/df); top-3 terms per doc for a slice of docs. Scale shape: the
    * QUERIED doc slice's tf is tiny → compute it pre-filtered and
    * broadcast it; the corpus-wide df aggregate (the vocabulary — can be
    * billions of terms at 100 TB) STREAMS past the broadcast, it is never
    * itself broadcast or re-shuffled. Corpus size N computed in-plan (no
    * collect). */
  val textTfidf: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.filter(col("doc_id") < 50)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = df
      .join(broadcast(tf), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        r4(col("tfidf")).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** PII redaction — the first pass a training-data pipeline runs over a
    * raw corpus: strip emails / URLs / phone-shaped IDs before anything
    * downstream sees the text. The synthetic corpus carries no PII, so
    * each doc is first decorated with deterministic PII derived from its
    * own doc_id (both engines construct the identical string), then
    * redacted. Patterns stay in the regex subset Java and RE2 evaluate
    * identically (char classes, +, bounded repeats), passed as Column
    * literals so no SQL-string escaping is involved. Pure per-doc
    * codegen'd string work — no shuffle, linear at any corpus size. */
  private[llm] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[llm] val UrlRe = "https?://[^ ]+"
  private[llm] val PhoneRe = "\\+1-555-[0-9]{4}"

  private def withPii(df: org.apache.spark.sql.DataFrame) = df.withColumn("pii",
    concat(col("text"),
      lit(" Contact user"), col("doc_id").cast("string"), lit("@example.com or "),
      lit("+1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" via https://host"), (col("doc_id") % 97).cast("string"),
      lit(".example.org/path?id="), (col("doc_id") * 7919).cast("string")))

  /** Redact + count: per-doc match counts for each PII class and the md5
    * of the fully-redacted text (pins every replaced byte, not just the
    * counts, against the oracle). */
  val textRedact: Q = (s, d) =>
    withPii(t(s, d, "documents"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("pii"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("pii"), lit(UrlRe), lit(0))).as("n_urls"),
        size(regexp_extract_all(col("pii"), lit(PhoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("pii"),
          EmailRe, "<EMAIL>"), UrlRe, "<URL>"), PhoneRe, "<PHONE>")).as("red_md5"))
      .orderBy("doc_id")
      .limit(300)

  /** Hash-preserving variant: each PII match is replaced by a stable
    * 8-hex-digit pseudonym (md5 prefix of the matched string), so joins
    * on the redacted identity still link records across documents without
    * exposing the raw value. */
  val textRedactHash: Q = (s, d) =>
    withPii(t(s, d, "documents"))
      .select(
        col("doc_id"),
        array_join(transform(regexp_extract_all(col("pii"), lit(EmailRe), lit(0)),
          e => substring(md5(e), 1, 8)), ",").as("email_keys"),
        array_join(transform(regexp_extract_all(col("pii"), lit(PhoneRe), lit(0)),
          e => substring(md5(e), 1, 8)), ",").as("phone_keys"))
      .orderBy("doc_id")
      .limit(300)

  /** Text normalization/cleaning — the whitespace/control-char hygiene
    * pass that precedes tokenization (tabs, CRLF, NULs, repeated blanks
    * from crawled/extracted text). The corpus is clean, so each doc is
    * first decorated with deterministic mess derived from its doc_id
    * (tab/newline/CR/NUL runs and doubled spaces — identical string in
    * both engines via chr()), then normalized: control chars and space
    * runs collapse to single spaces, ends trimmed. Reports per-doc
    * before/after lengths and pins every normalized byte via md5. In-row
    * codegen'd string work, no shuffle. */
  val textClean: Q = (s, d) => {
    val messy = t(s, d, "documents").withColumn("mess",
      concat(lit(" \t"), col("text"),
        lit("\r\n"), lit("\u0001\u0001"),
        col("doc_id").cast("string"),
        lit("\t\t "), col("lang"), lit("  tail   ")))
    messy.select(
        col("doc_id"),
        length(col("mess")).as("n_raw"),
        length(trim(regexp_replace(col("mess"), "[ \\t\\n\\r\\x01]+", " ")))
          .as("n_clean"),
        md5(trim(regexp_replace(col("mess"), "[ \\t\\n\\r\\x01]+", " ")))
          .as("clean_md5"))
      .orderBy("doc_id")
      .limit(300)
  }

  /** X4i: percentile quality gate — keep each source's most-fluent half,
    * scored by [[textLogfreq]]'s unigram NLL (low = reads like the
    * corpus). This is the standard per-source quality threshold of
    * web-corpus pipelines: thresholds are RELATIVE to the source (a
    * fixed global cutoff would empty low-resource sources and keep
    * boilerplate from verbose ones). Plan shape: the LM table is
    * vocabulary-bounded, the rank window partitions by source — one
    * shuffle on source, no global sort. Ties rank deterministically
    * (rounded nll, then doc_id), so the kept set replays exactly. */
  val textQualityFilter: Q = (s, d) => qualityFilterOf(t(s, d, "documents"))

  /** The same gate over ANY (doc_id, source, text) frame — public so the
    * jx `corpus_op` front end can point it at a jx-derived corpus. */
  def qualityFilterOf(docs: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val wR = Window.partitionBy("source").orderBy(col("nll").asc, col("doc_id").asc)
    val wC = Window.partitionBy("source")
    nllScoresOf(docs).withColumn("rn", row_number().over(wR))
      .withColumn("n_src", count(lit(1)).over(wC))
      .filter(col("rn") * 2 <= col("n_src"))
      .select("source", "doc_id", "nll")
      .orderBy("source", "doc_id")
  }

  /** Per-document unigram NLL (doc_id, source, nll) under the corpus's own
    * frequency table — the score [[qualityFilterOf]] ranks within each
    * source. */
  def nllScoresOf(docs: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    // ONE corpus pass builds the frequency table; the corpus token total
    // is its exact sum (the old form paid a second full pass for it —
    // guide §2.4). The table materializes once (vocabulary-bounded, the
    // persisted-table shape); its checkpointed size makes the planner
    // broadcast it into the scoring join, so the token stream is never
    // shuffled by word (guide §3.1).
    val freq = materialize(toks.groupBy("w").agg(count(lit(1)).as("wc")), "text.nll_vocab")
    val total = freq.agg(sum("wc").as("n_total"))
    toks.join(freq, Seq("w"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "source")
      .agg(r4(-avg(log(col("wc").cast("double") / col("n_total")))).as("nll"))
  }

  /** X4j: token-budget sampling — fill a fixed per-source token quota and
    * stop, the operator that turns "all of src7" into "src7's share of
    * the training mix". Docs are drawn in a deterministic pseudo-random
    * order (md5 of doc_id — no RNG state, replays everywhere) and the
    * budget is split across 4 hash shards per source (quota/shard), so
    * the cumulative-sum window partitions by (source, shard): at 100 TB
    * no single window serializes a whole source — the same per-shard
    * quota shape [[textPackChunks]] uses. Docs whose cumulative count
    * would cross the shard quota are cut. */
  val textTokenBudget: Q = (s, d) => tokenBudgetOf(t(s, d, "documents"))

  /** The same sampler over ANY (doc_id, source, text) frame (jx
    * `corpus_op` entry point). quota is per (source, shard). */
  def tokenBudgetOf(docs: org.apache.spark.sql.DataFrame, quota: Long = 300L,
      nShards: Long = 4L): org.apache.spark.sql.DataFrame = {
    val base = docs.select(
      col("doc_id"), col("source"),
      (col("doc_id") % nShards).as("shard"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      md5(col("doc_id").cast("string")).as("ord"))
    val w = Window.partitionBy("source", "shard").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= quota)
      .select("source", "shard", "doc_id", "n_tok", "cum_tok")
      .orderBy("source", "doc_id")
  }

  /** X4k: per-source distribution drift — KL(source ‖ corpus) over the
    * unigram token distributions. The mixture-balancing audit: a source
    * whose KL spikes is off-distribution (boilerplate, wrong language,
    * scraped junk) and gets down-weighted before training; near-zero KL
    * means the source adds volume but little diversity. Every source
    * token appears in the corpus by construction, so no smoothing is
    * needed and the sum is exact. Plan shape: token explode → two
    * vocabulary-bounded count tables (source×word, word) + two scalar
    * totals; the KL sum is one groupBy over the source×word table — no
    * per-document state anywhere, so 100 TB is three shuffles over
    * vocabulary-sized data after the scan. Cross-engine exactness: all
    * counts are integers (< 2⁵³ — their double products are exact), the
    * log ratio is the same rational in both engines, and the result
    * rounds at 4 decimals. */
  val textSourceKl: Q = (s, d) => sourceKlOf(t(s, d, "documents"))

  /** The same audit over ANY (source, text) frame (jx `corpus_op` entry
    * point). */
  def sourceKlOf(docs: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("n_src"))
    val srcFreq = toks.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val corpTot = toks.agg(count(lit(1)).as("n_all"))
    val corpFreq = toks.groupBy("w").agg(count(lit(1)).as("c_w"))
    srcFreq.join(srcTot, Seq("source"))
      .join(corpFreq, Seq("w"))
      .crossJoin(broadcast(corpTot))
      .withColumn("term",
        (col("c_sw").cast("double") / col("n_src")) *
          log((col("c_sw").cast("double") * col("n_all")) /
            (col("n_src").cast("double") * col("c_w"))))
      .groupBy("source")
      .agg(max(col("n_src")).as("n_tok"), r4(sum(col("term"))).as("kl"))
      .orderBy("source")
  }

  /** X4m: DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling") — score
    * every document by how much more likely its hashed-bigram features
    * are under a TARGET distribution (here: the English slice) than
    * under the RAW corpus, and keep documents whose mean
    * log-likelihood-ratio is positive. This is the published recipe for
    * steering a web-scale crawl toward a target domain without training
    * a classifier: both distributions live over a FIXED B=128 hashed
    * feature space, so the model is two 128-row count tables no matter
    * the corpus size.
    *
    * Plan shape at 100 TB: one feature pass (in-row bigram hashing, no
    * joins), two bucket-count aggregates over a 128-key space (map-side
    * combine collapses each partition to ≤128 rows before the shuffle),
    * then the log-ratio table — KB-scale — broadcasts back onto the
    * feature stream and one groupBy(doc_id) produces the scores. No
    * global sort: selection is a THRESHOLD (w > 0 ⇔ importance ratio
    * > 1), not a top-K, so the gate is embarrassingly parallel. (A
    * production variant can fold the 128-entry table into a map literal
    * and score in-row with zero doc-side shuffle — the
    * [[graft.llm.Dedup]] foldable-probe pattern.)
    *
    * Cross-engine exactness: feature buckets ride the shared 60-bit md5
    * recipe (Dedup.scala:61 ⇄ the '0x'||substr(md5) DuckDB twin), counts
    * are integers, add-1 smoothing makes the same rational in both
    * engines, and the per-doc mean SUMS THROUGH DECIMAL(28,12) before
    * the r4 — exact ⇒ order-independent (SURVEY §4.1: anything feeding a
    * DECISION from a distributed mean must, or the oracle is flaky; a
    * double avg landed a last-ulp across the .00005 boundary in r12).
    * The `selected` flag derives from the ROUNDED weight so the kept
    * set replays exactly. */
  val textDsir: Q = (s, d) => dsirOf(t(s, d, "documents"))

  /** The hashed-bigram feature stream shared by the batch gate and the
    * ratio-table build: one row per (doc, feature-bucket occurrence),
    * all in-row codegen. */
  private def dsirFeatsOf(docs: org.apache.spark.sql.DataFrame,
      buckets: Int): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
             i -> CAST(conv(substr(md5(concat(
                    element_at(toks, i), ' ', element_at(toks, i + 1))),
                  1, 15), 16, 10) AS BIGINT))""")).as("h"))
      .withColumn("b", col("h") % buckets.toLong)

  /** The stored MODEL of the DSIR gate: the 128-row log-likelihood-ratio
    * table (bucket → lr). Build once per corpus snapshot, store like any
    * sketch artifact, and every later scoring pass — batch or streamed —
    * consumes it without touching the corpus again. */
  def dsirRatioOf(docs: org.apache.spark.sql.DataFrame,
      targetLang: String = "en",
      buckets: Int = 128): org.apache.spark.sql.DataFrame = {
    val b = buckets.toLong
    val feats = dsirFeatsOf(docs, buckets)
    val rawCnt = feats.groupBy("b").agg(count(lit(1)).as("rc"))
    val tgtCnt = feats.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val totals = feats.agg(
      count(lit(1)).as("r_n"),
      count(when(col("lang") === targetLang, lit(1))).as("t_n"))
    rawCnt.join(tgtCnt, Seq("b"), "left")
      .na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(totals))
      .withColumn("lr",
        log((col("tc") + lit(1.0)) / (col("t_n") + lit(b.toDouble))) -
          log((col("rc") + lit(1.0)) / (col("r_n") + lit(b.toDouble))))
      .select("b", "lr")
  }

  /** The same gate over ANY (doc_id, lang, text) frame (jx `corpus_op`
    * entry point). Target = rows where `lang == targetLang`. */
  def dsirOf(docs: org.apache.spark.sql.DataFrame, targetLang: String = "en",
      buckets: Int = 128): org.apache.spark.sql.DataFrame = {
    val feats = dsirFeatsOf(docs, buckets)
    val ratio = dsirRatioOf(docs, targetLang, buckets)
    feats.join(broadcast(ratio), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feat"),
        // decimal sum is exact ⇒ order-independent: a double avg can
        // land a last-ulp either side of a .00005 rounding boundary,
        // and `selected` is a DECISION fed by the rounded value
        r4(sum(col("lr").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("dsir_w"))
      .withColumn("selected", col("dsir_w") > 0)
      .orderBy("doc_id")
      .limit(300)
  }

  /** Forward idea (i): the STREAMED DSIR gate — score-and-select in
    * flight. The ratio table (the KB-scale model [[dsirRatioOf]] built
    * offline) is folded into a map LITERAL, so scoring is a single
    * stateless in-row expression: hash bigrams, look each bucket up in
    * the map, left-fold the mean — no join, no aggregation state, no
    * watermark; works identically on a batch frame and a streaming one
    * (append mode), the [[graft.llm.Dedup.dedupAgainstCorpus]]
    * foldable-model pattern applied to importance resampling.
    *
    * Mean is a decimal in-row fold and the batch twin sums the same
    * addends through decimal — exact arithmetic is commutative, so the
    * rounded weight agrees bit-for-bit regardless of order
    * (StreamsSpec gates batch⇄stream equality on this corpus). */
  def dsirGateInRow(docs: org.apache.spark.sql.DataFrame,
      ratio: Seq[(Long, Double)],
      buckets: Int = 128,
      // lr for a bucket the corpus never produced (streamed novel text):
      // the smoothed-ratio constant log((r_n+B)/(t_n+B)) if the caller
      // has the totals, else 0.0 (neutral)
      defaultLr: Double = 0.0): org.apache.spark.sql.DataFrame = {
    val m = map(ratio.flatMap { case (bk, lr) =>
      Seq(lit(bk), lit(lr)) }: _*)
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .withColumn("hs", expr(
        s"""transform(sequence(1, size(toks) - 1),
              i -> CAST(conv(substr(md5(concat(
                     element_at(toks, i), ' ', element_at(toks, i + 1))),
                   1, 15), 16, 10) AS BIGINT) % ${buckets.toLong}L)"""))
      .withColumn("n_feat", size(col("hs")).cast("long"))
      // decimal fold ⇒ bit-identical to the batch gate's exact decimal
      // sum (same addends, exact arithmetic, any order); the cast back
      // to decimal(28,12) inside the lambda keeps the accumulator type
      // stable (decimal + widens precision) and is lossless at these
      // magnitudes (|Σlr| < 1e6 needs 18 of the 28 digits)
      .withColumn("dsir_w", r4(
        aggregate(col("hs"), lit(BigDecimal(0)).cast("decimal(28,12)"),
          (acc, h) => (acc + coalesce(element_at(m, h), lit(defaultLr))
            .cast("decimal(28,12)")).cast("decimal(28,12)"))
          .cast("double") / col("n_feat")))
      .withColumn("selected", col("dsir_w") > 0)
      .select("doc_id", "n_feat", "dsir_w", "selected")
  }

  /** X4l: BPE merge training — the first 3 merge decisions of a
    * byte-pair-encoding tokenizer learned ON the corpus, distributed.
    * Each round: count adjacent symbol pairs across every word
    * occurrence (vocabulary-bounded table), pick the most frequent pair
    * (deterministic tie-break: count desc, then pair), and merge it
    * corpus-wide. Words are encoded as U+001F-separated symbol strings;
    * a merge is two literal `replace` passes of `␟l␟r␟` → `␟lr␟` — the
    * double scan reaches every non-overlapping occurrence (the first
    * pass takes the odd ones in a run, the second the rest) and both
    * engines share left-to-right non-overlapping replace semantics, so
    * the application replays bit-exactly. (In a run of ≥5 identical
    * overlapping symbols this deviates from strict leftmost-greedy BPE
    * — both engines deviate IDENTICALLY, and merge DECISIONS are
    * unaffected since counts are taken before application.)
    *
    * Output is the trained artifact: one row per merge step — the pair,
    * its pre-merge occurrence count, and the corpus symbol count after
    * applying it.
    *
    * The production-BPE compression: ONE corpus scan builds the
    * word-frequency table, and every round thereafter runs over the
    * VOCABULARY (distinct words, pair counts weighted by word count —
    * mathematically identical to occurrence-level counting, since a
    * word's pair structure repeats with the word). At 100 TB that's one
    * scan total + 3 rounds of vocabulary-sized (MB-scale) work — the
    * exact shape of real distributed BPE trainers. Distinct words stay
    * distinct under merging (symbols concatenate back to the word), so
    * no re-grouping is needed between rounds. */
  private val BpeSep = "\u001f"

  private def bpeSyms(encCol: String): org.apache.spark.sql.Column =
    expr(s"filter(split($encCol, '$BpeSep'), x -> x != '')")

  /** The shared 3-round training chain: returns the final encoded
    * vocabulary (w, enc, cnt) and the per-step merge-decision rows. */
  private def bpeChain(s: org.apache.spark.sql.SparkSession, d: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    bpeChainOf(t(s, d, "documents"))

  /** The same trainer over ANY (text) frame (jx `corpus_op` entry
    * point), generalized to `nMerges` rounds. When the corpus runs out
    * of pairs before the budget (every word fully merged), remaining
    * rounds are identity passes that emit no row — a sentinel rule with
    * an impossible pattern (empty symbols never appear between
    * separators) keeps the lazy plan total without driver-side
    * emptiness checks. */
  private[graft] def bpeChainOf(docs: org.apache.spark.sql.DataFrame,
      nMerges: Int = 3):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val SEP = BpeSep
    def syms(encCol: String): org.apache.spark.sql.Column = bpeSyms(encCol)
    // the ONE corpus-sized pass, materialized: every round's pair
    // aggregate and symbol count re-reads the vocabulary table from here
    // instead of re-exploding the corpus (3.5 s → ~1 s at sf0.1; at
    // 100 TB this is a parquet word-frequency table)
    val words0 = materialize(docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"),
        concat(lit(SEP), regexp_replace(col("w"), "(.)", "$1" + SEP)).as("enc"),
        col("cnt")), "text.bpe_vocab")
    def round(words: org.apache.spark.sql.DataFrame, step: Int):
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val top1 = words
        .select(syms("enc").as("sy"), col("cnt"))
        .filter(size(col("sy")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(sy) - 1),
               i -> struct(element_at(sy, i) AS l, element_at(sy, i + 1) AS r))"""))
          .as("p"), col("cnt"))
        .select(col("p.l").as("l"), col("p.r").as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum(col("cnt")).as("c"))
        .orderBy(desc("c"), asc("l"), asc("r")).limit(1)
      // pair-exhaustion guard: a real pair always outranks the c = -1
      // sentinel; with no pairs left the sentinel's empty-symbol pattern
      // matches nothing (symbols are non-empty), so `applied` = words
      val sp = words.sparkSession
      import sp.implicits._
      val rule = top1
        .unionByName(Seq(("", "", -1L)).toDF("l", "r", "c"))
        .orderBy(desc("c")).limit(1)
      val applied = words.crossJoin(broadcast(rule))
        .withColumn("pat", concat(lit(SEP), col("l"), lit(SEP), col("r"), lit(SEP)))
        .withColumn("rep", concat(lit(SEP), col("l"), col("r"), lit(SEP)))
        .select(col("w"),
          expr("replace(replace(enc, pat, rep), pat, rep)").as("enc"),
          col("cnt"))
      val nSyms = applied.agg(sum(size(syms("enc")) * col("cnt")).as("ns"))
      val row = rule.filter(col("c") >= 0).crossJoin(nSyms).select(
        lit(step).as("step"), col("l").as("left_sym"), col("r").as("right_sym"),
        col("c").as("n_pair"), col("ns").as("n_symbols"))
      (applied, row)
    }
    val (fw, rows) = (1 to nMerges)
      .foldLeft((words0, Vector.empty[org.apache.spark.sql.DataFrame])) {
        case ((w, acc), step) =>
          val (w2, r) = round(w, step)
          (w2, acc :+ r)
      }
    (fw, rows.reduce(_ union _))
  }

  val textBpeMerges: Q = (s, d) => bpeChain(s, d)._2.orderBy("step")

  /** jx `corpus_op` entry point for the trainer's merge table. */
  def bpeMergesOf(docs: org.apache.spark.sql.DataFrame, nMerges: Int = 3):
      org.apache.spark.sql.DataFrame =
    bpeChainOf(docs, nMerges)._2.orderBy("step")

  /** X4l-encode: APPLY the learned merges — tokenize documents with the
    * trained vocabulary (the encode half of the tokenizer-training
    * story). Each sampled document's words join the final encoded
    * vocabulary (word → symbol sequence after all 3 merges) and
    * re-assemble in position order; output per doc is its
    * whitespace-word count, BPE-symbol count, and the md5 of the full
    * segmentation. At 100 TB: the vocabulary is one side of a hash join
    * (broadcast at real-world vocab sizes); documents never leave their
    * partitions until the per-doc aggregate. */
  /** The stored encoded vocabulary as a (w, sy) frame —
    * train-once/encode-many: the first call in a session trains the 3
    * merges and stores the encoded vocabulary; every later call — the
    * bench's warm reps, production's per-batch tokenization — reads the
    * stored vocab and pays only the join (same [[Artifacts]] contract
    * as sim_ivf_persist; results identical, so the oracles replay
    * training regardless). Shared by encode and fertility. */
  private def bpeVocab(s: org.apache.spark.sql.SparkSession, d: String):
      org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.buildOnce(s, "bpe", d) { dd =>
      bpeChain(s, d)._1.write.mode("overwrite").parquet(s"$dd/vocab")
    }
    graft.Tables.parquet(s, s"$dir/vocab").select(col("w"), bpeSyms("enc").as("sy"))
  }

  val textBpeEncode: Q = (s, d) => {
    val vf = bpeVocab(s, d)
    t(s, d, "documents").filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .join(vf, Seq("w"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(col("sy"))).as("n_bpe"),
        md5(concat_ws(" ", flatten(transform(
          sort_array(collect_list(struct(col("pos"), col("sy")))),
          p => p.getField("sy"))))).as("bpe_md5"))
      .orderBy("doc_id")
  }

  /** X4o: tokenizer FERTILITY by language — BPE tokens per word and
    * chars per BPE token for each lang bucket, the standard
    * tokenizer-evaluation readout (a language whose fertility is 2× the
    * corpus mean pays 2× the context budget per word — the number that
    * drives per-language token accounting and tokenizer retraining
    * decisions). Probes the same stored vocabulary [[textBpeEncode]]
    * trains. Plan at 100 TB: word explode → one hash join against the
    * (broadcastable at real vocab sizes) vocabulary → a groupBy on the
    * bounded lang key with map-side partials; no window, no skew. */
  val textFertility: Q = (s, d) => fertilityOf(t(s, d, "documents"), bpeVocab(s, d))

  /** The same readout over ANY (lang, text) frame and any (w, sy)
    * encoded vocabulary (jx `corpus_op` entry point trains the vocab
    * in-plan from the frame itself). */
  def fertilityOf(docs: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, Seq("w"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(col("sy"))).as("n_bpe"),
        sum(length(col("w")).cast("long")).as("n_wchars"))
      .select(col("lang"), col("n_words"), col("n_bpe"), col("n_wchars"),
        r4(col("n_bpe").cast("double") / col("n_words")).as("fertility"),
        r4(col("n_wchars").cast("double") / col("n_bpe")).as("chars_per_tok"))
      .orderBy("lang")

  /** The in-plan vocab for the jx fertility route: [[bpeChainOf]] over
    * the frame itself (no artifact — an arbitrary corpus subquery has no
    * dataset-keyed store). */
  def fertilityVocabOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bpeChainOf(docs)._1.select(col("w"), bpeSyms("enc").as("sy"))

  /** X4n (forward idea h): deterministic training-shard export manifest —
    * the write-side contract a trainer consumes before reading a corpus
    * export. Docs are hash-sharded on an md5 key hash (stable across
    * runs, engines, and partitioner choices — NOT Spark's partitioner),
    * and each shard is summarized by what a trainer validates: doc /
    * token / byte counts, the id range, and an order-independent content
    * fingerprint (`bit_xor` of per-doc content hashes — commutative and
    * associative, so it partial-aggregates map-side with no sort and no
    * string concat; equal fingerprints + equal n_docs ⇒ same doc
    * multiset up to xor's even-multiplicity blind spot, which n_docs
    * disambiguates in practice).
    *
    * Plan shape at 100 TB: one groupBy on a 16-value key with map-side
    * partials — every per-doc column (shard, token count, content hash)
    * is computed in-row inside whole-stage codegen; the shuffle carries
    * 16 rows per task. No window, no collect, no skew (md5 spreads keys
    * uniformly regardless of doc_id distribution). */
  /** The stable shard assignment shared by the manifest and the export
    * sink (md5 of the doc id — NOT Spark's partitioner, so membership
    * survives engine and partitioning changes). */
  def shardCol(nShards: Int): org.apache.spark.sql.Column =
    expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)") %
      nShards

  /** Manifest over a frame that ALREADY carries its `shard` column —
    * the read-back path of the export round-trip re-derives the
    * manifest from the files as written. */
  def shardManifestOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("content_h", expr(
        "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        expr("bit_xor(content_h)").as("content_fp"))
      .orderBy("shard")

  def shardManifest(docs: org.apache.spark.sql.DataFrame,
                    nShards: Int = 16): org.apache.spark.sql.DataFrame =
    shardManifestOf(docs.withColumn("shard", shardCol(nShards)))

  val textShardManifest: Q = (s, d) => shardManifest(t(s, d, "documents"))

  /** Forward idea (l): the shard-export SINK — write the corpus as
    * `partitionBy(shard)` parquet ONCE per (session, dataset) via the
    * [[graft.llm.Artifacts]] store, then RE-DERIVE the manifest from the
    * files as written. The returned manifest is therefore a statement
    * about the bytes on disk, not about the input frame — and it is
    * hash-gated against the same oracle as [[textShardManifest]], which
    * proves the export round-trips losslessly (doc set, token counts,
    * content fingerprints all survive the write/read cycle). Partition
    * values read back as the narrowest inferred type (int), recast
    * before the manifest group-by. */
  val textShardExport: Q = (s, d) => {
    val dir = Artifacts.buildOnce(s, "shard_export", d) { dd =>
      t(s, d, "documents")
        .withColumn("shard", shardCol(16))
        .write.mode("overwrite").partitionBy("shard").parquet(s"$dd/docs")
    }
    shardManifestOf(graft.Tables.parquet(s, s"$dir/docs")
      .withColumn("shard", col("shard").cast("long")))
  }

  /** Merge per-batch manifests by pure distributive algebra — counts
    * and token/byte sums add, id ranges min/max, fingerprints xor. An
    * incremental exporter maintains today's manifest as
    * `merge(yesterday, manifest(today's docs))` without re-reading a
    * single old shard. */
  def mergeManifests(parts: org.apache.spark.sql.DataFrame*): org.apache.spark.sql.DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy("shard")
      .agg(
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_bytes").as("n_bytes"),
        min("min_doc").as("min_doc"),
        max("max_doc").as("max_doc"),
        expr("bit_xor(content_fp)").as("content_fp"))
      .orderBy("shard")

  /** ST11 partials: per-source QUALITY monitor rows for one slice of the
    * corpus — the ingest-health twin of [[shardManifest]]. Every column
    * obeys a distributive merge algebra (sums / min / max), and the mean
    * survives merging because what is stored is the DECIMAL quality SUM
    * (exact, commutative — §4.1's decision-mean rule), not the mean
    * itself. Per-doc quality is `text_quality`'s exact score. One
    * groupBy on the source key; |sources| rows per slice reach the
    * store. */
  def qualityPartialsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_stop",
        size(expr("filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'to'))")))
      .withColumn("q",
        when(col("n_chars") < 100, 0.2).otherwise(1.0) *
          when(col("n_stop") === 0, 0.5).otherwise(1.0))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("n_tokens"),
        sum(col("q").cast("decimal(28,12)")).as("sum_q"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))

  /** The pre-training CURATION REPORT — the one-page per-source summary
    * a data owner reads before paying for a run: volume (docs/tokens),
    * quality (the monitor's exact mean), and duplication (how much of
    * the source the near-dup drop list would remove). Composes two
    * STORED decision sets — the quality partials and the `minhash_pairs`
    * drop list — so the readout costs one corpus pass for the quality
    * scan plus KB-scale probes; nothing is recomputed that an earlier
    * key already decided, and the oracle replays both chains so the
    * report can't drift from the operators it summarizes. */
  val textCurationReport: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val drops = Dedup.queries("dedup_drop_list")(s, d)
    val dropBySrc = docs
      .join(drops.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_near_dup"))
    qualityMergeFrom(qualityPartialsOf(docs))
      .join(dropBySrc, Seq("source"), "left")
      .withColumn("n_near_dup", coalesce(col("n_near_dup"), lit(0L)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("mean_quality"), col("n_near_dup"),
        r4(col("n_near_dup").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy("source")
  }

  /** X4v: per-source DATASET CARD — the governance readout every corpus
    * release ships (Datasheets-for-Datasets shape): one row per source
    * with volume (docs/tokens), quality (mean heuristic score +
    * classifier pass per-mille), duplication (near-dup rate off the
    * MinHash pair graph), language (majority predicted language and its
    * share), and eval contamination (n-gram decon hits). Every column is
    * an existing audited chain — the card is their per-source join, so
    * its oracle replays the full pipeline and the plan inherits each
    * piece's scale shape: after the scans, everything joined here is a
    * |sources|-row frame. */
  val textDatasetCard: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val base = qualityMergeFrom(qualityPartialsOf(docs))
    val dupBySrc = docs
      .join(Dedup.queries("dedup_drop_list")(s, d).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_near_dup"))
    val preds = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hits_en", size(expr("filter(toks, w -> w IN ('the', 'a', 'of'))")))
      .withColumn("hits_es", size(expr("filter(toks, w -> w IN ('el', 'la', 'de'))")))
      .withColumn("hits_de", size(expr("filter(toks, w -> w IN ('der', 'die', 'das'))")))
      .withColumn("predicted",
        when(col("hits_en") >= col("hits_es") && col("hits_en") >= col("hits_de") &&
          col("hits_en") > 0, "en")
          .when(col("hits_es") >= col("hits_de") && col("hits_es") > 0, "es")
          .when(col("hits_de") > 0, "de")
          .otherwise("und"))
      .groupBy("source", "predicted").agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy("source")
      .orderBy(col("n").desc, col("predicted").asc)
    val topLang = preds.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("source"), col("predicted").as("top_lang"), col("n").as("n_top"))
    val contam = Dedup.decontaminate(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_contam"))
    val sel = classifierScoresOf(docs).filter(col("selected"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_sel"))
    base.join(dupBySrc, Seq("source"), "left")
      .join(topLang, Seq("source"), "left")
      .join(contam, Seq("source"), "left")
      .join(sel, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("mean_quality"),
        coalesce(col("n_near_dup"), lit(0L)).as("n_near_dup"),
        r4(coalesce(col("n_near_dup"), lit(0L)).cast("double") / col("n_docs"))
          .as("dup_rate"),
        col("top_lang"),
        r4(col("n_top").cast("double") / col("n_docs")).as("top_lang_share"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        expr("(1000 * coalesce(n_sel, CAST(0 AS BIGINT))) div n_docs")
          .as("sel_permille"))
      .orderBy("source")
  }

  /** The monitor READOUT over any union of [[qualityPartialsOf]] rows:
    * re-merge by the same distributive algebra, then surface the mean.
    * Exact over any number of partials in any order — a redelivered or
    * late slice changes nothing but its own rows. */
  def qualityMergeFrom(parts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    parts
      .groupBy("source")
      .agg(
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("sum_q").as("sum_q"),
        min("min_chars").as("min_chars"),
        max("max_chars").as("max_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r4(col("sum_q").cast("double") / col("n_docs")).as("mean_quality"),
        col("min_chars"), col("max_chars"))
      .orderBy("source")

  /** Forward idea (o): the incremental-manifest gate — the corpus split
    * into two disjoint "days", each day manifested INDEPENDENTLY, the
    * two manifests merged by [[mergeManifests]]. Hash-gated against the
    * FULL-corpus manifest oracle: merge(manifest(A), manifest(B)) ==
    * manifest(A ∪ B) exactly — the daily-index shape for exports, with
    * no old-shard re-read. */
  val textShardDelta: Q = (s, d) => {
    val docs = t(s, d, "documents")
    mergeManifests(
      shardManifest(docs.filter(col("doc_id") % 2 === 0)),
      shardManifest(docs.filter(col("doc_id") % 2 =!= 0)))
  }

  /** Forward idea (r): manifest DIFF — recover what changed between two
    * manifests without touching the corpus: counts/sums subtract,
    * fingerprints xor (xor is its own inverse, so cur ⊕ prev is exactly
    * the fingerprint of the added docs when prev ⊆ cur). Shards with no
    * delta drop out. The incremental-export audit: diff(today,
    * yesterday) must equal manifest(today's new docs) — which is
    * exactly how the driver gates it. */
  def diffManifests(cur: org.apache.spark.sql.DataFrame,
      prev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def slim(m: org.apache.spark.sql.DataFrame, sign: Int) =
      m.select(col("shard"),
        (col("n_docs") * sign).as("n_docs"),
        (col("n_tokens") * sign).as("n_tokens"),
        (col("n_bytes") * sign).as("n_bytes"),
        col("content_fp"))
    slim(cur, 1).unionByName(slim(prev, -1))
      .groupBy("shard")
      .agg(
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_bytes").as("n_bytes"),
        expr("bit_xor(content_fp)").as("content_fp"))
      // keep a shard whose counts cancelled but whose fingerprint moved:
      // a doc REPLACED by another (same count, different content) is a
      // real delta the count filter alone would silently report as none
      .filter(col("n_docs") =!= 0 || col("content_fp") =!= 0)
      .orderBy("shard")
  }

  /** The diff gate: manifest(all) diffed against manifest(evens) must
    * recover manifest(odds) exactly — oracled by the odd-slice SQL. */
  val textShardDiff: Q = (s, d) => {
    val docs = t(s, d, "documents")
    diffManifests(
      shardManifest(docs),
      shardManifest(docs.filter(col("doc_id") % 2 === 0)))
  }

  /** Forward idea (m): per-source manifest drill-down — the same
    * fingerprint algebra rolled up over shard × source with `rollup`
    * (per-(shard,source) cells, per-shard subtotals, grand total). The
    * subtotal rows prove the algebra composes: a shard's fingerprint is
    * the bit_xor of its per-source cells, so a trainer can verify any
    * slice against the whole without re-reading the corpus. */
  val textShardManifestSrc: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("shard", shardCol(16))
      .withColumn("content_h", expr(
        "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)"))
      .rollup("shard", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"),
        expr("bit_xor(content_h)").as("content_fp"))
      .orderBy(asc_nulls_first("shard"), asc_nulls_first("source"))

  // ——— X4af/X4ag: rule-LEVEL heuristic curation (Gopher/C4 rule table) ———

  /** The published heuristic rule table (Gopher §A.1.1 / C4), one BOOLEAN
    * verdict per rule over the deterministic rule-corpus decoration (the
    * [[withPii]] house recipe: the synthetic corpus is bare lowercase
    * words, so each doc is first decorated with structure derived from
    * its own doc_id — both engines construct the identical string; see
    * [[graft.functions.RuleFeatures]], which counts the decorated text in
    * one codegen'd pass per doc). All-integer arithmetic so both engines
    * compare bit-identical values (mean-word-length bands as
    * cross-multiplied integer inequalities, ratios as scaled integer
    * compares — no float division anywhere):
    *  - r_wc       word count in [50, 100k]
    *  - r_mwl      mean word length in [3, 10]   (3·w ≤ chars ≤ 10·w)
    *  - r_sym      symbol-to-word ratio < 0.1    (10·(# + …) < w)
    *  - r_bullet   < 90% of lines bullet-started (10·b < 9·lines)
    *  - r_ellipsis < 30% of lines ellipsis-ended (10·e < 3·lines)
    *  - r_alpha    ≥ 80% of words contain a letter (5·a ≥ 4·w)
    *  - r_stop     ≥ 2 distinct stop words
    * `keep` is the conjunction — the Gopher paper's filter semantics
    * (every rule must pass). Per-doc map work only: one projection of the
    * verdicts over the counts struct. */
  private[llm] def ruleVerdictsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val counted = docs.withColumn("rf",
      graft.functions.RuleFeatures(col("doc_id"), col("text")))
    def n(c: String) = col(s"rf.$c")
    val verdicts = Seq(
      "r_wc" -> n("n_words").between(50, 100000),
      "r_mwl" -> (lit(3) * n("n_words") <= n("n_ns") && n("n_ns") <= lit(10) * n("n_words")),
      "r_sym" -> (lit(10) * (n("n_hash") + n("n_dots")) < n("n_words")),
      "r_bullet" -> (lit(10) * n("n_bullet") < lit(9) * n("n_lines")),
      "r_ellipsis" -> (lit(10) * n("n_eline") < lit(3) * n("n_lines")),
      "r_alpha" -> (lit(5) * n("n_alpha") >= lit(4) * n("n_words")),
      "r_stop" -> (n("n_stopd") >= 2))
    counted.select(docs.columns.map(c => col(s"`$c`")) ++
      Seq(n("n_words").as("n_words"), n("n_lines").as("n_lines")) ++
      verdicts.map { case (name, v) => v.as(name) } :+
      verdicts.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** X4af driver gate: the per-doc rule breakdown — what real pipelines
    * ship for filter ABLATION (which rule fired, not just the composite
    * verdict). */
  def ruleFilterOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ruleVerdictsOf(docs)
      .select("doc_id", "n_words", "n_lines", "r_wc", "r_mwl", "r_sym",
        "r_bullet", "r_ellipsis", "r_alpha", "r_stop", "keep")
      .orderBy("doc_id")
      .limit(300)

  val textRuleFilter: Q = (s, d) => ruleFilterOf(t(s, d, "documents"))

  /** One batch's per-source rule-failure partials — doc count, one
    * failure count per rule, and the keep count, every column a
    * DISTRIBUTIVE sum, which is what lets [[graft.streaming.Streams]]
    * maintain the profile incrementally (merged partials == the
    * one-shot pass bit-identically under any batch split). */
  def rulePartialsOf(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ruleVerdictsOf(batch)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("r_wc"), 1L).otherwise(0L)).as("f_wc"),
        sum(when(!col("r_mwl"), 1L).otherwise(0L)).as("f_mwl"),
        sum(when(!col("r_sym"), 1L).otherwise(0L)).as("f_sym"),
        sum(when(!col("r_bullet"), 1L).otherwise(0L)).as("f_bullet"),
        sum(when(!col("r_ellipsis"), 1L).otherwise(0L)).as("f_ellipsis"),
        sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("f_alpha"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("f_stop"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))

  /** The merged profile readout over ANY union of [[rulePartialsOf]]
    * rows (re-sum the distributive partials). */
  def ruleProfileMergeFrom(parts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    parts
      .groupBy("source")
      .agg(
        sum("n_docs").as("n_docs"),
        sum("f_wc").as("f_wc"), sum("f_mwl").as("f_mwl"),
        sum("f_sym").as("f_sym"), sum("f_bullet").as("f_bullet"),
        sum("f_ellipsis").as("f_ellipsis"), sum("f_alpha").as("f_alpha"),
        sum("f_stop").as("f_stop"), sum("n_keep").as("n_keep"))
      .orderBy("source")

  /** X4ag driver gate: per-source rule-failure profile — the curation
    * dashboard's "which rule is eating source X" view. At 100 TB this is
    * a |sources|-row monitor derived in one pass; the streamed twin
    * ([[graft.streaming.Streams]] ST18) maintains it without rescans. */
  def ruleProfileOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ruleProfileMergeFrom(rulePartialsOf(docs))

  val textRuleProfile: Q = (s, d) => ruleProfileOf(t(s, d, "documents"))

  // ——— X4ai: line-level boilerplate removal (the CCNet/crawl-cleaning
  // paragraph-hash pass) ———

  /** Deterministic line decoration: words reflow into 10-word lines,
    * then each doc gains a per-source header line and a global footer
    * line — the navigation/boilerplate structure a real crawl carries
    * (both engines construct the identical lines from (doc_id, source)
    * alone). */
  private[llm] def withDocLines(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("words0", split(col("text"), " "))
      .withColumn("body", expr(
        "transform(sequence(0, (size(words0)-1) div 10), " +
          "i -> array_join(slice(words0, i*10+1, 10), ' '))"))
      .withColumn("dlines", expr(
        "concat(array('subscribe to ' || source || ' newsletter today'), " +
          "body, array('all rights reserved worldwide'))"))
      // every consumer reads only (doc_id, dlines) — project the original
      // text (and source) away so the materialized lined frame carries
      // the derived lines alone, not a second copy of the corpus
      // (guide §2.3: project before the exchange / materialization)
      .select(col("doc_id"), col("dlines"))

  /** [[withDocLines]] materialized: the line-dedup and line-count passes
    * read the lined frame twice (the rewrite explode + per-doc counts). */
  private def linedOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    materialize(withDocLines(docs), "text.doc_lines")

  /** X4ai driver gate: corpus-frequency line dedup — hash every line,
    * count how many DISTINCT docs each hash appears in, and REWRITE each
    * doc keeping only lines below the boilerplate threshold (≥5 docs ⇒
    * boilerplate: nav bars, cookie banners, license footers — CCNet's
    * paragraph-hash pass, the crawl-side complement of the pair-wise
    * dedup family: frequency-based, needs no pair graph). Returns the
    * per-doc line counts plus the md5 of the REWRITTEN text (pins every
    * surviving byte). Scale shape: one shuffle keyed on the 32-hex line
    * hash (never the line bytes), then one per-doc re-aggregation; the
    * frequency table is the only corpus-wide state and it shrinks to
    * |distinct lines ≥ threshold| for the production broadcast. */
  def lineDedupOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // ONE line build shared by the frequency table and the rewrite pass
    // (three evaluations before: freq explode, rewrite explode, per-doc
    // line counts). The lined frame is corpus-scale, but so is each
    // replay of the split/slice/join transform it avoids; at 100 TB the
    // frequency table is the maintained ST19 store and arriving docs are
    // lined once by construction ([[lineDedupAgainst]]).
    val lined = linedOf(docs)
    lineDedupFromLined(lined, lineFreqsFromLined(lined))
  }

  /** One batch's line-frequency partials: (lh, n_docs) with doc counts
    * DISTINCT within the batch — docs live in exactly one batch, so the
    * per-line doc counts are DISTRIBUTIVE across a batch split and the
    * streamed store's merge ([[graft.streaming.Streams]] ST19) re-sums
    * them into the exact full-corpus table. */
  def lineFreqsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    lineFreqsFromLined(withDocLines(docs))

  private def lineFreqsFromLined(lined: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    lined
      .select(col("doc_id"), explode(col("dlines")).as("line"))
      .select(md5(col("line")).as("lh"), col("doc_id"))
      .distinct()
      .groupBy("lh")
      .agg(count(lit(1)).as("ldf"))

  /** The rewrite pass against ANY (lh, ldf) frequency table — the
    * production split: the boilerplate table is maintained (batch job or
    * ST19 stream), and arriving docs are rewritten against it without
    * rescanning the corpus. */
  def lineDedupAgainst(docs: org.apache.spark.sql.DataFrame,
      dfreq: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    lineDedupFromLined(linedOf(docs), dfreq)

  /** The rewrite pass over a PRE-LINED (materialized) frame — the lined
    * transform is read twice below (rewrite explode + per-doc counts). */
  private def lineDedupFromLined(lined: org.apache.spark.sql.DataFrame,
      dfreq: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ex = lined
      .select(col("doc_id"), posexplode(col("dlines")).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
    // left join: a line the table has never seen (an arriving doc's
    // fresh content) is by definition not boilerplate — keep it
    ex.join(dfreq, Seq("lh"), "left")
      .filter(coalesce(col("ldf"), lit(1L)) < 5)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("line"))).as("kl"))
      .select(col("doc_id"),
        size(col("kl")).cast("long").as("n_kept"),
        md5(array_join(expr("transform(array_sort(kl), x -> x.line)"), "\n"))
          .as("cleaned_md5"))
      .join(lined.select(col("doc_id"),
        size(col("dlines")).cast("long").as("n_lines")), Seq("doc_id"))
      .select("doc_id", "n_lines", "n_kept", "cleaned_md5")
      .orderBy("doc_id")
      .limit(300)
  }

  /** Per-doc line counts WITHOUT the gate's order/limit tail — the
    * hygiene report aggregates this corpus-wide. */
  private[llm] def lineCountsOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // same one-line-build sharing as [[lineDedupOf]]
    val lined = linedOf(docs)
    lineCountsFromLined(lined, lineFreqsFromLined(lined))
  }

  /** [[lineCountsOf]] against ANY (lh, ldf) frequency table (the ST19
    * store's merged frame) — unseen lines kept by definition. */
  private[llm] def lineCountsAgainst(docs: org.apache.spark.sql.DataFrame,
      dfreq: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    lineCountsFromLined(linedOf(docs), dfreq)

  private def lineCountsFromLined(lined: org.apache.spark.sql.DataFrame,
      dfreq: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ex = lined
      .select(col("doc_id"), explode(col("dlines")).as("line"))
      .withColumn("lh", md5(col("line")))
    ex.join(dfreq, Seq("lh"), "left")
      .filter(coalesce(col("ldf"), lit(1L)) < 5)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"))
      .join(lined.select(col("doc_id"),
        size(col("dlines")).cast("long").as("n_lines")), Seq("doc_id"))
  }

  /** [[hygieneReportOf]] with the line-frequency table supplied
    * externally (the ST20 streamed composition probes the maintained
    * table instead of recomputing it). */
  def hygieneReportAgainst(docs: org.apache.spark.sql.DataFrame,
      dfreq: org.apache.spark.sql.DataFrame,
      ruleParts: org.apache.spark.sql.DataFrame,
      secretParts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rules = ruleProfileMergeFrom(ruleParts)
      .select(col("source"), col("n_docs"),
        expr("(1000 * n_keep) div n_docs").as("rule_keep_pm"))
    val lines = lineCountsAgainst(docs, dfreq)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(sum("n_lines").as("nl"), sum("n_kept").as("nk"))
      .select(col("source"),
        expr("(1000 * (nl - nk)) div nl").as("boiler_rm_pm"))
    val secrets = secretParts
      .groupBy("source")
      .agg(sum("n_secret_docs").as("n_secret_docs"))
    rules.join(lines, Seq("source")).join(secrets, Seq("source"))
      .select("source", "n_docs", "rule_keep_pm", "boiler_rm_pm", "n_secret_docs")
      .orderBy("source")
  }

  /** One batch's per-source secret partials — distributive (the verdict
    * is per-doc independent). */
  def secretPartialsOf(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    secretCountsOf(batch)
      .join(batch.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(sum(when(col("n_secrets") > 0, 1L).otherwise(0L)).as("n_secret_docs"))

  val textLineDedup: Q = (s, d) => lineDedupOf(t(s, d, "documents"))

  // ——— X4aj: secret/credential scanning ———

  /** X4aj driver gate: high-entropy token scrubbing — the
    * detect-secrets-style pass a pipeline runs so leaked API keys never
    * reach training shards. A token is flagged when it is long (≥20
    * chars), charset-diverse (≥12 distinct chars — the entropy proxy,
    * integer-exact in both engines), and mixes digits with letters;
    * flagged tokens are replaced by <SECRET> and the scrubbed text md5
    * pins every byte. The synthetic corpus carries no secrets, so docs
    * with doc_id % 7 = 3 are first decorated with a deterministic fake
    * key (token_ + the md5 hex of their own id) and EVERY doc gains a
    * 32-char single-letter token — a long-but-low-entropy decoy the
    * scanner must NOT flag (both engines build identical strings).
    * Pure per-row array work: codegen, no shuffle, linear. */
  def secretScanOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    secretCountsOf(docs).orderBy("doc_id").limit(300)

  /** The per-doc scan WITHOUT the gate's order/limit tail — the hygiene
    * report aggregates this corpus-wide. */
  private[llm] def secretCountsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val flag =
      "length(tk) >= 20 AND " +
        "size(array_distinct(transform(sequence(1, length(tk)), " +
        "i -> substr(tk, i, 1)))) >= 12 AND " +
        "tk rlike '[0-9]' AND tk rlike '[a-z]'"
    docs
      .withColumn("sec_text", concat(col("text"),
        when(col("doc_id") % 7 === 3,
          concat(lit(" token_"), md5(col("doc_id").cast("string"))))
          .otherwise(lit("")),
        lit(" " + "a".repeat(32))))
      .withColumn("toks", split(col("sec_text"), " "))
      .select(
        col("doc_id"),
        expr("CAST(size(filter(toks, tk -> length(tk) >= 20)) AS BIGINT)")
          .as("n_candidates"),
        expr(s"CAST(size(filter(toks, tk -> $flag)) AS BIGINT)").as("n_secrets"),
        md5(expr(
          s"array_join(transform(toks, tk -> CASE WHEN $flag THEN '<SECRET>' " +
            "ELSE tk END), ' ')")).as("scrub_md5"))
  }

  val textSecretScan: Q = (s, d) => secretScanOf(t(s, d, "documents"))

  // ——— X4ak: the round's hygiene CAPSTONE readout ———

  /** X4ak driver gate: per-source HYGIENE report — the three rule-15
    * passes rolled up into the view a curation owner reads: per source,
    * the rule-table keep rate, the boilerplate-line removal rate, and
    * the count of docs carrying a flagged secret. All-integer per-mille
    * arithmetic; each column re-derives from its own pass verbatim, so
    * the report inherits all three oracles' exactness. |sources| rows —
    * at 100 TB this is three linear passes feeding a KB-scale join. */
  def hygieneReportOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rules = rulePartialsOf(docs)
      .select(col("source"), col("n_docs"),
        expr("(1000 * n_keep) div n_docs").as("rule_keep_pm"))
    val lines = lineCountsOf(docs)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(sum("n_lines").as("nl"), sum("n_kept").as("nk"))
      .select(col("source"),
        expr("(1000 * (nl - nk)) div nl").as("boiler_rm_pm"))
    val secrets = secretCountsOf(docs)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(sum(when(col("n_secrets") > 0, 1L).otherwise(0L)).as("n_secret_docs"))
    rules.join(lines, Seq("source")).join(secrets, Seq("source"))
      .select("source", "n_docs", "rule_keep_pm", "boiler_rm_pm", "n_secret_docs")
      .orderBy("source")
  }

  val textHygieneReport: Q = (s, d) => hygieneReportOf(t(s, d, "documents"))

  // ——— X13: inverted-index / BM25 keyword search (r16) ———

  /** X13a: INVERTED-INDEX dictionary build — the term-level statistics a
    * keyword-search or keyword-curation pass maintains over the corpus:
    * per term, document frequency (df), collection frequency (cf), the
    * peak within-document tf, and the argmax document (ties → smallest
    * doc_id, carried as an integer-exact min over struct(-tf, doc_id)).
    * One token explode → ONE (term, doc) partial aggregate (map-side
    * combine collapses each task to its own vocabulary before the only
    * shuffle) → a vocabulary-bounded term rollup. At 100 TB the output
    * is |vocabulary| rows — the postings *dictionary* is the KB-scale
    * artifact every keyword gate probes; full postings stay where they
    * belong, as the (term, doc, tf) intermediate, partitioned by term. */
  /** The distributive per-batch half of the dictionary: docs live in
    * exactly one batch, so per-batch (df, cf, max_tf, best-(−tf, doc))
    * partials merge EXACTLY (sum/sum/max/min-struct) — the algebra
    * behind the ST24 streamed store AND the one-shot build (which is
    * just merge(partials(corpus))). */
  def dfPartialsOf(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    batch
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("w")
      .agg(
        count(lit(1)).as("df"),
        sum("tf").as("cf"),
        max("tf").as("max_tf"),
        min(struct((-col("tf")).as("ntf"), col("doc_id"))).as("top"))
      .select(col("w"), col("df"), col("cf"), col("max_tf"),
        col("top.ntf").as("ntf"), col("top.doc_id").as("top_doc"))

  /** Merge any batch-partition of [[dfPartialsOf]] partials into the
    * corpus dictionary (the min-struct carries the argmax-doc tie rule
    * through the merge unchanged). */
  def invertedIndexMergeFrom(parts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    parts
      .groupBy("w")
      .agg(
        sum("df").as("df"),
        sum("cf").as("cf"),
        max("max_tf").as("max_tf"),
        min(struct(col("ntf"), col("top_doc").as("doc_id"))).as("top"))
      .select(col("w"), col("df"), col("cf"), col("max_tf"),
        col("top.doc_id").as("top_doc"))
      .orderBy(col("cf").desc, col("w"))
      .limit(100)

  def invertedIndexOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    invertedIndexMergeFrom(dfPartialsOf(docs))

  /** The X13a dictionary oracle over ANY (doc_id, text) relation — shared
    * by `text_inverted_index` ("documents"), the ST24 store twin, and the
    * forget-propagation gate (the purged-corpus rebuild). */
  private[graft] def invertedIndexOracleFrom(src: String): String =
    s"""WITH iiw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM $src),
           iif AS (SELECT doc_id, w FROM iiw WHERE length(w) > 0),
           iitf AS (SELECT w, doc_id, count(*) AS tf FROM iif GROUP BY 1, 2),
           iirk AS (SELECT w, doc_id, tf,
                           row_number() OVER (PARTITION BY w
                                              ORDER BY tf DESC, doc_id) AS rk
                    FROM iitf)
         SELECT t.w, count(*) AS df, CAST(sum(t.tf) AS BIGINT) AS cf,
                CAST(max(t.tf) AS BIGINT) AS max_tf,
                CAST(min(CASE WHEN r.rk = 1 THEN r.doc_id END) AS BIGINT) AS top_doc
         FROM iitf t JOIN iirk r ON t.w = r.w AND t.doc_id = r.doc_id
         GROUP BY t.w ORDER BY cf DESC, t.w LIMIT 100"""

  /** The shard-manifest oracle over ANY documents-shaped relation —
    * the forget-propagation gates point it at the purged corpus
    * (rebuild-from-purged IS the oracle). */
  private[graft] def shardManifestOracleFrom(src: String): String =
    s"""WITH d AS (SELECT doc_id, n_chars,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 16 AS shard,
                  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h,
                  len(string_split(text, ' ')) AS n_toks
           FROM $src)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                bit_xor(content_h) AS content_fp
         FROM d GROUP BY shard ORDER BY shard"""

  /** The n-gram novelty oracle over ANY documents-shaped relation — the
    * forget gate's purged-corpus rebuild (a gram whose first-seen doc is
    * tombstoned re-mins to its first SURVIVING doc). */
  private[graft] def noveltyOracleFrom(src: String): String =
    s"""WITH nv0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
           nvg AS (SELECT DISTINCT doc_id,
                          t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
                   FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
                         FROM nv0 WHERE len(t) >= 3)),
           nvf AS (SELECT g, min(doc_id) AS first_doc FROM nvg GROUP BY 1)
         SELECT doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_novel,
                round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0
                        / count(*), 4) AS novelty
         FROM nvg JOIN nvf USING (g)
         GROUP BY doc_id ORDER BY doc_id LIMIT 300"""

  /** The line-dedup oracle over ANY documents-shaped relation (doc_id,
    * source, text) — the T13l forget gate rewrites the PURGED corpus
    * against the subtraction-patched frequency store, which must equal
    * this one-shot rebuild. */
  private[graft] def lineDedupOracleFrom(src: String): String =
    s"""WITH lw AS (SELECT doc_id, source, string_split(text, ' ') AS words0
                     FROM $src),
           ld AS (SELECT doc_id,
                         ['subscribe to ' || source || ' newsletter today'] ||
                         list_transform(range(0, ((len(words0)-1)//10)+1), i ->
                           array_to_string(words0[(i*10+1):(i*10+10)], ' ')) ||
                         ['all rights reserved worldwide'] AS dlines
                  FROM lw),
           lx AS (SELECT doc_id,
                         unnest(dlines) AS line,
                         unnest(range(1, len(dlines)+1)) AS pos
                  FROM ld),
           lf AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS ldf
                  FROM lx GROUP BY 1),
           lk AS (SELECT x.doc_id, x.pos, x.line
                  FROM lx x JOIN lf ON lf.lh = md5(x.line)
                  WHERE lf.ldf < 5),
           lc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                         md5(string_agg(line, chr(10) ORDER BY pos))
                           AS cleaned_md5
                  FROM lk GROUP BY doc_id)
         SELECT d.doc_id, CAST(len(d.dlines) AS BIGINT) AS n_lines,
                lc.n_kept, lc.cleaned_md5
         FROM ld d JOIN lc USING (doc_id)
         ORDER BY doc_id LIMIT 300"""

  /** X13f: per-term DF-DRIFT monitor — vocabulary drift detection over
    * two deliveries (the question the ST24 store exists to answer:
    * "which terms are trending into the corpus?"). Per term, the
    * document frequency in each half and the integer per-mille skew;
    * the most imbalanced terms float to the top. Both halves are
    * [[dfPartialsOf]] frames — vocabulary-bounded, so the full-outer
    * join and the ranking run over KB-scale rows at any corpus size. */
  def dfDriftOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = dfPartialsOf(docs.filter(col("doc_id") % 2 === 0))
      .select(col("w"), col("df").as("df_a"))
    val b = dfPartialsOf(docs.filter(col("doc_id") % 2 === 1))
      .select(col("w"), col("df").as("df_b"))
    a.join(b, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("df_a"), lit(0L)).as("df_a"),
        coalesce(col("df_b"), lit(0L)).as("df_b"))
      .withColumn("skew_pm",
        expr("CAST(1000 * df_b div (df_a + df_b) AS BIGINT)"))
      .withColumn("drift", abs(col("skew_pm") - 500))
      .orderBy(col("drift").desc, col("w"))
      .limit(50)
  }

  val textDfDrift: Q = (s, d) => dfDriftOf(t(s, d, "documents"))

  val textInvertedIndex: Q = (s, d) => invertedIndexOf(t(s, d, "documents"))

  /** X13b: BM25 top-k keyword search — Robertson/Spärck-Jones BM25
    * (k1=1.2, b=0.75, the +1-smoothed idf that is always positive) for a
    * fixed conjunctive-OR query, top-50 by score. The term filter is
    * applied IN the explode projection, so only query-term hits ever
    * shuffle — at 100 TB the scored frame is |hits|, not |tokens|, and
    * the corpus-level scalars (N, avgdl) ride in as a broadcast single
    * row. Per-term scores are rounded to 6 dp and summed as DECIMAL so
    * the ≤|terms| additions are order-free and oracle-exact. */
  def bm25Of(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val terms = Seq("spark", "query", "window")
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        expr("CAST(size(filter(toks, w -> length(w) > 0)) AS BIGINT)").as("dl"),
        expr(s"filter(toks, w -> w IN $termList)").as("hits"))
    // corpus scalars: integer sums → exact double division in ONE place
    val stats = toks.agg(
      count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = toks
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("w"))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        expr("ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"))
      .withColumn("term_score",
        expr("CAST(round(idf * (tf * 2.2) / " +
          "(tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS DECIMAL(18,6))"))
    scored
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_terms"),
        sum("tf").as("n_hits"),
        round(sum("term_score").cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  val textBm25Topk: Q = (s, d) => bm25Of(t(s, d, "documents"))

  /** X13g: BM25 KNOB-TUNING census (r16 — the probe_tuning/pack_tuning
    * pattern applied to retrieval: k1 saturation × b length-norm over a
    * 3×4 grid, making the ranking knobs measured, not guessed). The
    * (doc, term, tf, dl, df) frame is built ONCE — the grid rides in as
    * a 12-row broadcast cross join, so the census never rescans the
    * corpus per knob. Per knob: the argmax doc (decimal-exact score,
    * ties to smallest doc_id), its score, and the mean candidate score
    * (DECIMAL sums, one final division). Integer-encoded knobs
    * (k1×10, b×100) keep the group keys exact. */
  def bm25TuningOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val terms = Seq("spark", "query", "window")
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        expr("CAST(size(filter(toks, w -> length(w) > 0)) AS BIGINT)").as("dl"),
        expr(s"filter(toks, w -> w IN $termList)").as("hits"))
    val stats = toks.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = toks
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("w"))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val grid = (for (k1 <- Seq(9L, 12L, 15L); b <- Seq(0L, 50L, 75L, 100L))
      yield (k1, b)).toDF("k1_x10", "b_x100")
    val perDoc = tf
      .join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(grid))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("term_score",
        expr("CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))" +
          " * (tf * (k1_x10 / 10.0 + 1.0))" +
          " / (tf + (k1_x10 / 10.0) * (1.0 - b_x100 / 100.0" +
          " + (b_x100 / 100.0) * dl / avgdl)), 6) AS DECIMAL(18,6))"))
      .groupBy("k1_x10", "b_x100", "doc_id")
      .agg(sum("term_score").as("score"))
    perDoc
      .groupBy("k1_x10", "b_x100")
      .agg(
        count(lit(1)).as("n_cand"),
        max(struct(col("score"), (-col("doc_id")).as("nd"))).as("top"),
        round(sum("score").cast("double") /
          count(lit(1)), 4).as("mean_score"))
      .select(col("k1_x10"), col("b_x100"), col("n_cand"),
        (-col("top.nd")).as("top_doc"),
        round(col("top.score").cast("double"), 4).as("top_score"),
        col("mean_score"))
      .orderBy("k1_x10", "b_x100")
  }

  val textBm25Tuning: Q = (s, d) => bm25TuningOf(t(s, d, "documents"))

  /** X13c: RAG-style CHUNKING with overlap — fixed 32-token windows at
    * stride 24 (8-token overlap), the retrieval-side twin of the packing
    * family: packing concatenates docs into training rows, chunking cuts
    * docs into overlapping retrieval units that each carry a content
    * hash for downstream dedup/embedding. Starts are an in-row
    * `sequence(0, n_tok-1, stride)` posexplode — per-document work, no
    * shuffle until the final order — and each chunk's md5 is computed
    * over the exact token slice, so chunk identity is content-defined
    * (two docs sharing a window dedup at the chunk level). */
  def chunkHashesOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> length(w) > 0)").as("toks"))
      .withColumn("n_tok", expr("CAST(size(toks) AS BIGINT)"))
      .filter(col("n_tok") > 0 && col("doc_id") < 100)
      .select(col("doc_id"), col("n_tok"), col("toks"),
        posexplode(expr("sequence(0L, n_tok - 1, 24L)")).as(Seq("chunk_idx", "start_tok")))
      .withColumn("len_tok", least(lit(32L), col("n_tok") - col("start_tok")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok"), col("len_tok"),
        md5(expr("array_join(slice(toks, CAST(start_tok + 1 AS INT), " +
          "CAST(len_tok AS INT)), ' ')")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
      .limit(400)

  val textChunkOverlap: Q = (s, d) => chunkHashesOf(t(s, d, "documents"))

  val queries: Map[String, Q] = Map(
    "text_inverted_index" -> textInvertedIndex,
    "text_df_drift" -> textDfDrift,
    "text_bm25_tuning" -> textBm25Tuning,
    "text_bm25_topk" -> textBm25Topk,
    "text_chunk_overlap" -> textChunkOverlap,
    "text_rule_filter" -> textRuleFilter,
    "text_rule_profile" -> textRuleProfile,
    "text_line_dedup" -> textLineDedup,
    "text_secret_scan" -> textSecretScan,
    "text_hygiene_report" -> textHygieneReport,
    "text_shard_manifest" -> textShardManifest,
    "text_shard_export" -> textShardExport,
    "text_shard_manifest_src" -> textShardManifestSrc,
    "text_shard_delta" -> textShardDelta,
    "text_shard_diff" -> textShardDiff,
    "text_quality_filter" -> textQualityFilter,
    "text_quality_ensemble" -> textQualityEnsemble,
    "text_curation_report" -> textCurationReport,
    "text_dataset_card" -> textDatasetCard,
    "text_token_budget" -> textTokenBudget,
    "text_source_kl" -> textSourceKl,
    "text_dsir" -> textDsir,
    "text_bpe_merges" -> textBpeMerges,
    "text_bpe_encode" -> textBpeEncode,
    "text_clean" -> textClean,
    "text_redact" -> textRedact,
    "text_redact_hash" -> textRedactHash,
    "text_tokens" -> textTokens,
    "text_quality" -> textQuality,
    "text_langid" -> textLangid,
    "text_langid_ngram" -> textLangidNgram,
    "text_pack_chunks" -> textPackChunks,
    "text_pack_tuning" -> textPackTuning,
    "text_pack_segments" -> textPackSegments,
    "text_pack_manifest" -> textPackManifest,
    "text_repetition" -> textRepetition,
    "text_mix_sources" -> textMixSources,
    "text_mix_schedule" -> textMixSchedule,
    "text_train_order" -> textTrainOrder,
    "text_order_audit" -> textOrderAudit,
    "text_epoch_budget" -> textEpochBudget,
    "text_curriculum_order" -> textCurriculumOrder,
    "text_anneal_schedule" -> textAnnealSchedule,
    "text_anneal_order" -> textAnnealOrder,
    "text_ngram_novelty" -> textNgramNovelty,
    "text_novelty_curve" -> textNoveltyCurve,
    "text_novelty_sources" -> textNoveltySources,
    "text_quality_classifier" -> textQualityClassifier,
    "text_classifier_gate" -> textClassifierGate,
    "text_fertility" -> textFertility,
    "text_logfreq" -> textLogfreq,
    "text_bigram_nll" -> textBigramNll,
    "text_ppl_buckets" -> textPplBuckets,
    "text_ppl_gate" -> textPplGate,
    "text_quality_calibration" -> textQualityCalibration,
    "text_fingerprint" -> textFingerprint,
    "text_tfidf" -> textTfidf)

  /** Shared NB-classifier oracle CTE chain (qcf/qcc/qcn/qcm): curated
    * flag → per-word class counts → smoothed log-odds model — the exact
    * twin of [[classifierScoresOf]]'s model half, reused by the
    * classifier, anneal-schedule, and release oracles. */
  private[graft] val nbOracleCte: String =
    """qcf AS (SELECT doc_id, curated, w FROM (
                        SELECT doc_id,
                               CAST(substr(source, 4) AS INT) % 3 = 0 AS curated,
                               unnest(string_split(text, ' ')) AS w
                        FROM documents)
                      WHERE length(w) > 0),
           qcc AS (SELECT w, count(*) FILTER (WHERE curated) AS cc,
                          count(*) FILTER (WHERE NOT curated) AS rc
                   FROM qcf GROUP BY 1),
           qcn AS (SELECT count(*) FILTER (WHERE curated) AS c_n,
                          count(*) FILTER (WHERE NOT curated) AS r_n,
                          count(DISTINCT w) AS v
                   FROM qcf),
           qcm AS (SELECT w, ln((cc + 1.0) / (c_n + v))
                             - ln((rc + 1.0) / (r_n + v)) AS lo
                   FROM qcc CROSS JOIN qcn)"""

  /** Shared perplexity-tier oracle chain (ppl*): bigram LM → per-doc nll
    * (unscorable at 0) → per-source ntile(3) tiers at the doc level
    * (`pplbk`) — the exact twin of [[bigramNllAgainstLm]] +
    * [[pplTiersFrom]]'s rank half, reused by the bucket readout, the tier
    * gate, and the streamed score store's verbatim gate. */
  private[graft] val pplOracleCte: String =
    """pplt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           pplb AS (SELECT doc_id, t[i] AS a, t[i+1] AS b
                    FROM (SELECT doc_id, t,
                                 unnest(generate_series(1, len(t) - 1)) AS i
                          FROM pplt WHERE len(t) >= 2)),
           pplbc AS (SELECT a, b, count(*) AS c_ab FROM pplb GROUP BY 1, 2),
           pplcc AS (SELECT a, count(*) AS c_a FROM pplb GROUP BY 1),
           pplv AS (SELECT count(DISTINCT w) AS v
                    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                    WHERE length(w) > 0),
           ppls AS (SELECT g.doc_id, count(*) AS n_bigrams,
                           round(avg(-ln((bc.c_ab + 1.0) / (cc.c_a + pplv.v))), 4) AS nll
                    FROM pplb g JOIN pplbc bc USING (a, b) JOIN pplcc cc USING (a)
                         CROSS JOIN pplv
                    GROUP BY g.doc_id),
           pplall AS (SELECT d.doc_id, d.source,
                             CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                             coalesce(s.nll, 0.0) AS nll
                      FROM documents d LEFT JOIN ppls s USING (doc_id)),
           pplbk AS (SELECT *, CAST(ntile(3) OVER (
                              PARTITION BY source ORDER BY nll, doc_id) AS INT)
                              AS bucket
                     FROM pplall)"""

  /** The train-order oracle chain (tro*) parameterized on its corpus
    * source — `from` is a table or CTE with (doc_id, source, text) —
    * so the same placement twin gates both the raw-corpus key and the
    * hygiene-survivor composition ([[graft.llm.Pipeline]]). Returns
    * CTE list + final SELECT, without the leading WITH. */
  private[graft] def trainOrderOracleFrom(from: String): String =
    s"""${trainOrderCtesFrom(from)}
         SELECT doc_id, source, epoch, CAST(shard AS BIGINT) AS shard,
                CAST(row_number() OVER (PARTITION BY epoch, shard
                                        ORDER BY hk, doc_id) AS INT) AS pos,
                n_tok
         FROM troh ORDER BY epoch, shard, pos LIMIT 300"""

  /** Just the tro* CTE chain (through `troh`, the full placed-instance
    * frame without positions) — shared by [[trainOrderOracleFrom]] and the
    * order-audit oracle, which aggregates troh instead of ranking it. */
  private[graft] def trainOrderCtesFrom(from: String): String =
    s"""tros AS (SELECT source,
                              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tok
                       FROM $from GROUP BY 1),
           trow AS (SELECT source, src_tok,
                           CAST(CASE CAST(substr(source, 4) AS INT) % 3
                                  WHEN 0 THEN 225 WHEN 1 THEN 100 ELSE 40
                                END AS BIGINT) AS weight_pct
                    FROM tros),
           trot AS (SELECT CAST(sum(src_tok) AS BIGINT) AS tot_tok,
                           CAST(sum(weight_pct) AS BIGINT) AS tot_w
                    FROM trow),
           trosch AS (SELECT source, src_tok,
                             least(CAST((200 * tot_tok * weight_pct) // (100 * tot_w)
                                        AS BIGINT), 4 * src_tok) AS scheduled_tok
                      FROM trow CROSS JOIN trot),
           trob AS (SELECT doc_id, source,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                                AS BIGINT) AS hk
                    FROM $from),
           troc AS (SELECT b.doc_id, b.source, b.n_tok, b.hk,
                           CAST(s.scheduled_tok // s.src_tok AS BIGINT) AS full_epochs,
                           s.scheduled_tok % s.src_tok AS rem_tok,
                           CAST(coalesce(sum(b.n_tok) OVER (
                                  PARTITION BY b.source ORDER BY b.hk, b.doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                                AS BIGINT) AS cum_before
                    FROM trob b JOIN trosch s USING (source)),
           troe AS (SELECT doc_id, source, n_tok, hk,
                           full_epochs + CASE WHEN cum_before < rem_tok
                                              THEN 1 ELSE 0 END AS n_rep
                    FROM troc),
           troi AS (SELECT doc_id, source, n_tok, hk,
                           CAST(unnest(range(n_rep)) AS BIGINT) AS epoch
                    FROM troe WHERE n_rep > 0),
           troh AS (SELECT doc_id, source, n_tok, hk, epoch,
                           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                  || CAST(epoch AS VARCHAR)), 1, 15) AS BIGINT) % 8
                             AS shard
                    FROM troi)"""

  /** Shared anneal-schedule oracle CTE chain (anps…anr, needs
    * [[nbOracleCte]] ahead of it): per-source token/doc counts →
    * classifier decisions → pass counts → two-phase quotas at the
    * default 160/40/4 knobs — the exact twin of [[annealScheduleOf]],
    * reused by the anneal-schedule and anneal-order oracles. */
  private[graft] val annealOracleCte: String =
    """anps AS (SELECT source,
                           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok,
                           count(*) AS n_docs
                    FROM documents GROUP BY 1),
           ansc AS (SELECT f.doc_id,
                           round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                                 / count(*), 4) > 0 AS selected
                    FROM qcf f JOIN qcm m USING (w) GROUP BY f.doc_id),
           ansel AS (SELECT d.source, count(*) AS n_sel
                     FROM ansc sc JOIN documents d ON sc.doc_id = d.doc_id
                     WHERE sc.selected GROUP BY 1),
           anw AS (SELECT p.source, p.n_tok, p.n_docs,
                          coalesce(n_sel, 0) AS n_sel,
                          CAST(CASE CAST(substr(p.source, 4) AS INT) % 3
                                 WHEN 0 THEN 225 WHEN 1 THEN 100 ELSE 40
                               END AS BIGINT) AS w_bulk,
                          CAST((1000 * coalesce(n_sel, 0)) // p.n_docs AS BIGINT)
                            AS sel_permille
                   FROM anps p LEFT JOIN ansel USING (source)),
           ant AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot_tok,
                          CAST(sum(w_bulk) AS BIGINT) AS tot_wb,
                          CAST(sum(sel_permille) AS BIGINT) AS tot_wa
                   FROM anw),
           anr AS (SELECT source, n_tok, n_docs, n_sel, sel_permille,
                          least(CAST((160 * tot_tok * w_bulk) // (100 * tot_wb)
                                     AS BIGINT), 4 * n_tok) AS bulk_tok,
                          CASE WHEN tot_wa > 0 THEN
                            least(CAST((40 * tot_tok * sel_permille) // (100 * tot_wa)
                                       AS BIGINT), 4 * n_tok)
                          ELSE CAST(0 AS BIGINT) END AS anneal_tok
                   FROM anw CROSS JOIN ant)"""

  /** Shared BPE oracle CTE chain: word-frequency table → 3 rounds of
    * (weighted pair counts → argmax merge → double-replace application),
    * with the original word `w` carried through so the encode oracle can
    * join documents back to the trained vocabulary (e4). */
  private val bpeOracleCte: String =
    """w0 AS (SELECT w, count(*) AS cnt
                  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                  WHERE length(w) > 0 GROUP BY 1),
           e1 AS (SELECT w, chr(31) || regexp_replace(w, '(.)', '\1' || chr(31), 'g') AS enc,
                         cnt
                  FROM w0),
           s1 AS (SELECT w, enc, list_filter(string_split(enc, chr(31)), x -> x <> '') AS syms,
                         cnt
                  FROM e1),
           p1 AS (SELECT syms[i] AS l, syms[i + 1] AS r, sum(cnt) AS c
                  FROM (SELECT syms, cnt, unnest(generate_series(1, len(syms) - 1)) AS i
                        FROM s1 WHERE len(syms) >= 2)
                  GROUP BY 1, 2),
           t1 AS (SELECT l, r, c FROM p1 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
           e2 AS (SELECT w, replace(replace(enc,
                    chr(31) || t1.l || chr(31) || t1.r || chr(31),
                    chr(31) || t1.l || t1.r || chr(31)),
                    chr(31) || t1.l || chr(31) || t1.r || chr(31),
                    chr(31) || t1.l || t1.r || chr(31)) AS enc,
                         cnt
                  FROM s1 CROSS JOIN t1),
           s2 AS (SELECT w, enc, list_filter(string_split(enc, chr(31)), x -> x <> '') AS syms,
                         cnt
                  FROM e2),
           n1 AS (SELECT sum(len(syms) * cnt) AS ns FROM s2),
           p2 AS (SELECT syms[i] AS l, syms[i + 1] AS r, sum(cnt) AS c
                  FROM (SELECT syms, cnt, unnest(generate_series(1, len(syms) - 1)) AS i
                        FROM s2 WHERE len(syms) >= 2)
                  GROUP BY 1, 2),
           t2 AS (SELECT l, r, c FROM p2 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
           e3 AS (SELECT w, replace(replace(enc,
                    chr(31) || t2.l || chr(31) || t2.r || chr(31),
                    chr(31) || t2.l || t2.r || chr(31)),
                    chr(31) || t2.l || chr(31) || t2.r || chr(31),
                    chr(31) || t2.l || t2.r || chr(31)) AS enc,
                         cnt
                  FROM s2 CROSS JOIN t2),
           s3 AS (SELECT w, enc, list_filter(string_split(enc, chr(31)), x -> x <> '') AS syms,
                         cnt
                  FROM e3),
           n2 AS (SELECT sum(len(syms) * cnt) AS ns FROM s3),
           p3 AS (SELECT syms[i] AS l, syms[i + 1] AS r, sum(cnt) AS c
                  FROM (SELECT syms, cnt, unnest(generate_series(1, len(syms) - 1)) AS i
                        FROM s3 WHERE len(syms) >= 2)
                  GROUP BY 1, 2),
           t3 AS (SELECT l, r, c FROM p3 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
           e4 AS (SELECT w, replace(replace(enc,
                    chr(31) || t3.l || chr(31) || t3.r || chr(31),
                    chr(31) || t3.l || t3.r || chr(31)),
                    chr(31) || t3.l || chr(31) || t3.r || chr(31),
                    chr(31) || t3.l || t3.r || chr(31)) AS enc,
                         cnt
                  FROM s3 CROSS JOIN t3),
           n3 AS (SELECT sum(len(list_filter(string_split(enc, chr(31)), x -> x <> ''))
                             * cnt) AS ns FROM e4)"""

  /** The rule-decoration + rule-table replay as oracle CTEs (ends in `rr`
    * carrying per-doc verdicts + source) — shared verbatim by the filter
    * gate, the profile gate, its jx twins, and the ST18 streamed store so
    * every consumer of the rule layer is held to the identical contract.
    * Prefix rw/rl/rx/rt/rm/rr. */
  private[llm] val ruleCtes: String = ruleCtesOn("documents")

  /** [[ruleCtes]] over ANY (doc_id, source, text) relation — the
    * pipeline's rule gate replays the chain on the HYGIENIC corpus slice
    * instead of the raw table. */
  private[llm] def ruleCtesOn(src: String): String =
    s"""rw AS (SELECT doc_id, source, string_split(text, ' ') AS words0
              FROM $src),
       rl AS (SELECT doc_id, source, words0,
                     list_transform(range(0, ((len(words0)-1)//10)+1), i ->
                       array_to_string(words0[(i*10+1):(i*10+10)], ' ')) AS lines0
              FROM rw),
       rl1 AS (SELECT doc_id, source, words0,
                      CASE WHEN doc_id % 11 = 0
                           THEN list_transform(lines0, l -> '- ' || l)
                           ELSE lines0 END AS lines1
               FROM rl),
       rl2 AS (SELECT doc_id, source, words0,
                      CASE WHEN doc_id % 13 = 0
                           THEN list_transform(lines1, l -> l || ' ...')
                           ELSE lines1 END AS lines2
               FROM rl1),
       rx AS (SELECT doc_id, source,
                     lines2
                     || CASE WHEN doc_id % 7 = 0
                             THEN [rtrim(repeat('# ', greatest(1, len(words0)//8)))]
                             ELSE [] END
                     || CASE WHEN doc_id % 17 = 0
                             THEN [rtrim(repeat(
                               'pneumonoultramicroscopicsilicovolcanoconiosis ',
                               greatest(1, len(words0)//3)))]
                             ELSE [] END
                     || CASE WHEN doc_id % 19 = 0
                             THEN [rtrim(repeat('12345 ',
                               greatest(1, len(words0)//3)))]
                             ELSE [] END AS rlines
              FROM rl2),
       rt AS (SELECT doc_id, source, rlines,
                     array_to_string(rlines, chr(10)) AS rtext
              FROM rx),
       rm AS (SELECT doc_id, source,
                     CAST(len(string_split(replace(rtext, chr(10), ' '), ' '))
                          AS BIGINT) AS n_words,
                     CAST(len(rlines) AS BIGINT) AS n_lines,
                     CAST(length(replace(replace(rtext, chr(10), ''), ' ', ''))
                          AS BIGINT) AS n_ns,
                     CAST(length(rtext) - length(replace(rtext, '#', ''))
                          AS BIGINT) AS n_hash,
                     CAST((length(rtext) - length(replace(rtext, '...', ''))) // 3
                          AS BIGINT) AS n_dots,
                     CAST(len(list_filter(rlines, l -> l LIKE '- %'))
                          AS BIGINT) AS n_bullet,
                     CAST(len(list_filter(rlines, l -> l LIKE '%...'))
                          AS BIGINT) AS n_eline,
                     CAST(len(list_filter(
                       string_split(replace(rtext, chr(10), ' '), ' '),
                       w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
                     CAST(len(list_distinct(list_filter(
                       string_split(replace(rtext, chr(10), ' '), ' '),
                       w -> w IN ('the','a','of','and','to')))) AS BIGINT) AS n_stopd
              FROM rt),
       rr AS (SELECT doc_id, source, n_words, n_lines,
                     (n_words BETWEEN 50 AND 100000) AS r_wc,
                     (3*n_words <= n_ns AND n_ns <= 10*n_words) AS r_mwl,
                     (10*(n_hash + n_dots) < n_words) AS r_sym,
                     (10*n_bullet < 9*n_lines) AS r_bullet,
                     (10*n_eline < 3*n_lines) AS r_ellipsis,
                     (5*n_alpha >= 4*n_words) AS r_alpha,
                     (n_stopd >= 2) AS r_stop
              FROM rm)"""

  /** The profile aggregation over `rr` — shared by text_rule_profile, its
    * jx twin, and the ST18 store gate. */
  private[llm] val ruleProfileSql: String =
    s"""WITH $ruleCtes
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(NOT r_wc AS INT)) AS BIGINT) AS f_wc,
               CAST(sum(CAST(NOT r_mwl AS INT)) AS BIGINT) AS f_mwl,
               CAST(sum(CAST(NOT r_sym AS INT)) AS BIGINT) AS f_sym,
               CAST(sum(CAST(NOT r_bullet AS INT)) AS BIGINT) AS f_bullet,
               CAST(sum(CAST(NOT r_ellipsis AS INT)) AS BIGINT) AS f_ellipsis,
               CAST(sum(CAST(NOT r_alpha AS INT)) AS BIGINT) AS f_alpha,
               CAST(sum(CAST(NOT r_stop AS INT)) AS BIGINT) AS f_stop,
               CAST(sum(CAST((r_wc AND r_mwl AND r_sym AND r_bullet
                              AND r_ellipsis AND r_alpha AND r_stop) AS INT))
                    AS BIGINT) AS n_keep
        FROM rr GROUP BY source ORDER BY source"""

  val oracle: Map[String, String] = Map(
    "text_hygiene_report" ->
      s"""WITH $ruleCtes,
           hrr AS (SELECT source,
                          CAST(count(*) AS BIGINT) AS n_docs,
                          CAST(sum(CAST((r_wc AND r_mwl AND r_sym AND r_bullet
                                         AND r_ellipsis AND r_alpha AND r_stop)
                                        AS INT)) AS BIGINT) AS n_keep
                   FROM rr GROUP BY source),
           hrule AS (SELECT source, n_docs,
                            CAST((1000 * n_keep) // n_docs AS BIGINT)
                              AS rule_keep_pm
                     FROM hrr),
           hlw AS (SELECT doc_id, source, string_split(text, ' ') AS words0
                   FROM documents),
           hld AS (SELECT doc_id, source,
                          ['subscribe to ' || source || ' newsletter today'] ||
                          list_transform(range(0, ((len(words0)-1)//10)+1), i ->
                            array_to_string(words0[(i*10+1):(i*10+10)], ' ')) ||
                          ['all rights reserved worldwide'] AS dlines
                   FROM hlw),
           hlx AS (SELECT doc_id, source, unnest(dlines) AS line FROM hld),
           hlf AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS ldf
                   FROM hlx GROUP BY 1),
           hlk AS (SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n_kept
                   FROM hlx x JOIN hlf ON hlf.lh = md5(x.line)
                   WHERE hlf.ldf < 5 GROUP BY x.doc_id),
           hlc AS (SELECT d.source,
                          CAST(sum(len(d.dlines)) AS BIGINT) AS nl,
                          CAST(sum(k.n_kept) AS BIGINT) AS nk
                   FROM hld d JOIN hlk k USING (doc_id) GROUP BY d.source),
           hline AS (SELECT source,
                            CAST((1000 * (nl - nk)) // nl AS BIGINT)
                              AS boiler_rm_pm
                     FROM hlc),
           hst AS (SELECT doc_id, source,
                          text || CASE WHEN doc_id % 7 = 3
                                       THEN ' token_'
                                            || md5(CAST(doc_id AS VARCHAR))
                                       ELSE '' END
                               || ' ' || repeat('a', 32) AS sec_text
                   FROM documents),
           hsk AS (SELECT doc_id, source,
                          CAST(len(list_filter(string_split(sec_text, ' '), tk ->
                            length(tk) >= 20
                            AND len(list_distinct(list_transform(
                                  range(1, length(tk)+1),
                                  i -> substr(tk, CAST(i AS INT), 1)))) >= 12
                            AND regexp_matches(tk, '[0-9]')
                            AND regexp_matches(tk, '[a-z]'))) AS BIGINT)
                            AS n_secrets
                   FROM hst),
           hsec AS (SELECT source,
                           CAST(sum(CASE WHEN n_secrets > 0 THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_secret_docs
                    FROM hsk GROUP BY source)
         SELECT r.source, r.n_docs, r.rule_keep_pm, l.boiler_rm_pm,
                s.n_secret_docs
         FROM hrule r JOIN hline l USING (source) JOIN hsec s USING (source)
         ORDER BY r.source""",
    "text_line_dedup" -> lineDedupOracleFrom("documents"),
    "text_secret_scan" ->
      """WITH st AS (SELECT doc_id,
                  text || CASE WHEN doc_id % 7 = 3
                               THEN ' token_' || md5(CAST(doc_id AS VARCHAR))
                               ELSE '' END
                       || ' ' || repeat('a', 32) AS sec_text
           FROM documents),
           sk AS (SELECT doc_id, string_split(sec_text, ' ') AS toks FROM st)
         SELECT doc_id,
                CAST(len(list_filter(toks, tk -> length(tk) >= 20))
                     AS BIGINT) AS n_candidates,
                CAST(len(list_filter(toks, tk ->
                  length(tk) >= 20
                  AND len(list_distinct(list_transform(
                        range(1, length(tk)+1),
                        i -> substr(tk, CAST(i AS INT), 1)))) >= 12
                  AND regexp_matches(tk, '[0-9]')
                  AND regexp_matches(tk, '[a-z]'))) AS BIGINT) AS n_secrets,
                md5(array_to_string(list_transform(toks, tk ->
                  CASE WHEN length(tk) >= 20
                            AND len(list_distinct(list_transform(
                                  range(1, length(tk)+1),
                                  i -> substr(tk, CAST(i AS INT), 1)))) >= 12
                            AND regexp_matches(tk, '[0-9]')
                            AND regexp_matches(tk, '[a-z]')
                       THEN '<SECRET>' ELSE tk END), ' ')) AS scrub_md5
         FROM sk ORDER BY doc_id LIMIT 300""",
    "text_rule_filter" ->
      s"""WITH $ruleCtes
          SELECT doc_id, n_words, n_lines, r_wc, r_mwl, r_sym, r_bullet,
                 r_ellipsis, r_alpha, r_stop,
                 (r_wc AND r_mwl AND r_sym AND r_bullet AND r_ellipsis
                  AND r_alpha AND r_stop) AS keep
          FROM rr ORDER BY doc_id LIMIT 300""",
    "text_rule_profile" -> ruleProfileSql,
    "text_shard_manifest" ->
      """WITH d AS (SELECT doc_id, n_chars,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 16 AS shard,
                  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h,
                  len(string_split(text, ' ')) AS n_toks
           FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                bit_xor(content_h) AS content_fp
         FROM d GROUP BY shard ORDER BY shard""",
    // the delta key merges two independent day-manifests; the oracle is
    // the FULL-corpus manifest — the gate IS the algebra claim
    "text_shard_delta" ->
      """WITH d AS (SELECT doc_id, n_chars,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 16 AS shard,
                  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h,
                  len(string_split(text, ' ')) AS n_toks
           FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                bit_xor(content_h) AS content_fp
         FROM d GROUP BY shard ORDER BY shard""",
    // the diff key subtracts the even-slice manifest from the full one;
    // the oracle is the ODD slice's manifest — diff(whole, part) must
    // recover exactly the complement
    "text_shard_diff" ->
      """WITH d AS (SELECT doc_id, n_chars,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 16 AS shard,
                  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h,
                  len(string_split(text, ' ')) AS n_toks
           FROM documents WHERE doc_id % 2 = 1)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                bit_xor(content_h) AS content_fp
         FROM d GROUP BY shard ORDER BY shard""",
    // the export key re-derives the SAME manifest from the written
    // files — one oracle pins both the query and the round-trip
    "text_shard_export" ->
      """WITH d AS (SELECT doc_id, n_chars,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 16 AS shard,
                  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h,
                  len(string_split(text, ' ')) AS n_toks
           FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                bit_xor(content_h) AS content_fp
         FROM d GROUP BY shard ORDER BY shard""",
    "text_shard_manifest_src" ->
      """WITH d AS (SELECT doc_id, n_chars, source,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 16 AS shard,
                  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h,
                  len(string_split(text, ' ')) AS n_toks
           FROM documents)
         SELECT shard, source, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                bit_xor(content_h) AS content_fp
         FROM d GROUP BY ROLLUP (shard, source)
         ORDER BY shard NULLS FIRST, source NULLS FIRST""",
    // curation report: the quality-monitor chain joined to the
    // near-dup drop list (both replayed), rolled up per source
    "text_curation_report" ->
      s"""WITH RECURSIVE ${Dedup.minhashCteFrom("documents")},
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           dropl AS (SELECT id AS doc_id FROM (
             SELECT id, min(lbl) AS canonical FROM reach GROUP BY id)
             WHERE id <> canonical),
           q AS (SELECT doc_id, source, n_chars,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                        (CASE WHEN n_chars < 100 THEN 0.2 ELSE 1.0 END) *
                        (CASE WHEN n_stop = 0 THEN 0.5 ELSE 1.0 END) AS qv
                 FROM (SELECT doc_id, source, n_chars, text,
                              len(list_filter(string_split(text, ' '),
                                w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
                       FROM documents)),
           base AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                           round(CAST(sum(CAST(qv AS DECIMAL(28,12))) AS DOUBLE)
                                 / count(*), 4) AS mean_quality
                    FROM q GROUP BY source),
           dr AS (SELECT d.source, count(*) AS n_near_dup
                  FROM documents d JOIN dropl USING (doc_id)
                  GROUP BY d.source)
         SELECT b.source, b.n_docs, b.n_tokens, b.mean_quality,
                COALESCE(dr.n_near_dup, 0) AS n_near_dup,
                round(CAST(COALESCE(dr.n_near_dup, 0) AS DOUBLE) / b.n_docs, 4)
                  AS dup_rate
         FROM base b LEFT JOIN dr ON dr.source = b.source
         ORDER BY b.source""",
    "text_dataset_card" ->
      s"""WITH RECURSIVE ${Dedup.minhashCteFrom("documents")},
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           dropl AS (SELECT id AS doc_id FROM (
             SELECT id, min(lbl) AS canonical FROM reach GROUP BY id)
             WHERE id <> canonical),
           q AS (SELECT doc_id, source, n_chars,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                        (CASE WHEN n_chars < 100 THEN 0.2 ELSE 1.0 END) *
                        (CASE WHEN n_stop = 0 THEN 0.5 ELSE 1.0 END) AS qv
                 FROM (SELECT doc_id, source, n_chars, text,
                              len(list_filter(string_split(text, ' '),
                                w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
                       FROM documents)),
           base AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                           round(CAST(sum(CAST(qv AS DECIMAL(28,12))) AS DOUBLE)
                                 / count(*), 4) AS mean_quality
                    FROM q GROUP BY source),
           dr AS (SELECT d.source, count(*) AS n_near_dup
                  FROM documents d JOIN dropl USING (doc_id)
                  GROUP BY d.source),
           lpr AS (SELECT source,
                          CASE WHEN hits_en >= hits_es AND hits_en >= hits_de
                                    AND hits_en > 0 THEN 'en'
                               WHEN hits_es >= hits_de AND hits_es > 0 THEN 'es'
                               WHEN hits_de > 0 THEN 'de'
                               ELSE 'und' END AS predicted
                   FROM (SELECT source,
                                len(list_filter(string_split(text, ' '),
                                  w -> w IN ('the', 'a', 'of'))) AS hits_en,
                                len(list_filter(string_split(text, ' '),
                                  w -> w IN ('el', 'la', 'de'))) AS hits_es,
                                len(list_filter(string_split(text, ' '),
                                  w -> w IN ('der', 'die', 'das'))) AS hits_de
                         FROM documents)),
           lpc AS (SELECT source, predicted, count(*) AS n
                   FROM lpr GROUP BY 1, 2),
           ltop AS (SELECT source, predicted AS top_lang, n AS n_top FROM (
                      SELECT source, predicted, n,
                             row_number() OVER (PARTITION BY source
                               ORDER BY n DESC, predicted ASC) AS rn
                      FROM lpc) WHERE rn = 1),
           bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 10),
           ovc AS (SELECT sh.doc_id, count(*) AS n_overlap
                   FROM sh JOIN bench USING (h)
                   WHERE sh.doc_id >= 10 GROUP BY 1),
           ct AS (SELECT d.source, count(*) AS n_contam
                  FROM ovc o JOIN documents d USING (doc_id)
                  WHERE o.n_overlap >= 3 GROUP BY 1),
           $nbOracleCte,
           dcsc AS (SELECT f.doc_id,
                           round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                                 / count(*), 4) > 0 AS selected
                    FROM qcf f JOIN qcm m USING (w) GROUP BY f.doc_id),
           dcsel AS (SELECT d.source, count(*) AS n_sel
                     FROM dcsc sc JOIN documents d ON sc.doc_id = d.doc_id
                     WHERE sc.selected GROUP BY 1)
         SELECT b.source, b.n_docs, b.n_tokens, b.mean_quality,
                COALESCE(dr.n_near_dup, 0) AS n_near_dup,
                round(CAST(COALESCE(dr.n_near_dup, 0) AS DOUBLE) / b.n_docs, 4)
                  AS dup_rate,
                lt.top_lang,
                round(CAST(lt.n_top AS DOUBLE) / b.n_docs, 4) AS top_lang_share,
                COALESCE(ct.n_contam, 0) AS n_contam,
                CAST((1000 * COALESCE(se.n_sel, 0)) // b.n_docs AS BIGINT)
                  AS sel_permille
         FROM base b
         LEFT JOIN dr ON dr.source = b.source
         LEFT JOIN ltop lt ON lt.source = b.source
         LEFT JOIN ct ON ct.source = b.source
         LEFT JOIN dcsel se ON se.source = b.source
         ORDER BY b.source""",
    "text_quality_filter" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents),
           t2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
           tot AS (SELECT count(*) AS n FROM t2),
           freq AS (SELECT w, count(*) AS wc FROM t2 GROUP BY 1),
           nll AS (SELECT t2.doc_id, d.source,
                          round(-avg(ln(wc * 1.0 / (SELECT n FROM tot))), 4) AS nll
                   FROM t2 JOIN freq USING (w)
                   JOIN documents d ON d.doc_id = t2.doc_id
                   GROUP BY 1, 2),
           r AS (SELECT *,
                        row_number() OVER (PARTITION BY source
                                           ORDER BY nll ASC, doc_id ASC) AS rn,
                        count(*) OVER (PARTITION BY source) AS n_src
                 FROM nll)
         SELECT source, doc_id, nll FROM r
         WHERE rn * 2 <= n_src ORDER BY source, doc_id""",
    "text_quality_ensemble" ->
      s"""WITH $nbOracleCte,
           nbsel AS (SELECT f.doc_id,
                            round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                                  / count(*), 4) > 0 AS pass_nb
                     FROM qcf f JOIN qcm m USING (w) GROUP BY f.doc_id),
           rpb AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           rpt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                          CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist
                   FROM rpb),
           rpg AS (SELECT doc_id,
                          unnest([toks[i] || ' ' || toks[i+1]
                                  for i in generate_series(1, len(toks) - 1)]) AS g
                   FROM rpb WHERE len(toks) >= 2),
           rpgc AS (SELECT doc_id, g, count(*) AS c FROM rpg GROUP BY 1, 2),
           rpagg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg_n,
                            CAST(sum(c) AS BIGINT) AS n_bg
                     FROM rpgc GROUP BY 1),
           rppass AS (SELECT rpt.doc_id,
                             round(1.0 - n_dist * 1.0 / n_tok, 4) <= 0.5
                             AND round(top_bg_n * 1.0 / n_bg, 4) <= 0.05 AS pass_rep
                      FROM rpt JOIN rpagg ON rpt.doc_id = rpagg.doc_id),
           qtk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
           qt2 AS (SELECT doc_id, w FROM qtk WHERE length(w) > 0),
           qtot AS (SELECT count(*) AS n FROM qt2),
           qfreq AS (SELECT w, count(*) AS wc FROM qt2 GROUP BY 1),
           qnll AS (SELECT qt2.doc_id, d.source,
                           round(-avg(ln(wc * 1.0 / (SELECT n FROM qtot))), 4) AS nll
                    FROM qt2 JOIN qfreq USING (w)
                    JOIN documents d ON d.doc_id = qt2.doc_id
                    GROUP BY 1, 2),
           qr AS (SELECT *,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY nll ASC, doc_id ASC) AS rn,
                         count(*) OVER (PARTITION BY source) AS n_src
                  FROM qnll),
           qkeep AS (SELECT doc_id FROM qr WHERE rn * 2 <= n_src)
         SELECT d.doc_id, d.source,
                COALESCE(nb.pass_nb, false) AS pass_nb,
                COALESCE(rp.pass_rep, false) AS pass_rep,
                (qk.doc_id IS NOT NULL) AS pass_nll,
                CAST(CAST(COALESCE(nb.pass_nb, false) AS INT)
                     + CAST(COALESCE(rp.pass_rep, false) AS INT)
                     + CAST(qk.doc_id IS NOT NULL AS INT) AS INT) AS n_pass,
                (CAST(COALESCE(nb.pass_nb, false) AS INT)
                 + CAST(COALESCE(rp.pass_rep, false) AS INT)
                 + CAST(qk.doc_id IS NOT NULL AS INT)) >= 2 AS keep
         FROM documents d
         LEFT JOIN nbsel nb ON nb.doc_id = d.doc_id
         LEFT JOIN rppass rp ON rp.doc_id = d.doc_id
         LEFT JOIN qkeep qk ON qk.doc_id = d.doc_id
         ORDER BY d.doc_id LIMIT 300""",
    "text_token_budget" ->
      """WITH base AS (SELECT doc_id, source, doc_id % 4 AS shard,
                              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                              md5(CAST(doc_id AS VARCHAR)) AS ord
                       FROM documents),
           c AS (SELECT *,
                        CAST(sum(n_tok) OVER (PARTITION BY source, shard
                                              ORDER BY ord, doc_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS BIGINT) AS cum_tok
                 FROM base)
         SELECT source, shard, doc_id, n_tok, cum_tok
         FROM c WHERE cum_tok <= 300 ORDER BY source, doc_id""",
    "text_bpe_merges" ->
      s"""WITH $bpeOracleCte
         SELECT * FROM (
           SELECT 1 AS step, t1.l AS left_sym, t1.r AS right_sym,
                  CAST(t1.c AS BIGINT) AS n_pair, CAST(n1.ns AS BIGINT) AS n_symbols
           FROM t1 CROSS JOIN n1
           UNION ALL
           SELECT 2, t2.l, t2.r, CAST(t2.c AS BIGINT), CAST(n2.ns AS BIGINT)
           FROM t2 CROSS JOIN n2
           UNION ALL
           SELECT 3, t3.l, t3.r, CAST(t3.c AS BIGINT), CAST(n3.ns AS BIGINT)
           FROM t3 CROSS JOIN n3)
         ORDER BY step""",
    "text_bpe_encode" ->
      s"""WITH $bpeOracleCte,
           vf AS (SELECT w, list_filter(string_split(enc, chr(31)), x -> x <> '') AS syms
                  FROM e4),
           dt AS (SELECT doc_id, i AS pos, t[i] AS w
                  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                        FROM (SELECT doc_id, string_split(text, ' ') AS t
                              FROM documents WHERE doc_id < 20))
                  WHERE length(t[i]) > 0),
           jt AS (SELECT d.doc_id, d.pos, v.syms FROM dt d JOIN vf v USING (w))
         SELECT doc_id, count(*) AS n_words,
                CAST(sum(len(syms)) AS BIGINT) AS n_bpe,
                md5(array_to_string(flatten(list(syms ORDER BY pos)), ' ')) AS bpe_md5
         FROM jt GROUP BY doc_id ORDER BY doc_id""",
    "text_fertility" ->
      s"""WITH $bpeOracleCte,
           ftv AS (SELECT w, list_filter(string_split(enc, chr(31)), x -> x <> '') AS syms
                   FROM e4),
           ftw AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
           ftj AS (SELECT f.lang, f.w, v.syms
                   FROM (SELECT * FROM ftw WHERE length(w) > 0) f
                   JOIN ftv v USING (w))
         SELECT lang, count(*) AS n_words,
                CAST(sum(len(syms)) AS BIGINT) AS n_bpe,
                CAST(sum(length(w)) AS BIGINT) AS n_wchars,
                round(sum(len(syms)) * 1.0 / count(*), 4) AS fertility,
                round(sum(length(w)) * 1.0 / sum(len(syms)), 4) AS chars_per_tok
         FROM ftj GROUP BY lang ORDER BY lang""",
    "text_source_kl" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
                       FROM documents),
           t2 AS (SELECT source, w FROM toks WHERE length(w) > 0),
           st AS (SELECT source, count(*) AS n_src FROM t2 GROUP BY 1),
           sf AS (SELECT source, w, count(*) AS c_sw FROM t2 GROUP BY 1, 2),
           ct AS (SELECT count(*) AS n_all FROM t2),
           cf AS (SELECT w, count(*) AS c_w FROM t2 GROUP BY 1)
         SELECT source, CAST(max(n_src) AS BIGINT) AS n_tok,
                round(sum((c_sw * 1.0 / n_src) *
                          ln((c_sw * 1.0 * n_all) / (n_src * 1.0 * c_w))), 4) + 0.0 AS kl
         FROM sf JOIN st USING (source) JOIN cf USING (w) CROSS JOIN ct
         GROUP BY source ORDER BY source""",
    "text_dsir" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                       FROM documents),
           f AS (SELECT doc_id, lang,
                        CAST('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 15)
                             AS BIGINT) % 128 AS b
                 FROM (SELECT doc_id, lang, t,
                              unnest(generate_series(1, len(t) - 1)) AS i
                       FROM toks WHERE len(t) >= 2)),
           rc AS (SELECT b, count(*) AS rc FROM f GROUP BY 1),
           tc AS (SELECT b, count(*) AS tc FROM f WHERE lang = 'en' GROUP BY 1),
           tot AS (SELECT count(*) AS r_n,
                          count(*) FILTER (WHERE lang = 'en') AS t_n FROM f),
           lr AS (SELECT rc.b,
                         ln((COALESCE(tc.tc, 0) + 1.0) / (tot.t_n + 128.0)) -
                         ln((rc.rc + 1.0) / (tot.r_n + 128.0)) AS lr
                  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot)
         SELECT f.doc_id, count(*) AS n_feat,
                round(CAST(sum(CAST(lr.lr AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*), 4) + 0.0 AS dsir_w,
                round(CAST(sum(CAST(lr.lr AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*), 4) > 0 AS selected
         FROM f JOIN lr ON f.b = lr.b
         GROUP BY f.doc_id ORDER BY f.doc_id LIMIT 300""",
    "text_clean" ->
      """WITH m AS (
           SELECT doc_id,
                  ' ' || chr(9) || text || chr(13) || chr(10)
                      || chr(1) || chr(1)
                      || CAST(doc_id AS VARCHAR)
                      || chr(9) || chr(9) || ' ' || lang || '  tail   ' AS mess
           FROM documents)
         SELECT doc_id,
                CAST(length(mess) AS INT) AS n_raw,
                CAST(length(trim(regexp_replace(mess,
                  '[ \t\n\r\x01]+', ' ', 'g'))) AS INT) AS n_clean,
                md5(trim(regexp_replace(mess,
                  '[ \t\n\r\x01]+', ' ', 'g'))) AS clean_md5
         FROM m ORDER BY doc_id LIMIT 300""",
    "text_redact" ->
      """WITH p AS (
           SELECT doc_id,
                  text || ' Contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' via https://host' || CAST(doc_id % 97 AS VARCHAR)
                       || '.example.org/path?id='
                       || CAST(doc_id * 7919 AS VARCHAR) AS pii
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(pii,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
                  AS n_emails,
                CAST(len(regexp_extract_all(pii, 'https?://[^ ]+')) AS INT)
                  AS n_urls,
                CAST(len(regexp_extract_all(pii, '\+1-555-[0-9]{4}')) AS INT)
                  AS n_phones,
                md5(regexp_replace(regexp_replace(regexp_replace(pii,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  'https?://[^ ]+', '<URL>', 'g'),
                  '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS red_md5
         FROM p ORDER BY doc_id LIMIT 300""",
    "text_redact_hash" ->
      """WITH p AS (
           SELECT doc_id,
                  text || ' Contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' via https://host' || CAST(doc_id % 97 AS VARCHAR)
                       || '.example.org/path?id='
                       || CAST(doc_id * 7919 AS VARCHAR) AS pii
           FROM documents)
         SELECT doc_id,
                array_to_string(list_transform(regexp_extract_all(pii,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'),
                  e -> substr(md5(e), 1, 8)), ',') AS email_keys,
                array_to_string(list_transform(regexp_extract_all(pii,
                  '\+1-555-[0-9]{4}'),
                  e -> substr(md5(e), 1, 8)), ',') AS phone_keys
         FROM p ORDER BY doc_id LIMIT 300""",
    "text_tokens" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|\S')) AS INT) AS n_re,
                CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct
         FROM documents ORDER BY doc_id LIMIT 300""",
    "text_quality" ->
      """SELECT doc_id, n_chars,
                CAST(len(toks) AS INT) AS n_toks,
                round(n_chars * 1.0 / len(toks), 4) AS avg_tok_len,
                round(n_stop * 1.0 / len(toks), 4) AS stop_ratio,
                round((CASE WHEN n_chars < 100 THEN 0.2 ELSE 1.0 END) *
                      (CASE WHEN n_stop = 0 THEN 0.5 ELSE 1.0 END), 4) AS quality
         FROM (SELECT doc_id, n_chars, toks,
                      len(list_filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
               FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents))
         ORDER BY doc_id LIMIT 300""",
    "text_pack_chunks" ->
      """WITH base AS (SELECT doc_id, doc_id % 8 AS shard,
                              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                       FROM documents),
           packed AS (SELECT doc_id, shard, n_tok,
                             CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                            AND 1 PRECEDING), 0)
                                  AS BIGINT) AS cum_before
                      FROM base)
         SELECT doc_id, shard, n_tok,
                CAST(cum_before // 2048 AS BIGINT) AS chunk_id,
                cum_before % 2048 AS chunk_offset
         FROM packed ORDER BY doc_id LIMIT 300""",
    "text_pack_manifest" ->
      """WITH base AS (SELECT doc_id, doc_id % 8 AS shard,
                              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                              CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h
                       FROM documents),
           packed AS (SELECT doc_id, shard, n_tok, content_h,
                             CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                            AND 1 PRECEDING), 0)
                                  AS BIGINT) AS cum_before
                      FROM base)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(max((cum_before + n_tok - 1) // 2048) + 1 AS BIGINT) AS n_chunks,
                CAST(CAST(sum(n_tok) AS BIGINT)
                     - (max((cum_before + n_tok - 1) // 2048)) * 2048 AS BIGINT) AS last_fill,
                bit_xor(content_h) AS content_fp
         FROM packed GROUP BY shard ORDER BY shard""",
    "text_bigram_nll" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           big AS (SELECT doc_id, t[i] AS a, t[i+1] AS b
                   FROM (SELECT doc_id, t,
                                unnest(generate_series(1, len(t) - 1)) AS i
                         FROM toks WHERE len(t) >= 2)),
           bc AS (SELECT a, b, count(*) AS c_ab FROM big GROUP BY 1, 2),
           cc AS (SELECT a, count(*) AS c_a FROM big GROUP BY 1),
           vv AS (SELECT count(DISTINCT w) AS v
                  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                  WHERE length(w) > 0)
         SELECT g.doc_id, count(*) AS n_bigrams,
                round(avg(-ln((bc.c_ab + 1.0) / (cc.c_a + vv.v))), 4) AS nll
         FROM big g JOIN bc USING (a, b) JOIN cc USING (a) CROSS JOIN vv
         GROUP BY g.doc_id ORDER BY g.doc_id LIMIT 300""",
    "text_ppl_buckets" ->
      s"""WITH $pplOracleCte
         SELECT source, bucket,
                CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                            ELSE 'tail' END AS label,
                count(*) AS n_docs,
                CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
                min(nll) AS min_nll, max(nll) AS max_nll,
                round(CAST(sum(CAST(nll AS DECIMAL(28,4))) AS DOUBLE)
                      / count(*), 4) AS mean_nll
         FROM pplbk GROUP BY 1, 2, 3 ORDER BY source, bucket""",
    "text_ppl_gate" ->
      s"""WITH $pplOracleCte
         SELECT doc_id, source, bucket, nll,
                CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0
                     THEN bucket <= 2 ELSE bucket = 1 END AS keep
         FROM pplbk ORDER BY doc_id LIMIT 300""",
    "text_quality_calibration" ->
      s"""WITH $nbOracleCte,
           qcalsc AS (SELECT f.doc_id,
                             round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                                   / count(*), 4) AS score
                      FROM qcf f JOIN qcm m USING (w) GROUP BY f.doc_id),
           qcalh AS (SELECT doc_id,
                            round((CASE WHEN n_chars < 100 THEN 0.2 ELSE 1.0 END) *
                                  (CASE WHEN len(list_filter(string_split(text, ' '),
                                     w -> w IN ('the', 'a', 'of', 'and', 'to'))) = 0
                                     THEN 0.5 ELSE 1.0 END), 4) AS quality
                     FROM documents),
           qcalj AS (SELECT s.doc_id, s.score, s.score > 0 AS selected,
                            h.quality,
                            CAST(floor(s.score * 100) AS BIGINT) AS score_bin
                     FROM qcalsc s JOIN qcalh h USING (doc_id))
         SELECT score_bin, count(*) AS n_docs,
                count(*) FILTER (WHERE selected) AS n_sel,
                CAST((1000 * count(*) FILTER (WHERE quality >= 1.0))
                     // count(*) AS BIGINT) AS clean_permille,
                round(CAST(sum(CAST(quality AS DECIMAL(28,4))) AS DOUBLE)
                      / count(*), 4) AS mean_quality
         FROM qcalj GROUP BY 1 ORDER BY score_bin""",
    "text_logfreq" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           t2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
           tot AS (SELECT count(*) AS n FROM t2),
           freq AS (SELECT w, count(*) AS wc FROM t2 GROUP BY 1)
         SELECT doc_id, count(*) AS n_tok,
                round(-avg(ln(wc * 1.0 / (SELECT n FROM tot))), 4) AS nll
         FROM t2 JOIN freq USING (w)
         GROUP BY doc_id ORDER BY doc_id LIMIT 300""",
    "text_repetition" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                        CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist
                 FROM base),
           bg AS (SELECT doc_id,
                         unnest([toks[i] || ' ' || toks[i+1]
                                 for i in generate_series(1, len(toks) - 1)]) AS g
                  FROM base WHERE len(toks) >= 2),
           bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
           agg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg_n,
                          CAST(sum(c) AS BIGINT) AS n_bg
                   FROM bgc GROUP BY 1)
         SELECT t.doc_id, n_tok,
                round(1.0 - n_dist * 1.0 / n_tok, 4) AS dup_tok_frac,
                top_bg_n,
                round(top_bg_n * 1.0 / n_bg, 4) AS top_bg_frac
         FROM t JOIN agg ON t.doc_id = agg.doc_id
         ORDER BY t.doc_id LIMIT 300""",
    "text_mix_sources" ->
      """WITH w AS (SELECT doc_id, source,
                           CASE CAST(substr(source, 4) AS INT) % 3
                             WHEN 0 THEN 2.25 WHEN 1 THEN 1.0 ELSE 0.4 END AS w,
                           (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                             % 1000000) / 1e6 AS hfrac
                    FROM documents),
           c AS (SELECT source, w,
                        CAST(floor(w) AS BIGINT)
                          + CASE WHEN hfrac < w - floor(w) THEN 1 ELSE 0 END AS n_copies
                 FROM w)
         SELECT source, count(*) AS n_in, CAST(sum(n_copies) AS BIGINT) AS n_out,
                CAST(round(CAST(any_value(w) AS DOUBLE), 4) AS DOUBLE) AS w
         FROM c GROUP BY source ORDER BY source""",
    "text_mix_schedule" ->
      """WITH mss AS (SELECT source,
                             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
                      FROM documents GROUP BY 1),
           msw AS (SELECT source, n_tok,
                          CAST(CASE CAST(substr(source, 4) AS INT) % 3
                                 WHEN 0 THEN 225 WHEN 1 THEN 100 ELSE 40
                               END AS BIGINT) AS weight_pct
                   FROM mss),
           mst AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot_tok,
                          CAST(sum(weight_pct) AS BIGINT) AS tot_w
                   FROM msw),
           msr AS (SELECT source, n_tok, weight_pct,
                          CAST((200 * tot_tok * weight_pct) // (100 * tot_w) AS BIGINT)
                            AS target_tok
                   FROM msw CROSS JOIN mst),
           msf AS (SELECT source, n_tok, weight_pct, target_tok,
                          least(target_tok, 4 * n_tok) AS scheduled_tok
                   FROM msr)
         SELECT source, n_tok, weight_pct, target_tok, scheduled_tok,
                round(scheduled_tok * 1.0 / n_tok, 4) AS epochs,
                CAST(target_tok - scheduled_tok AS BIGINT) AS deficit_tok
         FROM msf ORDER BY source""",
    "text_train_order" -> s"WITH ${trainOrderOracleFrom("documents")}",
    "text_order_audit" -> s"""WITH ${trainOrderCtesFrom("documents")},
           audc AS (SELECT epoch, shard, source, count(*) AS c_docs,
                           CAST(sum(n_tok) AS BIGINT) AS c_tok
                    FROM troh GROUP BY 1, 2, 3),
           auds AS (SELECT epoch, shard,
                           CAST(sum(c_docs) AS BIGINT) AS n_docs,
                           CAST(sum(c_tok) AS BIGINT) AS n_tokens,
                           count(*) AS n_sources
                    FROM audc GROUP BY 1, 2),
           aude AS (SELECT epoch, source,
                           CAST(sum(c_tok) AS BIGINT) AS e_src_tok
                    FROM audc GROUP BY 1, 2),
           audt AS (SELECT epoch, CAST(sum(e_src_tok) AS BIGINT) AS e_tok
                    FROM aude GROUP BY 1),
           audg AS (SELECT s.epoch, s.shard, s.n_docs, s.n_tokens, s.n_sources,
                           CAST(round(abs(
                                  CAST(coalesce(c.c_tok, 0) AS DOUBLE) / s.n_tokens
                                - CAST(e.e_src_tok AS DOUBLE) / t.e_tok), 12)
                                AS DECIMAL(38,12)) AS term
                    FROM auds s
                    JOIN aude e ON s.epoch = e.epoch
                    JOIN audt t ON s.epoch = t.epoch
                    LEFT JOIN audc c ON c.epoch = s.epoch AND c.shard = s.shard
                                    AND c.source = e.source)
         SELECT epoch, CAST(shard AS BIGINT) AS shard, n_docs, n_tokens,
                n_sources,
                round(CAST(sum(term) AS DOUBLE) * 0.5, 4) AS tv_mix
         FROM audg GROUP BY 1, 2, 3, 4, 5 ORDER BY epoch, shard""",
    "text_pack_tuning" ->
      """WITH pks AS (SELECT doc_id % 8 AS shard,
                             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                               AS shard_tok
                      FROM documents GROUP BY 1),
           pkc AS (SELECT CAST(unnest([512, 1024, 2048, 4096]) AS BIGINT) AS ctx),
           pkx AS (SELECT c.ctx, s.shard_tok,
                          CAST((s.shard_tok + c.ctx - 1) // c.ctx AS BIGINT)
                            AS n_chunks
                   FROM pks s CROSS JOIN pkc c)
         SELECT ctx, CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
                CAST(sum(shard_tok) AS BIGINT) AS n_tokens,
                CAST(sum(n_chunks * ctx - shard_tok) AS BIGINT) AS waste_tok,
                CAST((1000 * CAST(sum(shard_tok) AS BIGINT))
                     // (CAST(sum(shard_tok) AS BIGINT)
                         + CAST(sum(n_chunks * ctx - shard_tok) AS BIGINT))
                     AS BIGINT) AS fill_permille
         FROM pkx GROUP BY 1 ORDER BY ctx""",
    "text_epoch_budget" -> s"""WITH ${trainOrderCtesFrom("documents")},
           ebc AS (SELECT source, epoch, count(*) AS n_docs,
                          CAST(sum(n_tok) AS BIGINT) AS n_tokens
                   FROM troh GROUP BY 1, 2)
         SELECT c.source, c.epoch, c.n_docs, c.n_tokens,
                CAST((1000 * c.n_tokens) // s.src_tok AS BIGINT) AS fill_permille
         FROM ebc c JOIN tros s USING (source)
         ORDER BY source, epoch""",
    "text_curriculum_order" ->
      s"""WITH $nbOracleCte,
           cusc AS (SELECT f.doc_id,
                           round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                                 / count(*), 4) AS score
                    FROM qcf f JOIN qcm m USING (w) GROUP BY f.doc_id),
           cus AS (SELECT source,
                          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tok
                   FROM documents GROUP BY 1),
           cuw AS (SELECT source, src_tok,
                          CAST(CASE CAST(substr(source, 4) AS INT) % 3
                                 WHEN 0 THEN 225 WHEN 1 THEN 100 ELSE 40
                               END AS BIGINT) AS weight_pct
                   FROM cus),
           cut AS (SELECT CAST(sum(src_tok) AS BIGINT) AS tot_tok,
                          CAST(sum(weight_pct) AS BIGINT) AS tot_w
                   FROM cuw),
           cusch AS (SELECT source, src_tok,
                            least(CAST((200 * tot_tok * weight_pct) // (100 * tot_w)
                                       AS BIGINT), 4 * src_tok) AS scheduled_tok
                     FROM cuw CROSS JOIN cut),
           cub AS (SELECT d.doc_id, d.source,
                          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
                          CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
                               AS BIGINT) AS hk,
                          coalesce(sc.score, 0.0) AS score
                   FROM documents d LEFT JOIN cusc sc ON d.doc_id = sc.doc_id),
           cuc AS (SELECT b.doc_id, b.source, b.n_tok, b.hk, b.score,
                          CAST(s.scheduled_tok // s.src_tok AS BIGINT) AS full_epochs,
                          s.scheduled_tok % s.src_tok AS rem_tok,
                          CAST(coalesce(sum(b.n_tok) OVER (
                                 PARTITION BY b.source ORDER BY b.hk, b.doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                               AS BIGINT) AS cum_before
                   FROM cub b JOIN cusch s USING (source)),
           cue AS (SELECT doc_id, source, n_tok, hk, score,
                          full_epochs + CASE WHEN cum_before < rem_tok
                                             THEN 1 ELSE 0 END AS n_rep
                   FROM cuc),
           cui AS (SELECT doc_id, source, n_tok, hk, score,
                          CAST(unnest(range(n_rep)) AS BIGINT) AS epoch
                   FROM cue WHERE n_rep > 0),
           cuh AS (SELECT doc_id, source, n_tok, hk, score, epoch,
                          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                 || CAST(epoch AS VARCHAR)), 1, 15) AS BIGINT) % 8
                            AS shard
                   FROM cui)
         SELECT doc_id, source, epoch, CAST(shard AS BIGINT) AS shard,
                CAST(row_number() OVER (PARTITION BY epoch, shard
                                        ORDER BY score DESC, doc_id) AS INT) AS pos,
                n_tok
         FROM cuh ORDER BY epoch, shard, pos LIMIT 300""",
    "text_anneal_schedule" ->
      s"""WITH $nbOracleCte,
           $annealOracleCte
         SELECT source, n_tok, n_docs, n_sel, sel_permille, bulk_tok, anneal_tok,
                CAST(bulk_tok + anneal_tok AS BIGINT) AS total_tok,
                CASE WHEN bulk_tok + anneal_tok > 0 THEN
                  round(CAST(anneal_tok AS DOUBLE) / (bulk_tok + anneal_tok), 4)
                ELSE 0.0 END AS anneal_share
         FROM anr ORDER BY source""",
    "text_anneal_order" ->
      s"""WITH $nbOracleCte,
           $annealOracleCte,
           aob AS (SELECT doc_id, source,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                               AS BIGINT) AS hk
                   FROM documents),
           aobq AS (SELECT b.doc_id, b.source, b.n_tok, b.hk,
                           r.bulk_tok AS quota_tok, r.n_tok AS set_tok
                    FROM aob b JOIN anr r USING (source)),
           aobr AS (SELECT doc_id, source, n_tok, hk, quota_tok, set_tok,
                           CAST(quota_tok // set_tok AS BIGINT) AS raw_epochs,
                           CAST(coalesce(sum(n_tok) OVER (
                                  PARTITION BY source ORDER BY hk, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                                AS BIGINT) AS cum_before
                    FROM aobq),
           aobe AS (SELECT doc_id, source, n_tok, hk,
                           least(raw_epochs, 4)
                             + CASE WHEN cum_before <
                                 (CASE WHEN raw_epochs < 4
                                       THEN quota_tok % set_tok ELSE 0 END)
                               THEN 1 ELSE 0 END AS n_rep
                    FROM aobr),
           aobi AS (SELECT doc_id, source, n_tok, hk,
                           CAST(unnest(range(n_rep)) AS BIGINT) AS epoch
                    FROM aobe WHERE n_rep > 0),
           aobp AS (SELECT CAST(0 AS INT) AS phase, doc_id, source, n_tok, hk, epoch,
                           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                  || CAST(epoch AS VARCHAR)), 1, 15) AS BIGINT) % 8
                             AS shard
                    FROM aobi),
           aab AS (SELECT b.doc_id, b.source, b.n_tok, b.hk
                   FROM aob b JOIN ansc sc ON b.doc_id = sc.doc_id
                   WHERE sc.selected),
           aast AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS set_tok
                    FROM aab GROUP BY 1),
           aaq AS (SELECT b.doc_id, b.source, b.n_tok, b.hk,
                          r.anneal_tok AS quota_tok, t.set_tok
                   FROM aab b JOIN anr r USING (source) JOIN aast t USING (source)),
           aar AS (SELECT doc_id, source, n_tok, hk, quota_tok, set_tok,
                          CAST(quota_tok // set_tok AS BIGINT) AS raw_epochs,
                          CAST(coalesce(sum(n_tok) OVER (
                                 PARTITION BY source ORDER BY hk, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                               AS BIGINT) AS cum_before
                   FROM aaq),
           aae AS (SELECT doc_id, source, n_tok, hk,
                          least(raw_epochs, 4)
                            + CASE WHEN cum_before <
                                (CASE WHEN raw_epochs < 4
                                      THEN quota_tok % set_tok ELSE 0 END)
                              THEN 1 ELSE 0 END AS n_rep
                   FROM aar),
           aai AS (SELECT doc_id, source, n_tok, hk,
                          CAST(unnest(range(n_rep)) AS BIGINT) AS epoch
                   FROM aae WHERE n_rep > 0),
           aap AS (SELECT CAST(1 AS INT) AS phase, doc_id, source, n_tok, hk, epoch,
                          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                 || CAST(epoch AS VARCHAR) || '#a'), 1, 15) AS BIGINT) % 8
                            AS shard
                   FROM aai),
           aall AS (SELECT * FROM aobp UNION ALL SELECT * FROM aap)
         SELECT phase, doc_id, source, epoch, CAST(shard AS BIGINT) AS shard,
                CAST(row_number() OVER (PARTITION BY phase, epoch, shard
                                        ORDER BY hk, doc_id) AS INT) AS pos,
                n_tok
         FROM aall ORDER BY phase, epoch, shard, pos LIMIT 300""",
    "text_ngram_novelty" ->
      """WITH nv0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           nvg AS (SELECT DISTINCT doc_id,
                          t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
                   FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
                         FROM nv0 WHERE len(t) >= 3)),
           nvf AS (SELECT g, min(doc_id) AS first_doc FROM nvg GROUP BY 1)
         SELECT doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_novel,
                round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0
                        / count(*), 4) AS novelty
         FROM nvg JOIN nvf USING (g)
         GROUP BY doc_id ORDER BY doc_id LIMIT 300""",
    "text_novelty_curve" ->
      """WITH ncf AS (SELECT g, min(doc_id) AS first_doc FROM (
                        SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
                        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
                              FROM (SELECT doc_id, string_split(text, ' ') AS t
                                    FROM documents)
                              WHERE len(t) >= 3))
                      GROUP BY 1),
           ncn AS (SELECT count(*) AS n_docs FROM documents),
           ncd AS (SELECT least(9, first_doc * 10 // n_docs) AS decile,
                          count(*) AS n_first
                   FROM ncf CROSS JOIN ncn GROUP BY 1),
           ncc AS (SELECT decile, n_first,
                          CAST(sum(n_first) OVER (ORDER BY decile
                                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND CURRENT ROW) AS BIGINT) AS cum_grams,
                          CAST(sum(n_first) OVER () AS BIGINT) AS n_grams
                   FROM ncd)
         SELECT decile, n_first, cum_grams,
                round(cum_grams * 1.0 / n_grams, 4) AS cum_share
         FROM ncc ORDER BY decile""",
    "text_novelty_sources" ->
      """WITH nsf AS (SELECT g, min(doc_id) AS first_doc FROM (
                        SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
                        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
                              FROM (SELECT doc_id, string_split(text, ' ') AS t
                                    FROM documents)
                              WHERE len(t) >= 3))
                      GROUP BY 1),
           nsd AS (SELECT first_doc, count(*) AS n_first FROM nsf GROUP BY 1),
           nss AS (SELECT d.source, count(*) AS n_docs,
                          CAST(sum(COALESCE(n.n_first, 0)) AS BIGINT) AS n_first
                   FROM documents d LEFT JOIN nsd n ON n.first_doc = d.doc_id
                   GROUP BY 1),
           nst AS (SELECT CAST(sum(n_first) AS BIGINT) AS n_grams FROM nss)
         SELECT source, n_docs, n_first,
                round(n_first * 1.0 / n_docs, 4) AS first_per_doc,
                round(n_first * 1.0 / n_grams, 4) AS coverage_share
         FROM nss CROSS JOIN nst ORDER BY source""",
    "text_classifier_gate" ->
      s"""WITH $nbOracleCte
         SELECT f.doc_id, count(*) AS n_tok,
                round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*), 4) + 0.0 AS score,
                round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*), 4) > 0 AS selected
         FROM qcf f JOIN qcm m USING (w)
         WHERE f.doc_id % 7 = 3
         GROUP BY f.doc_id ORDER BY f.doc_id LIMIT 300""",
    "text_quality_classifier" ->
      s"""WITH $nbOracleCte
         SELECT f.doc_id, f.curated, count(*) AS n_tok,
                round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*), 4) + 0.0 AS score,
                round(CAST(sum(CAST(m.lo AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*), 4) > 0 AS selected
         FROM qcf f JOIN qcm m USING (w)
         GROUP BY f.doc_id, f.curated ORDER BY f.doc_id LIMIT 300""",
    "text_pack_segments" ->
      """WITH base AS (SELECT doc_id, doc_id % 8 AS shard,
                              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                       FROM documents),
           packed AS (SELECT doc_id, shard, n_tok,
                             CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                            AND 1 PRECEDING), 0)
                                  AS BIGINT) AS cum_before
                      FROM base),
           chunks AS (SELECT doc_id, shard, n_tok,
                             CAST(cum_before // 2048 AS BIGINT) AS chunk_id,
                             cum_before % 2048 AS chunk_offset,
                             CAST((cum_before % 2048 + n_tok - 1) // 2048 AS BIGINT) + 1 AS n_chunks
                      FROM packed WHERE n_tok > 0),
           segs AS (SELECT doc_id, shard, chunk_id + j.j AS chunk,
                           greatest(j.j * 2048 - chunk_offset, 0) AS tok_start,
                           least(n_tok, (j.j + 1) * 2048 - chunk_offset) AS tok_end
                    FROM chunks, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS j) j)
         SELECT doc_id, shard, chunk, tok_start, tok_end,
                tok_end - tok_start AS seg_len
         FROM segs ORDER BY doc_id, chunk LIMIT 500""",
    "text_langid_ngram" ->
      """SELECT lang, predicted, count(*) AS n
         FROM (SELECT lang,
                      CASE WHEN g_en >= g_es AND g_en >= g_de AND g_en > 0 THEN 'en'
                           WHEN g_es >= g_de AND g_es > 0 THEN 'es'
                           WHEN g_de > 0 THEN 'de'
                           ELSE 'und' END AS predicted
               FROM (SELECT lang,
                            len(list_filter(grams, g -> g IN ('the', 'ing', 'and', ' th'))) AS g_en,
                            len(list_filter(grams, g -> g IN (' de', 'la ', 'ión', 'os '))) AS g_es,
                            len(list_filter(grams, g -> g IN ('der', 'sch', 'ung', 'ein'))) AS g_de
                     FROM (SELECT lang,
                                  [substr(text, i, 3)
                                   for i in generate_series(1, greatest(length(text) - 2, 0))] AS grams
                           FROM documents)))
         GROUP BY lang, predicted ORDER BY lang, predicted""",
    "text_langid" ->
      """SELECT lang, predicted, count(*) AS n
         FROM (SELECT lang,
                      CASE WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en > 0 THEN 'en'
                           WHEN hits_es >= hits_de AND hits_es > 0 THEN 'es'
                           WHEN hits_de > 0 THEN 'de'
                           ELSE 'und' END AS predicted
               FROM (SELECT lang,
                            len(list_filter(toks, w -> w IN ('the', 'a', 'of'))) AS hits_en,
                            len(list_filter(toks, w -> w IN ('el', 'la', 'de'))) AS hits_es,
                            len(list_filter(toks, w -> w IN ('der', 'die', 'das'))) AS hits_de
                     FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)))
         GROUP BY lang, predicted ORDER BY lang, predicted""",
    "text_fingerprint" ->
      """SELECT fp, count(*) AS n_docs, min(doc_id) AS min_doc
         FROM (SELECT doc_id,
                      md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
               FROM documents)
         GROUP BY fp HAVING count(*) >= 1
         ORDER BY n_docs DESC, fp ASC LIMIT 100""",
    "text_tfidf" ->
      """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           terms_f AS (SELECT * FROM terms WHERE length(term) > 0),
           tf AS (SELECT doc_id, term, count(*) AS tf FROM terms_f GROUP BY 1, 2),
           df AS (SELECT term, count(*) AS df
                  FROM (SELECT DISTINCT doc_id, term FROM terms_f) GROUP BY 1),
           n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
           scored AS (
             SELECT tf.doc_id, tf.term, tf.tf, df.df,
                    tf.tf * ln(n.n_docs * 1.0 / df.df) AS tfidf
             FROM tf JOIN df USING (term) CROSS JOIN n)
         SELECT doc_id, rnk, term, tf, df, round(tfidf, 4) AS tfidf
         FROM (SELECT doc_id, term, tf, df, tfidf,
                      CAST(row_number() OVER (PARTITION BY doc_id
                                              ORDER BY tfidf DESC, term ASC) AS INT) AS rnk
               FROM scored WHERE doc_id < 50)
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "text_bm25_tuning" ->
      """WITH btt AS (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         w -> length(w) > 0) AS toks
                      FROM documents),
           btd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                          list_filter(toks,
                            w -> w IN ('spark', 'query', 'window')) AS hits
                   FROM btt),
           bts AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM btd),
           bttf AS (SELECT doc_id, dl, w, count(*) AS tf
                    FROM (SELECT doc_id, dl, unnest(hits) AS w
                          FROM btd WHERE len(hits) > 0)
                    GROUP BY 1, 2, 3),
           btdf AS (SELECT w, count(*) AS df FROM bttf GROUP BY 1),
           btg AS (SELECT k1_x10, b_x100
                   FROM (VALUES (9), (12), (15)) k(k1_x10)
                   CROSS JOIN (VALUES (0), (50), (75), (100)) b(b_x100)),
           btsc AS (SELECT g.k1_x10, g.b_x100, t.doc_id,
                           CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5)
                                               / (d.df + 0.5))
                                      * (t.tf * (g.k1_x10 / 10.0 + 1.0))
                                      / (t.tf + (g.k1_x10 / 10.0)
                                         * (1.0 - g.b_x100 / 100.0
                                            + (g.b_x100 / 100.0) * t.dl
                                              / (s.sum_dl * 1.0 / s.n_docs))),
                                      6) AS DECIMAL(18,6)) AS term_score
                    FROM bttf t JOIN btdf d USING (w)
                    CROSS JOIN bts s CROSS JOIN btg g),
           btpd AS (SELECT k1_x10, b_x100, doc_id,
                           sum(term_score) AS score
                    FROM btsc GROUP BY 1, 2, 3),
           btrk AS (SELECT k1_x10, b_x100, doc_id, score,
                           row_number() OVER (PARTITION BY k1_x10, b_x100
                                              ORDER BY score DESC, doc_id)
                             AS rk
                    FROM btpd)
         SELECT CAST(p.k1_x10 AS BIGINT) AS k1_x10,
                CAST(p.b_x100 AS BIGINT) AS b_x100, count(*) AS n_cand,
                CAST(min(CASE WHEN r.rk = 1 THEN r.doc_id END) AS BIGINT)
                  AS top_doc,
                round(CAST(min(CASE WHEN r.rk = 1 THEN r.score END)
                           AS DOUBLE), 4) AS top_score,
                round(CAST(sum(p.score) AS DOUBLE) / count(*), 4)
                  AS mean_score
         FROM btpd p JOIN btrk r
           ON p.k1_x10 = r.k1_x10 AND p.b_x100 = r.b_x100
              AND p.doc_id = r.doc_id
         GROUP BY p.k1_x10, p.b_x100 ORDER BY k1_x10, b_x100""",
    "text_df_drift" ->
      """WITH dda AS (SELECT w, count(DISTINCT doc_id) AS df_a
                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                            FROM documents WHERE doc_id % 2 = 0)
                      WHERE length(w) > 0 GROUP BY 1),
           ddb AS (SELECT w, count(DISTINCT doc_id) AS df_b
                   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                         FROM documents WHERE doc_id % 2 = 1)
                   WHERE length(w) > 0 GROUP BY 1),
           ddj AS (SELECT coalesce(a.w, b.w) AS w,
                          CAST(coalesce(a.df_a, 0) AS BIGINT) AS df_a,
                          CAST(coalesce(b.df_b, 0) AS BIGINT) AS df_b
                   FROM dda a FULL OUTER JOIN ddb b ON a.w = b.w)
         SELECT w, df_a, df_b,
                CAST(1000 * df_b // (df_a + df_b) AS BIGINT) AS skew_pm,
                abs(CAST(1000 * df_b // (df_a + df_b) AS BIGINT) - 500) AS drift
         FROM ddj ORDER BY drift DESC, w LIMIT 50""",
    "text_inverted_index" -> invertedIndexOracleFrom("documents"),
    "text_bm25_topk" ->
      """WITH bmt AS (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         w -> length(w) > 0) AS toks
                      FROM documents),
           bmd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                          list_filter(toks,
                            w -> w IN ('spark', 'query', 'window')) AS hits
                   FROM bmt),
           bms AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM bmd),
           bmtf AS (SELECT doc_id, dl, w, count(*) AS tf
                    FROM (SELECT doc_id, dl, unnest(hits) AS w
                          FROM bmd WHERE len(hits) > 0)
                    GROUP BY 1, 2, 3),
           bmdf AS (SELECT w, count(*) AS df FROM bmtf GROUP BY 1),
           bmsc AS (SELECT t.doc_id, t.tf,
                           CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5)
                                               / (d.df + 0.5))
                                      * (t.tf * 2.2)
                                      / (t.tf + 1.2 * (0.25 + 0.75 * t.dl
                                         / (s.sum_dl * 1.0 / s.n_docs))), 6)
                                AS DECIMAL(18,6)) AS term_score
                    FROM bmtf t JOIN bmdf d USING (w) CROSS JOIN bms s)
         SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS n_hits,
                round(CAST(sum(term_score) AS DOUBLE), 4) AS score
         FROM bmsc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50""",
    "text_chunk_overlap" ->
      """WITH cht AS (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         w -> length(w) > 0) AS toks
                      FROM documents),
           chd AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok
                   FROM cht WHERE len(toks) > 0 AND doc_id < 100),
           chs AS (SELECT doc_id, n_tok, toks,
                          CAST(unnest(generate_series(0, n_tok - 1, 24)) AS BIGINT) AS start_tok
                   FROM chd),
           chx AS (SELECT doc_id, n_tok, toks, start_tok,
                          start_tok // 24 AS chunk_idx
                   FROM chs)
         SELECT doc_id, chunk_idx, start_tok,
                least(32, n_tok - start_tok) AS len_tok,
                md5(array_to_string(
                      toks[start_tok + 1 : start_tok + least(32, n_tok - start_tok)],
                      ' ')) AS chunk_md5
         FROM chx ORDER BY doc_id, chunk_idx LIMIT 400""")
}
