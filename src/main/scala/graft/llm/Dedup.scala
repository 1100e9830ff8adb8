package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{DotProduct, SimHash64}
import graft.operators.Common._

/** Deduplication operators (SURVEY.md §2.9 X1/X2) for training-data
  * pipelines. Exact dedup is `dedup_exact` (Relational O5). Here: the
  * near-dup family over `documents`.
  *
  * Scale design: the n-gram Jaccard pair-join is the exact algorithm —
  * it joins on shared shingles, so cost is Σ(per-shingle doc count²), not
  * n². The skew risk at 100 TB is hot shingles, so `dedupNgram` drops
  * shingles appearing in more than [[HotShingleCap]] documents (a
  * stop-phrase shared by 10% of a corpus carries no dedup signal but makes
  * its bucket quadratic); Jaccard is computed over the capped shingle
  * space in both engines. The sub-quadratic candidate paths are
  * `dedupMinhash` (banded MinHash) and `dedupSimhash` (banded SimHash) —
  * both recall-gated end-to-end in DedupSpec over synthetic corpora with
  * known near-dup pairs. MinHash is additionally DuckDB-oracle'd (its
  * md5-derived hash family replays in SQL); SimHash's 64-bit wraparound
  * FNV can't be expressed in DuckDB (BIGINT multiply overflows rather
  * than wrapping), so it stays a rows-only check + ScalaTest goldens.
  */
object Dedup {

  /** Max documents a shingle may appear in before it is dropped as
    * boilerplate. Bounds per-shingle join cost at K²/2 pairs. */
  val HotShingleCap = 50

  /** Max docs per simhash band bucket before the bucket is dropped as
    * boilerplate skew (see dedupSimhash scale note). */
  val SimhashBucketCap = 500

  /** Distinct hashed 3-word shingles per document — the shared front end
    * of the n-gram-Jaccard and MinHash paths. Each shingle is reduced to
    * a 60-bit md5-derived int BEFORE the distinct: every downstream
    * shuffle (dedup, doc-frequency, pair join) then moves 8-byte ints
    * instead of ~25-byte strings — the standard shingle-hashing
    * approximation (collision odds ~n²/2⁶¹: negligible at any corpus
    * size where per-doc shingle sets fit memory), md5-derived so the
    * DuckDB oracle reproduces identical hashes bit-for-bit. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(t(s, d, "documents"))

  /** The same shingle front end over ANY (doc_id, text) frame — public so
    * pipelines can shingle a second table (e.g. the benchmark set in
    * [[decontaminate]]). */
  def shinglesOf(docs: DataFrame): DataFrame =
    // repartition an under-parallel RAW SCAN before the heavy shingle
    // explode (split + explode + md5 per shingle); no-op on composed
    // frames and on production-parallel scans — see Common.spreadScan
    graft.operators.Common.spreadScan(docs)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 3),
             i -> concat(element_at(toks, i + 1), ' ',
                         element_at(toks, i + 2), ' ',
                         element_at(toks, i + 3)))""")).as("sh"))
      .select(col("doc_id"), expr(shingleHashSql("sh")).as("h"))
      .distinct()

  /** The md5-derived 60-bit hash of one shingle string, as SQL over the
    * expression `sh`: the one shingle hash of the exploded
    * ([[shinglesOf]]) and the in-row ([[withShingleHashes]]) front
    * ends. */
  private def shingleHashSql(sh: String): String =
    s"CAST(conv(substr(md5($sh), 1, 15), 16, 10) AS BIGINT)"

  /** `docs` with `hs`, the sorted distinct shingle hashes of `text`, in
    * the same hash space as [[shinglesOf]] but computed in-row: no
    * explode, no distinct, no shuffle. Rows of fewer than 3 tokens have
    * no shingle and drop, as in [[shinglesOf]]. */
  private def withShingleHashes(docs: DataFrame): DataFrame = {
    val hashes = shingleHashSql(
      "concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2), ' ', element_at(toks, i + 3))")
    // heavy per-row md5 chain: same scan-only repartition rationale as
    // [[shinglesOf]] (no-op on streams, composed frames, and
    // production-parallel scans). The hash array is guarded by the same
    // length test as the filter: the optimizer may push a predicate on
    // `hs` (an explode's inferred non-empty test) below that filter, and
    // on a shorter row the window would index past the tokens.
    graft.operators.Common.spreadScan(docs)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("hs", expr(s"""if(size(toks) >= 3,
        array_sort(array_distinct(transform(sequence(0, size(toks) - 3), i -> $hashes))),
        array())"""))
      .drop("toks")
  }

  /** Per-doc shingle SETS, the verify side of every Jaccard path,
    * computed in-row: every column of `docs` but `text`, plus `hs`
    * (sorted distinct shingle hashes) and `n_sh` (= size(hs)). One row
    * per doc, so every set consumer — the MinHash bands
    * ([[minhashScoredPairsOfSets]]), the exact-Jaccard verify and the
    * bench overlap ([[benchOverlaps]]) — reads it without a
    * re-aggregating shuffle. Equal, as a set of (doc_id, h), to
    * [[shinglesOf]] for unique doc ids. */
  def docShingleSets(docs: DataFrame): DataFrame =
    withShingleHashes(docs).drop("text")
      .withColumn("n_sh", size(col("hs")).cast("long"))

  /** X1a: n-gram (3-word shingle) Jaccard near-dup pairs.
    * jaccard = |A∩B| / |A∪B| over distinct shingle sets (capped at
    * [[HotShingleCap]] docs/shingle — see object doc); pairs above 0.3
    * (this corpus has true near-dups up to 0.99). */
  val dedupNgram: Q = (s, d) => {
    val sh0 = shingles(s, d)
    // Hot-shingle cap via left-anti join. No broadcast hint: on a
    // web-scale corpus the boilerplate-shingle set grows with the
    // vocabulary and can itself exceed broadcast limits — AQE picks
    // broadcast at runtime when the hot set is actually small (it is at
    // every test SF), and degrades to a shuffled anti-join instead of an
    // OOM when it is not.
    val hot = sh0.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > HotShingleCap).select("h")
    val sh = sh0.join(hot, Seq("h"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    val common = a.join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("nb")), Seq("db"))
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") > 0.3)
      .select(col("da"), col("db"), col("c"), r4(col("jaccard")).as("jaccard"))
      .orderBy(desc("jaccard"), asc("da"), asc("db"))
  }

  /** X1a at scale: prefix-filtered exact Jaccard (the PPJoin family —
    * Xiao et al., WWW'08, public algorithm). Order each doc's shingles by
    * ascending document frequency (rarest first); a pair with
    * jaccard ≥ t must share a shingle within each side's first
    * n − ⌈t·n⌉ + 1 shingles (pigeonhole on the overlap bound c ≥ t·n),
    * so only PREFIX shingles are indexed for the candidate join — and
    * because prefixes hold each doc's RAREST shingles, the per-shingle
    * buckets are the small ones: the Σ df² join cost drops on exactly
    * the terms that dominate it. Candidates are then verified with the
    * full sets, so the output is IDENTICAL to dedup_ngram (equality is
    * ScalaTest-gated in DedupSpec, and both share the DuckDB oracle
    * shape).
    *
    * Measured crossover (be honest about constants): at sf0.1 (5k docs,
    * hot-cap already bounding buckets at ≤50 docs) the extra df-rank
    * window + verify joins COST more than the pruned pair join saves —
    * 6.8 s vs the baseline's 2.8 s. The prefix index wins when Σ df²
    * dominates, i.e. corpora big enough that per-shingle buckets sit at
    * the cap; below that, run dedup_ngram. Both stay in the inventory
    * for exactly this reason. */
  val dedupNgramPrefix: Q = (s, d) => {
    val jt = 0.3
    val (sh, _, ranked) = rarestFirstPrefix(s, d, jt)
    val prefix = ranked.select("doc_id", "h")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    verifyJaccard(cand, docShingleSetsFromShingles(sh))
      .filter(col("jaccard") > jt)
      .select(col("da"), col("db"), col("c"), r4(col("jaccard")).as("jaccard"))
      .orderBy(desc("jaccard"), asc("da"), asc("db"))
  }

  /** The capped shingle index of both prefix filters, for threshold `t`:
    * (sh, sizes, prefix) = the (doc_id, h) set without hot shingles
    * (df > [[HotShingleCap]]), its (doc_id, n_sh) counts, and each doc's
    * rarest-first n − ⌈t·n⌉ + 1 shingles (doc_id, h, df, rk, n_sh).
    * ONE count window over h gives both the cap and the rarest-first
    * rank — no doc-frequency groupBy, anti-join or annotation join. The
    * capped set is materialized: three or four branches read it, and
    * each would re-run the scan + md5 + distinct + window (measured
    * 12.3 s at sf0.1; materialized ≈ half) — the natural intermediate
    * to persist at 100 TB. */
  private def rarestFirstPrefix(s: SparkSession, d: String, t: Double):
      (DataFrame, DataFrame, DataFrame) = {
    val shdf = materialize(shingles(s, d)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= HotShingleCap), "dedup.capped_shingles")
    val sh = shdf.select("doc_id", "h")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val prefix = shdf
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "h")))
      .join(sizes, Seq("doc_id"))
      .filter(col("rk") <= col("n_sh") - ceil(lit(t) * col("n_sh")) + 1)
    (sh, sizes, prefix)
  }

  /** Exact-Jaccard verify for a candidate pair set against per-doc
    * (doc_id, hs, n_sh) sets (hs sorted, distinct): join candidates
    * against that doc-level table and count the overlap in-row. The
    * alternative — re-joining candidates against the exploded shingle
    * table per side and re-aggregating — materializes |cand| ×
    * shingles-per-doc intermediate rows and paid 7.8 of
    * dedup_ngram_prefix's 12 s at sf0.1; here the joins move one row per
    * doc (arrays bounded by document length, which is bounded by the
    * corpus format) and the intersection runs codegen'd per pair. This
    * IS how PPJoin-family implementations verify: against the records'
    * own token lists, not a re-shuffle of the index. The arrays are
    * sorted ONCE per doc (amortized over every pair the doc joins into)
    * so the per-pair overlap is the zero-allocation two-pointer count,
    * not array_intersect's hash-and-materialize. */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("da"), col("hs").as("ha"),
        col("n_sh").as("na")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("hs").as("hb"),
        col("n_sh").as("nb")), Seq("db"))
      .withColumn("c", graft.functions.SortedIntersectCount(col("ha"), col("hb")))
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .select("da", "db", "c", "na", "nb", "jaccard")

  /** X1a': containment near-dup — the ASYMMETRIC overlap measure
    * c / min(|A|, |B|): catches sub-document duplication (one doc quoted
    * or embedded inside a larger one) that symmetric Jaccard misses —
    * a 200-shingle doc fully contained in a 2000-shingle doc has
    * jaccard ≈ 0.1 but containment 1.0. Same capped shared-shingle
    * candidate join and array-intersect verify as [[dedupNgram]]; only
    * the final ratio differs. Standard member of a training-data dedup
    * suite next to the symmetric family.
    *
    * Scale note: this is the EXACT baseline (cost = the same Σ df² pair
    * join as dedupNgram). MinHash banding is NOT a valid candidate path
    * here — a small doc fully contained in a large one has low jaccard,
    * so jaccard-tuned bands miss exactly the pairs containment exists to
    * catch; the sub-quadratic path is a prefix filter on the SMALLER
    * side's rarest shingles (c ≥ t·min(n) pigeonholes within the smaller
    * set), the one-sided twin of dedupNgramPrefix. */
  val dedupContainment: Q = (s, d) => {
    val sh0 = shingles(s, d)
    val hot = sh0.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > HotShingleCap).select("h")
    val sh = sh0.join(hot, Seq("h"), "left_anti")
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    verifyJaccard(pairs, docShingleSetsFromShingles(sh))
      .withColumn("containment", col("c").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= 0.8)
      .select(col("da"), col("db"), col("c"), r4(col("containment")).as("containment"))
      .orderBy(desc("containment"), asc("da"), asc("db"))
  }

  /** X1a'' — the sub-quadratic containment path [[dedupContainment]]'s doc
    * promises: the ONE-SIDED prefix filter. Containment ≥ t means
    * c ≥ t·min(|A|,|B|) = t·n_small, so (pigeonhole) the SMALLER doc's
    * rarest-first prefix of length n − ⌈t·n⌉ + 1 must share a shingle
    * with the larger doc's FULL set — if none of those prefix shingles
    * hits B, at most ⌈t·n⌉ − 1 < t·n of A's shingles can. Only prefixes
    * are indexed on the probe side; the build side is the full shingle
    * table. Join cost drops from Σ df² to Σ prefix_df·df — and prefixes
    * hold each doc's RAREST shingles, so the pruning lands on exactly
    * the buckets that dominate the quadratic cost. (A two-sided
    * prefix-×-prefix join — dedupNgramPrefix's shape — would be WRONG
    * here: the big doc's prefix bound is n_big − ⌈t·n_small⌉ + 1, which
    * is unknowable at index time and ≈ its whole set anyway.)
    *
    * Output is IDENTICAL to [[dedupContainment]] — equality is
    * ScalaTest-gated in DedupSpec and both share the DuckDB oracle. */
  val dedupContainmentPrefix: Q = (s, d) => {
    val ct = 0.8
    val (sh, sizes, ranked) = rarestFirstPrefix(s, d, ct)
    val prefix = ranked
      .select(col("doc_id").as("pd"), col("h"), col("n_sh").as("pn"))
    val full = sh.join(sizes, Seq("doc_id"))
      .select(col("doc_id").as("fd"), col("h"), col("n_sh").as("fn"))
    // probe side must be the pair's smaller set (ties broken by id so
    // each unordered pair is generated from exactly one orientation).
    // Both sides share shdf's lineage, so the equi-key MUST be qualified
    // through plan aliases — unqualified prefix("h")/full("h") resolve to
    // the same attribute and the condition degenerates to trivially-true
    // (cartesian-with-filter).
    val cand = prefix.as("p").join(full.as("f"),
        col("p.h") === col("f.h") &&
          (col("pn") < col("fn") || (col("pn") === col("fn") && col("pd") < col("fd"))))
      .select(least(col("pd"), col("fd")).as("da"),
        greatest(col("pd"), col("fd")).as("db"))
      .distinct()
    verifyJaccard(cand, docShingleSetsFromShingles(sh))
      .withColumn("containment", col("c").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= ct)
      .select(col("da"), col("db"), col("c"), r4(col("containment")).as("containment"))
      .orderBy(desc("containment"), asc("da"), asc("db"))
  }

  /** X1e: embedding-cosine near-dup candidates — top-50 most similar pairs.
    * Brute-force O(n²) self-join is the verification baseline; the scale
    * path is `dedup_embed_lsh` (banded LSH buckets → cosine verify → top-k,
    * recall-tested against this query in ScalaTest). Cosine runs through
    * the codegen'd [[graft.functions.DotProduct]] — no UDF, bit-stable vs
    * the oracle's double left-fold. */
  val dedupEmbed: Q = (s, d) => {
    val vecs = t(s, d, "embeddings")
      .withColumn("norm2", DotProduct(col("embedding"), col("embedding")))
    val a = vecs.select(col("vec_id").as("da"), col("embedding").as("va"), col("norm2").as("na"))
    val b = vecs.select(col("vec_id").as("db"), col("embedding").as("vb"), col("norm2").as("nb"))
    a.join(b, col("da") < col("db"))
      .withColumn("cosine",
        DotProduct(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb"))))
      .select(col("da"), col("db"), r4(col("cosine")).as("cosine"))
      .orderBy(desc("cosine"), asc("da"), asc("db"))
      .limit(50)
  }

  /** X1e at scale: the LSH-bucketed twin of dedupEmbed, end to end —
    * banded random-hyperplane signatures (6 bands × 8 bits over 48 planes,
    * from [[Similarity.lshSignature]]/[[Similarity.lshBands]]) → candidate
    * pairs sharing any band bucket → exact cosine verify via
    * [[graft.functions.DotProduct]] → top-k. Never enumerates n² pairs: the only joins are band-bucket
    * equi-joins (Σ bucket² candidates) and the two id-keyed lookups for
    * the verify. Recall vs the brute-force baseline is ScalaTest-gated
    * (LshRecallSpec) in the operator's design regime — near-dup pairs,
    * cosine ≥ 0.9, where 4×4-bit banding catches >95% of pairs. (The
    * driver corpus's most-similar pairs sit near cosine 0.5, where ANY
    * sub-quadratic method is probabilistically weak — random-hyperplane
    * collision probability degrades linearly with angle.) DuckDB-oracle'd
    * end to end: the planes are md5-derived ([[Similarity.lshSignature]])
    * so the oracle regenerates identical signatures, buckets, candidate
    * pairs, and cosines in pure SQL. */
  val dedupEmbedLsh: Q = (s, d) => {
    val base = t(s, d, "embeddings")
      .withColumn("norm2", DotProduct(col("embedding"), col("embedding")))
    val sig = Similarity.lshSignature(base)
    val cand = Similarity.lshCandidatePairs(sig, "vec_id")
    val va = base.select(col("vec_id").as("da"), col("embedding").as("va"), col("norm2").as("na"))
    val vb = base.select(col("vec_id").as("db"), col("embedding").as("vb"), col("norm2").as("nb"))
    cand.join(va, Seq("da")).join(vb, Seq("db"))
      .withColumn("cosine",
        DotProduct(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb"))))
      .select(col("da"), col("db"), r4(col("cosine")).as("cosine"))
      .orderBy(desc("cosine"), asc("da"), asc("db"))
      .limit(50)
  }

  /** X1b: MinHash + LSH banding (shingle → K minhashes → B bands → bucket
    * join → verify candidates with true Jaccard). The 100 TB design: the
    * only shuffles are the regroup of shingle hashes into per-doc sets
    * (none for in-row sets, [[docShingleSets]]) and the band-bucket
    * self-join, whose cost is Σ bucket² — no n² pair enumeration ever
    * happens. K=8 hashes in 4 bands of 2 catches
    * jaccard ≥ ~0.5 pairs with high probability on this corpus.
    *
    * The hash family is md5-derived (not Spark's murmur `hash()`) so an
    * external engine can reproduce it bit-for-bit; K independent hashes
    * come from ONE md5 per shingle via a universal family
    * h_k(x) = (a_k·x + b_k) mod M — md5 dominates the per-row cost, the
    * multiply-adds are codegen'd integer ops (measured ~2× on this query).
    * That reproducibility is cashed in below: the DuckDB oracle replays
    * the identical pipeline (md5 → universal hashes → min per doc → bands
    * → bucket join → Jaccard verify) in pure SQL. */
  /** MinHash constants shared by the batch pipeline and its in-row
    * streaming twin — K hashes in K/2 bands from the universal family
    * h_k(x) = ((2k+1)·x + 104729·(k+1)) mod M over md5-derived shingle
    * hashes. */
  private val MinhashK = 8
  private val MinhashM = 2147483647L // 2^31 − 1 (prime); a_k·x + b_k stays in int64

  private def minhashBandArraySql(col: Int => String): String =
    (0 until MinhashK / 2)
      .map(b => s"concat_ws('_', ${col(2 * b)}, ${col(2 * b + 1)})")
      .mkString("array(", ", ", ")")

  /** (doc_id, band, bh) banded MinHash rows over an exploded (doc_id, h)
    * shingle frame, by a groupBy of the K mins: the reference the in-row
    * signature ([[minhashInRow]], [[Multimodal.byteMinhashInRow]]) is
    * pinned equal to in DedupSpec and MultimodalSpec. Every index and
    * pair set of the library is built in-row. */
  def minhashBandsFromShingles(shFrame: DataFrame): DataFrame = {
    val sh = shFrame.withColumn("hb", pmod(col("h"), lit(MinhashM)))
    val hashAggs = (0 until MinhashK).map { k =>
      min(pmod(lit(2 * k + 1) * col("hb") + lit(104729L * (k + 1)), lit(MinhashM))).as(s"h$k")
    }
    sh.groupBy("doc_id").agg(hashAggs.head, hashAggs.tail: _*)
      .select(col("doc_id"), posexplode(expr(minhashBandArraySql(k => s"h$k"))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))
  }

  /** Banded-LSH candidates + exact-Jaccard verify over per-doc
    * (doc_id, hs, n_sh) shingle sets ([[docShingleSets]]): the
    * (da, db, jaccard, …) scored pair set every MinHash consumer
    * ([[PairGraph]], the pair deltas) derives from. The sets are signed
    * in-row ([[minhashInRowFromHashes]]): no signature groupBy. */
  def minhashScoredPairsOfSets(sets: DataFrame): DataFrame =
    minhashScoredPairsOfSigned(minhashInRowFromHashes(sets.select("doc_id", "hs")))

  /** The scored pair set of a signed frame (doc_id, hs, n_sh, bands), a
    * [[minhashInRow]] output: candidates from its `bands` as they are,
    * verified on its `hs`/`n_sh`. A materialized signed frame is not
    * signed again. */
  private[graft] def minhashScoredPairsOfSigned(signed: DataFrame): DataFrame =
    verifyJaccard(bandCandidates(signedBands(signed)), signed)

  /** The (doc_id, band, bh) rows of a signed frame's band-key array
    * ([[minhashInRow]]'s `bands`). */
  private[graft] def signedBands(signed: DataFrame): DataFrame =
    signed.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))

  /** The (doc_id, hs, n_sh, bands) columns of a signed frame
    * materialized under `label`: the one pass an index build or a pair
    * delta derives its bands, verify sets and pairs from. */
  private[graft] def materializeSigned(signed: DataFrame, label: String): DataFrame =
    materialize(signed.select("doc_id", "hs", "n_sh", "bands"), label)

  /** Candidate pairs (da < db) of a (doc_id, band, bh) band frame: the
    * docs sharing any band bucket — a bucket equi-join, never n². */
  private def bandCandidates(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()

  /** The STATELESS in-row MinHash signature: the whole signature —
    * shingle hashes, K universal-family mins, band keys — computes as
    * array expressions on each row, no explode, no groupBy. Identical
    * output to the groupBy form [[minhashBandsFromShingles]] by
    * construction (min over a multiset equals min over its distinct set;
    * DedupSpec asserts equality), which is what lets the
    * SAME index semantics run on an unbounded STREAM of incoming docs:
    * per-row map, zero state. Adds `hs` (distinct shingle hashes) and
    * `n_sh` for the exact-Jaccard verify, and `bands` (the band-key
    * array, posexplode-ready). */
  def minhashInRow(docs: DataFrame): DataFrame =
    minhashInRowFromHashes(withShingleHashes(docs))

  /** The signature back half of [[minhashInRow]] over any frame already
    * carrying `hs` (sorted distinct shingle hashes): universal-family
    * mins and band keys as in-row array expressions. Split out so other
    * shingle front ends (e.g. [[Multimodal]]'s byte windows) get the
    * identical stateless signature chain. */
  private[graft] def minhashInRowFromHashes(withHs: DataFrame): DataFrame = {
    val M = MinhashM
    def min(k: Int) = s"array_min(transform(hs, h -> " +
      s"pmod(${2 * k + 1}L * pmod(h, ${M}L) + ${104729L * (k + 1)}L, ${M}L)))"
    // an empty set has no band key: its null `bands` explode to no rows,
    // where all-null mins would put every empty set in one bucket
    withHs.withColumns(scala.collection.immutable.ListMap(
      "n_sh" -> size(col("hs")).cast("long"),
      "bands" -> when(size(col("hs")) > 0, expr(minhashBandArraySql(min)))))
  }

  /** The (doc_id, hs, n_sh) sets of [[docShingleSets]] regrouped from a
    * precomputed (doc_id, h) frame: the verify sets of the exact
    * n-gram and containment prefix keys, which index single shingles. */
  def docShingleSetsFromShingles(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("hs"), count(lit(1)).as("n_sh"))

  /** The MinHash near-dup pair graph, the paper's dedup decision set, as
    * one value every pair-graph analysis below is written against once:
    * the documents it was built from (`docs`), the scored `pairs`
    * (da, db, jaccard r4'd) at jaccard ≥ the threshold, and their
    * connected-component `labels` (id, lbl). Each is derived or opened
    * only when an analysis reads it: the CC labeling is the graph's only
    * eager work, so a readout over the pairs alone (centrality,
    * threshold tuning) runs no CC job, and a stored readout resolves
    * only the tables it reads. [[PairGraph.of]] scores the pairs in-plan
    * from in-row shingle sets; [[PairGraph.stored]] opens the
    * `minhash_pairs` store; [[forget]] purges tombstoned docs. */
  final class PairGraph(docsIn: => DataFrame, pairsIn: => DataFrame, labelsIn: => DataFrame) {
    lazy val docs: DataFrame = docsIn
    lazy val pairs: DataFrame = pairsIn
    lazy val labels: DataFrame = labelsIn

    /** The graph with the docs of `tomb` (one `doc_id` column)
      * forgotten: their docs and pairs dropped, and only the components
      * that held one relabeled ([[Forget.forgetPairFrames]]). */
    def forget(tomb: DataFrame): PairGraph =
      new PairGraph(docs.join(broadcast(tomb.select("doc_id")), Seq("doc_id"), "left_anti"),
        Forget.dropPairs(pairs, tomb), Forget.forgetPairFrames(pairs, labels, tomb)._2)
  }

  object PairGraph {

    /** The graph of any (doc_id, text) frame, scored from its in-row
      * shingle sets ([[docShingleSets]]). The sets are materialized: the
      * band side and both verify sides read them, and unmaterialized
      * each would re-run the md5 pass (measured at sf0.1, 4 cores: 27.8 s
      * for the pair set, against 0.5 s to materialize plus 1.1 s). */
    def of(docs: DataFrame): PairGraph =
      ofSets(docs, materialize(docShingleSets(docs).select("doc_id", "hs", "n_sh"),
        "dedup.shingle_sets"))

    /** The graph of `docs` over their per-doc (doc_id, hs, n_sh) shingle
      * sets, keeping the pairs whose
      * unrounded jaccard is at least `threshold`. The sets are read three
      * times, so a caller passes them materialized. */
    def ofSets(docs: DataFrame, sets: DataFrame, threshold: Double = 0.5): PairGraph =
      ofScored(docs, minhashScoredPairsOfSets(sets), threshold)

    /** The graph of `docs` over their signed frame ([[minhashInRow]]'s
      * doc_id, hs, n_sh, bands), passed materialized: its band keys are
      * read, not recomputed. */
    private[graft] def ofSigned(docs: DataFrame, signed: DataFrame,
        threshold: Double = 0.5): PairGraph =
      ofScored(docs, minhashScoredPairsOfSigned(signed), threshold)

    private def ofScored(docs: DataFrame, scored: DataFrame, threshold: Double): PairGraph = {
      val pairs = scored
        .filter(col("jaccard") >= threshold)
        .select(col("da"), col("db"), r4(col("jaccard")).as("jaccard"))
      new PairGraph(docs, pairs, clusterLabelsFrom(pairs))
    }

    /** The graph of the standard documents table and its CC labels as
      * ONE stored artifact: the shingle→band→verify chain and the
      * iterative CC both run once per (session, dataset), and every
      * `dedup_*` key and jx pair-graph route over the standard corpus
      * PROBES the stored tables. The pair graph is banded-join OUTPUT
      * (dup-rate × n rows, KB–MB at any scale), so the store holds the
      * decision set, not the corpus; doubles (r4'd jaccard) round-trip
      * parquet bit-exactly, so stored == in-plan under every oracle.
      * The composed pipeline keys deliberately DON'T probe this store —
      * their gate is that the stages compose in one plan. */
    def stored(s: SparkSession, d: String): PairGraph = {
      val dir = Artifacts.buildOnce(s, "minhash_pairs", d) { dd =>
        of(t(s, d, "documents")).pairs.write.mode("overwrite").parquet(s"$dd/pairs")
        clusterLabelsFrom(graft.Tables.parquet(s, s"$dd/pairs"))
          .write.mode("overwrite").parquet(s"$dd/labels")
      }
      at(s, t(s, d, "documents"), dir)
    }

    /** The graph of `docs` whose pairs and labels are the `pairs` and
      * `labels` tables under `dir`. */
    private[llm] def at(s: SparkSession, docs: => DataFrame, dir: java.io.File): PairGraph =
      new PairGraph(docs, graft.Tables.parquet(s, s"$dir/pairs"),
        graft.Tables.parquet(s, s"$dir/labels"))
  }

  /** Scored pairs in readout order: jaccard descending, then ids. */
  def pairsReadout(pairs: DataFrame): DataFrame =
    pairs.orderBy(desc("jaccard"), asc("da"), asc("db"))

  val dedupMinhash: Q = (s, d) => pairsReadout(PairGraph.stored(s, d).pairs)

  /** X1c: SimHash near-dup pairs (Charikar 2002). One 64-bit signature per
    * doc via the codegen'd [[graft.functions.SimHash64]] expression; the
    * banding trick (4 × 16-bit bands — pairs within hamming ≤ 3 must share
    * at least one band, by pigeonhole) replaces the n² self-join, exactly
    * like MinHash LSH. Not DuckDB-expressible (64-bit wraparound FNV);
    * correctness is ScalaTest-gated (golden signatures + hamming-locality
    * properties in HashExpressionsSpec), the driver records a rows-only
    * check.
    *
    * Scale note: 16-bit bands give ≤65k buckets/band, so at billion-doc
    * scale buckets go quadratic. Two production levers, both preserving
    * the pigeonhole guarantee: (1) the Manku/Jain/Sarma (WWW'07) multi-
    * index scheme — more, wider, permuted bands (e.g. 6 × 20-bit over a
    * rotated signature for hamming ≤ 3); (2) the bucket-size cap applied
    * below — a band bucket holding > [[SimhashBucketCap]] docs is
    * boilerplate (near-identical docs that exact-dedup should have caught)
    * and is dropped rather than allowed to go quadratic. */
  val dedupSimhash: Q = (s, d) => {
    val sigs = t(s, d, "documents")
      .select(col("doc_id"), SimHash64(split(col("text"), " ")).as("sig"))
    // posexplode of an in-row band array, not a 4-way union: a union
    // re-evaluates SimHash64 (interpreted, per-token) once per branch.
    val bands0 = sigs
      .select(col("doc_id"), col("sig"), posexplode(expr(
        "transform(sequence(0, 3), b -> shiftrightunsigned(sig, 16 * b) & 65535)")))
      .select(col("doc_id"), col("sig"), col("pos").as("band"), col("col").as("bh"))
    // Bucket cap as a window count over the same (band, bh) partitioning
    // the self-join shuffles on anyway — one extra sort, no second pass
    // over the SimHash computation.
    val bands = bands0
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .filter(col("bn") <= SimhashBucketCap)
      .drop("bn")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        SimHash64.hamming(col("x.sig"), col("y.sig")).as("hamming"))
      .distinct()
    cand.filter(col("hamming") <= 3)
      .orderBy(asc("hamming"), asc("da"), asc("db"))
      .limit(200)
  }

  /** The md5-derived 60-bit SimHash signature of each document — token
    * hashes from md5 (so ANY engine replays them), composed by the
    * classic per-bit majority vote, all relational (explode → 60 vote
    * sums → bit compose). Shared by the two oracle-able simhash paths
    * below; public so pipelines (and the recall spec) can band a
    * signature frame any way they need. */
  def simhashMd5Signatures(docs: DataFrame): DataFrame = {
    val bits = 60
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("h", expr("CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)"))
    val votes = (0 until bits).map { b =>
      sum(when(expr(s"(shiftright(h, $b) & 1)") === 1, 1).otherwise(-1)).as(s"v$b")
    }
    toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .withColumn("sig", (0 until bits)
        .map(b => when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce(_ + _))
      .select("doc_id", "sig")
  }

  /** (band, bucket-hash) rows for a signature frame from an in-row array
    * of band-key expressions, with the [[SimhashBucketCap]] skew cap
    * applied as a window count over the same (band, bh) partitioning the
    * downstream self-join shuffles on. */
  private def cappedBands(sigs: DataFrame, bandArrSql: String): DataFrame =
    sigs
      .select(col("doc_id"), col("sig"), posexplode(expr(bandArrSql)))
      .select(col("doc_id"), col("sig"), col("pos").as("band"), col("col").as("bh"))
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .filter(col("bn") <= SimhashBucketCap)
      .drop("bn")

  /** Pigeonhole banding, 4 × 15-bit blocks: pairs within hamming ≤ 3 of
    * 60 bits must agree on at least one block. */
  def simhash15Bands(sigs: DataFrame): DataFrame =
    cappedBands(sigs,
      "transform(sequence(0, 3), b -> shiftrightunsigned(sig, 15 * b) & 32767)")

  /** The 3-of-6 block combinations of the Manku/Jain/Sarma multi-index,
    * in `combinations` lexicographic order — the single source of truth
    * for both the Spark band array and the oracle's VALUES list. */
  private val MjsCombos: Seq[Seq[Int]] = (0 until 6).combinations(3).toSeq

  /** Manku/Jain/Sarma (WWW'07) multi-index banding: 6 blocks of 10 bits;
    * ≤ 3 errors corrupt at most 3 blocks, so some 3 of 6 blocks survive
    * intact — index every C(6,3) = 20 block-triple as a 30-bit key and
    * pairs within hamming ≤ 3 MUST collide in at least one table. Same
    * pigeonhole guarantee as [[simhash15Bands]], different constants:
    * keys are 2¹⁵× wider (30 vs 15 bits), so per-bucket collision mass
    * collapses — the lever that keeps simhash sub-quadratic at
    * billion-doc scale, paid for with 5× more index rows (20 vs 4 per
    * doc). Both stay in the inventory: 4×15 for corpora where 2¹⁵
    * buckets/band suffice, MJS for when they saturate. */
  def simhashMjsBands(sigs: DataFrame): DataFrame =
    cappedBands(sigs, MjsCombos.map { c =>
      s"(shiftrightunsigned(sig, ${10 * c(0)}) & 1023) * 1048576 + " +
        s"(shiftrightunsigned(sig, ${10 * c(1)}) & 1023) * 1024 + " +
        s"(shiftrightunsigned(sig, ${10 * c(2)}) & 1023)"
    }.mkString("array(", ", ", ")"))

  /** Bucket self-join → exact hamming verify → the ≤ 3 pair set. */
  private def simhashPairs(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(asc("hamming"), asc("da"), asc("db"))
      .limit(200)

  /** X1c oracle twin: SimHash re-expressed with md5-derived 60-bit token
    * hashes and a pure-relational bit-vote — every step (vote sums →
    * signature compose → 4×15-bit banding with the bucket cap → hamming
    * verify) replays in DuckDB SQL, so the WHOLE simhash pipeline sits
    * under the exact-compare gate. The codegen'd FNV [[SimHash64]] path
    * (`dedup_simhash`) remains the performance form — one pass per doc,
    * no token explode; this twin costs an explode + 60 vote aggregates
    * and exists for verification, not speed. */
  val dedupSimhashMd5: Q = (s, d) =>
    simhashPairs(simhash15Bands(simhashMd5Signatures(t(s, d, "documents"))))

  /** X1c at saturation scale: the same signature + verify under
    * [[simhashMjsBands]]. Output is the SAME hamming ≤ 3 pair set (the
    * pigeonhole guarantee is exact for both schemes — DedupSpec asserts
    * equality), reached through 30-bit buckets that stay tiny when
    * 15-bit ones go quadratic. Oracle-green like its twin. */
  val dedupSimhashMjs: Q = (s, d) =>
    simhashPairs(simhashMjsBands(simhashMd5Signatures(t(s, d, "documents"))))

  /** The generated vote/compose SQL shared by both simhash oracles —
    * built programmatically so the 60 bit positions can't drift between
    * the Spark plan and the SQL replay. */
  private val simhashSigsCte: String = {
    val voteCols = (0 until 60)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n                      ")
    val compose = (0 until 60)
      .map(b => s"(CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       tok2 AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h
                FROM toks WHERE length(w) > 0),
       votes AS (SELECT doc_id,
                      $voteCols
                 FROM tok2 GROUP BY doc_id),
       sigs AS (SELECT doc_id, $compose AS sig FROM votes)"""
  }

  /** Cap → bucket self-join → hamming verify, shared by both simhash
    * oracles (expects a `bands0(doc_id, sig, band, bh)` CTE upstream). */
  private val simhashOracleTail: String =
    s"""bands AS (SELECT doc_id, sig, band, bh FROM (
                   SELECT *, count(*) OVER (PARTITION BY band, bh) AS bn FROM bands0)
                 WHERE bn <= ${SimhashBucketCap}),
       cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                       bit_count(xor(x.sig, y.sig)) AS hamming
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
     SELECT da, db, CAST(hamming AS INT) AS hamming
     FROM cand WHERE hamming <= 3
     ORDER BY hamming ASC, da ASC, db ASC LIMIT 200"""

  private val simhashMd5Oracle: String =
    s"""WITH $simhashSigsCte,
       bands0 AS (SELECT doc_id, sig, b.b AS band,
                         (sig >> (15 * b.b)) & 32767 AS bh
                  FROM sigs, generate_series(0, 3) b(b)),
       $simhashOracleTail"""

  /** MJS oracle: the 20 block-triples come from the same [[MjsCombos]]
    * list as the Spark band array, emitted as a VALUES table of
    * (band, shift1, shift2, shift3). */
  private val simhashMjsOracle: String = {
    val values = MjsCombos.zipWithIndex
      .map { case (c, i) => s"(${i}, ${10 * c(0)}, ${10 * c(1)}, ${10 * c(2)})" }
      .mkString(", ")
    s"""WITH $simhashSigsCte,
       combos AS (SELECT * FROM (VALUES $values) c(band, s1, s2, s3)),
       bands0 AS (SELECT doc_id, sig, band,
                         ((sig >> s1) & 1023) * 1048576 +
                         ((sig >> s2) & 1023) * 1024 +
                         ((sig >> s3) & 1023) AS bh
                  FROM sigs CROSS JOIN combos),
       $simhashOracleTail"""
  }

  /** X1h: the ONLINE near-dup gate — "is this incoming document a
    * near-dup of the corpus?", the ingestion-time form every training
    * pipeline needs once the corpus is deduped. `newDocs` may be a
    * STREAMING frame: its signatures compute in-row ([[minhashInRow]] —
    * stateless), candidates come from a stream-static equi-join against
    * the pre-built corpus band index, and the exact-Jaccard verify is a
    * second stream-static join plus an in-row `array_intersect` — no
    * stateful operator anywhere, so it runs append-mode with no
    * watermark. A doc matching a corpus doc in several bands emits that
    * many duplicate rows; dedupe at the sink per micro-batch
    * (foreachBatch dropDuplicates — the ST5/ST6 layer) rather than with
    * an in-stream distinct, which would grow state forever. At 100 TB:
    * the band index shuffles once at build time; each arriving doc
    * touches only its 4 band buckets. */
  def dedupAgainstCorpus(newDocs: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame, jt: Double = 0.5): DataFrame =
    dedupAgainstCorpusSigned(minhashInRow(newDocs), corpusBands, corpusSets, jt)

  /** [[dedupAgainstCorpus]] over an already-SIGNED probe frame
    * ((doc_id, hs, n_sh, bands) — [[minhashInRow]]'s output). Split out
    * so a batch caller can materialize the signatures once: the in-row
    * chain is ~1k md5s per doc, and an unmaterialized probe subtree gets
    * re-evaluated by the pushed-down non-empty filter, the band-join
    * broadcast AND its dynamic-partition-pruning subquery — 3× the
    * probe's real cost in the gate's measured plan. A streaming caller
    * passes the signed stream straight through (stateless in-row
    * signatures; nothing to materialize). */
  def dedupAgainstCorpusSigned(signed: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame, jt: Double = 0.5): DataFrame =
    signed
      .select(col("doc_id"), col("hs"), col("n_sh"), posexplode(col("bands")))
      .select(col("doc_id"), col("hs"), col("n_sh"),
        col("pos").as("band"), col("col").as("bh"))
      .join(corpusBands.select(col("doc_id").as("corpus_doc"), col("band"), col("bh")),
        Seq("band", "bh"))
      .join(corpusSets.select(col("doc_id").as("corpus_doc"),
        col("hs").as("corpus_hs"), col("n_sh").as("corpus_n")), Seq("corpus_doc"))
      // length-ratio prune (prefix-filter literature): jaccard >= jt
      // forces min(|A|,|B|) >= jt * max(|A|,|B|) — a necessary condition,
      // so candidates failing it are dropped BEFORE paying the array
      // intersect. The KEEP filter below runs on the r4-ROUNDED jaccard,
      // which admits true jaccard down to jt - 0.00005 (rounds up to jt);
      // the prune threshold carries the same slack so no pair the rounded
      // gate would keep is pruned — exactness vs the prune-free oracle
      // preserved bit-for-bit
      .filter(least(col("n_sh"), col("corpus_n")) >=
        lit(jt - 0.00005) * greatest(col("n_sh"), col("corpus_n")))
      .withColumn("c", graft.functions.SortedIntersectCount(col("hs"), col("corpus_hs")))
      .withColumn("jaccard",
        r4(col("c").cast("double") / (col("n_sh") + col("corpus_n") - col("c"))))
      .filter(col("jaccard") >= jt)
      .select("doc_id", "corpus_doc", "jaccard")

  /** X1d driver gate — the online dedup gate's batch twin (the identical
    * plan runs on a stream; DedupSpec drives the MemoryStream form): a
    * deterministic probe slice (doc_id % 10 = 0) through
    * [[dedupAgainstCorpus]] against the full corpus index, self-matches
    * removed, sink-style distinct applied so the oracle compares the
    * decision set. The probe side signatures compute IN-ROW
    * ([[minhashInRow]]) — their equality to the batch signature is what
    * lets the DuckDB oracle replay the batch form. */
  val dedupOnlineGate: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val probes = docs.filter(col("doc_id") % 10 === 0)
    // The corpus INDEX (bands + verify sets) is built ONCE per session
    // and STORED ([[Artifacts.buildOnce]]) — the operator's own contract
    // is build-once/probe-many, so the gate times the PROBE against the
    // stored index, not a per-call rebuild (the rebuild was the #1 bench
    // cost in round 11; layout: [[writeBandIndex]]). At 100 TB this is
    // the production shape verbatim: index build on corpus version
    // change, every arriving batch pays only the in-row signature + two
    // index joins.
    val dir = Artifacts.buildOnce(s, "dedup_gate", d)(dd =>
      writeBandIndex(minhashInRow(docs), s"$dd"))
    // probe signatures materialized ONCE (the in-row chain is the real
    // per-probe cost; see dedupAgainstCorpusSigned) — the streaming form
    // computes them per arriving row, the batch gate per probe slice
    dedupAgainstCorpusSigned(materialize(minhashInRow(probes), "dedup.probe_signatures"),
        graft.Tables.parquet(s, s"$dir/bands"), graft.Tables.parquet(s, s"$dir/sets"))
      .filter(col("doc_id") =!= col("corpus_doc"))
      .distinct()
      .orderBy(desc("jaccard"), asc("doc_id"), asc("corpus_doc"))
  }

  /** Writes the probe index of an online gate or a pair store under
    * `dir`: `bands` (doc_id, band, bh), partitioned by band so a narrower
    * probe (a stream probing one band at a time) partition-prunes, and
    * `sets` (doc_id, hs, n_sh). Both derive from ONE materialized pass
    * over the signed frame `signed` ([[minhashInRow]] or
    * [[Multimodal.byteMinhashInRow]]), which is returned so a caller can
    * score its pairs from the same pass. */
  private[graft] def writeBandIndex(signed: DataFrame, dir: String,
      label: String = "dedup.index_signatures"): DataFrame = {
    val sm = materializeSigned(signed, label)
    signedBands(sm).write.mode("overwrite").partitionBy("band").parquet(s"$dir/bands")
    sm.select("doc_id", "hs", "n_sh").write.mode("overwrite").parquet(s"$dir/sets")
    sm
  }

  /** X1i: EXACT incremental growth of the near-dup pair graph — the
    * dedup twin of `sim_ivf_delta`, with a STRONGER claim: MinHash
    * signatures need no training, so base ∪ delta is not merely
    * quantizer-consistent with a rebuild, it IS the full-corpus pair
    * set, bit for bit. New docs contribute (a) cross pairs — in-row
    * signatures band-joined against the BASE index (the online gate's
    * stream-static shape: each arriving doc touches only its 4 band
    * buckets) — and (b) delta-internal pairs from the banded self-join
    * of the (small) delta slice. The gate below unions the three pair
    * sets and is oracled by `dedup_minhash`'s FULL-corpus SQL verbatim:
    * the exactness claim is the gate. At 100 TB this is how the dedup
    * index tracks a growing corpus without re-shingling history —
    * the index build is per-batch-incremental, only the (rare) CC
    * label refresh touches the accumulated KB-scale pair graph. */
  def pairsDeltaOf(base: DataFrame, delta: DataFrame): DataFrame = {
    val baseSigned = materializeSigned(minhashInRow(base), "dedup.base_signatures")
    val deltaSigned = materializeSigned(minhashInRow(delta), "dedup.delta_signatures")
    PairGraph.ofSigned(base, baseSigned).pairs
      .unionByName(crossPairsSigned(deltaSigned, signedBands(baseSigned), baseSigned))
      .unionByName(PairGraph.ofSigned(delta, deltaSigned).pairs)
  }

  /** Canonically-ordered (da < db) scored pairs between a SIGNED probe
    * frame ([[minhashInRow]]'s output) and an index (bands: (doc_id,
    * band, bh); sets: (doc_id, hs, n_sh)) — the batch-exact cross step
    * of [[pairsDeltaOf]] and the streamed pair-store sink. Threshold
    * applies to the UNROUNDED jaccard (the batch pipeline's rule). */
  private[graft] def crossPairsSigned(signed: DataFrame, bands: DataFrame,
      sets: DataFrame): DataFrame = {
    val cand = signedBands(signed)
      .join(bands.select(col("doc_id").as("corpus_doc"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_id") =!= col("corpus_doc"))
      .select("doc_id", "corpus_doc").distinct()
    cand
      .join(signed.select(col("doc_id"), col("hs"), col("n_sh")), Seq("doc_id"))
      .join(sets.select(col("doc_id").as("corpus_doc"),
        col("hs").as("corpus_hs"), col("n_sh").as("corpus_n")),
        Seq("corpus_doc"))
      .withColumn("c",
        graft.functions.SortedIntersectCount(col("hs"), col("corpus_hs")))
      .withColumn("j",
        col("c").cast("double") / (col("n_sh") + col("corpus_n") - col("c")))
      .filter(col("j") >= 0.5)
      .select(least(col("doc_id"), col("corpus_doc")).as("da"),
        greatest(col("doc_id"), col("corpus_doc")).as("db"),
        r4(col("j")).as("jaccard"))
  }

  /** X1j: BOILERPLATE-HUB detection — damped PageRank over the near-dup
    * pair graph itself (the doc-level twin of `sim_knn_centrality`).
    * A doc that is near-dup-connected to many docs that are THEMSELVES
    * well-connected is a template/boilerplate hub — the thing to
    * review/blocklist, not merely drop, since its whole neighbourhood
    * is suspect. Reads the graph's pairs only, no CC labels; the
    * iteration chain is [[Similarity.centralityOfMutual]] verbatim
    * (decimal-exact, 3 fixed rounds, CTE-replayed). */
  val dedupCentrality: Q = (s, d) => pairCentrality(PairGraph.stored(s, d))

  def pairCentrality(g: PairGraph): DataFrame =
    Similarity.centralityOfMutual(g.pairs.select(col("da").as("src"), col("db").as("dst")))
      .select(col("vec_id").as("doc_id"), col("centrality"), col("degree"))
      .orderBy(desc("centrality"), asc("doc_id"))

  /** X1h: the corpus DUPLICATION PROFILE — the cluster-size histogram of
    * the near-dup graph: how much of the corpus is duplicated, and in
    * what shape. A long tail of pairs is crawl noise; a few mega-clusters
    * are boilerplate (and the thing that blows up Σcᵢ² joins downstream);
    * `n_redundant` sums to exactly the docs dedup will remove. The
    * standard corpus probes the STORED pair-graph labels (a KB-scale
    * artifact even at 100 TB — dup-rate × n rows, never n) and the
    * histogram is two bounded aggregates on top; nothing touches the
    * corpus itself. */
  val dedupProfile: Q = (s, d) => profile(PairGraph.stored(s, d))

  def profile(g: PairGraph): DataFrame =
    g.labels.groupBy("lbl")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        (sum("sz") - count(lit(1))).as("n_redundant"))
      .orderBy("cluster_size")

  /** Driver gate: even-id base, odd-id delta — the incremental union
    * must reproduce `dedup_minhash`'s full-corpus pair set exactly. */
  val dedupPairsDelta: Q = (s, d) => {
    val docs = t(s, d, "documents")
    pairsReadout(pairsDeltaOf(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)))
  }

  /** X1f: near-dup clustering — the step a real dedup pipeline needs
    * AFTER candidate pairs: connected components over the pair graph,
    * one canonical doc per cluster (the min id; everything else is the
    * drop set). Components via iterative min-label propagation: each
    * round is one distributed join + min-groupBy (the GraphX-free CC
    * pattern); the driver `while` only counts rounds — all data work is
    * distributed — and each round's materialization caps plan-lineage
    * growth.
    * Near-dup components have tiny diameters (docs similar to a common
    * doc are similar-ish to each other), so rounds ≈ 3–4; a 100 TB run
    * facing adversarial chain components would swap in large-star/
    * small-star (Kiveris et al., same join primitives). Oracle: DuckDB
    * replays the same MinHash pairs, then a recursive-CTE reachability
    * closure — min reachable label ≡ the propagation fixpoint.
    *
    * The min-label propagation over ANY (da, db) pair frame: (id, lbl)
    * with lbl = the smallest doc id reachable from id ([[PairGraph]]'s
    * labels, and the kNN graph's).
    *
    * Driver short-circuit (forward idea aa): a near-dup pair set is the
    * OUTPUT of the banded join — KB-to-MB scale even on a 100 TB corpus
    * (it is the duplicate rate times n, not n²). When it fits under
    * `driverMax` rows (bounded: 2M pairs ≈ 32 MB of longs), a single
    * collect + union-find replaces the multi-job distributed loop whose
    * cost is pure scheduling overhead at that size (measured: each
    * propagate/checkpoint/convergence-check round is a full Spark job).
    * Union-by-min + path compression makes every root the component
    * minimum, so the labels are IDENTICAL to the distributed fixpoint
    * (DedupSpec pins equality on the same pair set). Above the bound the
    * pointer-jumping loop runs unchanged — the 100 TB path stays
    * distributed, the threshold only picks the cheaper engine for the
    * same deterministic answer. The union-find labels come back as a
    * local relation with a finite size estimate, so the planner
    * broadcasts them into a join when they are small — no hint, and a
    * shuffle join when they are large. */
  def clusterLabelsFrom(pairFrame: DataFrame,
      driverMax: Long = 2000000L): DataFrame = {
    val pairs = materialize(pairFrame.select("da", "db"), "dedup.cc_pairs")
    // one job decides and fetches: at most driverMax + 1 pairs, read from
    // one partition so the limit cannot scale up into further jobs
    val head = pairs.coalesce(1)
      .limit(math.min(math.max(driverMax + 1, 0L), Int.MaxValue.toLong).toInt).collect()
    if (head.length <= driverMax) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      head.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // attach the larger root under the smaller: the final root of
        // every component is its minimum id — the distributed loop's
        // min-label fixpoint by construction
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keysIterator.toSeq.sorted
        .map(id => org.apache.spark.sql.Row(id, find(id)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("lbl",
          org.apache.spark.sql.types.LongType, nullable = false)))
      // a local relation, not an RDD: it carries its size (see doc)
      import scala.jdk.CollectionConverters._
      return pairFrame.sparkSession.createDataFrame(rows.asJava, schema)
    }
    val edges = materialize(pairs.select(col("da").as("src"), col("db").as("dst"))
      .unionByName(pairs.select(col("db").as("src"), col("da").as("dst"))),
      "dedup.cc_edges")
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    // one hop of min-label propagation over the edges, then POINTER
    // JUMPING: every label is itself a vertex id, so follow
    // lbl -> label(lbl) and keep the smaller. The reach of the component
    // minimum DOUBLES per step instead of growing one hop, so
    // convergence is O(log diameter) — a chain component longer than the
    // round cap (the r13 mutual-graph regression: denser multi-probe
    // graphs make long thin components) still converges, and at 100 TB
    // the step count stays logarithmic in n.
    def step(l: DataFrame): DataFrame = {
      val prop = edges.join(l.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("lbl"))
      val gathered = l.unionByName(prop)
        .groupBy("id").agg(min("lbl").as("lbl"))
      gathered.join(
          gathered.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
    }
    var converged = false
    var iter = 0
    while (!converged && iter < 20) {
      // TWO steps per checkpoint/convergence check: the check and the
      // checkpoint are each a full Spark job, and on the KB-scale label
      // tables of a typical component set the per-job scheduling
      // overhead — not the data — dominates CC cost (measured 5.7 s for
      // 2k pairs). An extra step after quiescence is a no-op join, far
      // cheaper than doubling the action count.
      val next = materialize(step(step(labels)), "dedup.cc_labels")
      // labels only ever decrease; any strict decrease = not converged
      converged = next.join(labels.withColumnRenamed("lbl", "prev"), Seq("id"))
        .filter(col("lbl") < col("prev")).isEmpty
      labels = next
      iter += 1
    }
    labels
  }

  val dedupClusters: Q = (s, d) => clusters(PairGraph.stored(s, d))

  /** One row per near-dup cluster: its id (the min member), size and
    * sorted member list. */
  def clusters(g: PairGraph): DataFrame =
    g.labels.groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",",
          transform(array_sort(collect_list(col("id"))), _.cast("string"))).as("members"))
      .orderBy("cluster_id")

  /** X1f': the ACTIONABLE dedup output — the drop list: every non-canonical
    * member mapped to its cluster's canonical doc (the min id). A real
    * pipeline left-anti joins the corpus against this to materialize the
    * deduped training set; emitting (doc_id → canonical) rather than the
    * cluster report keeps provenance (why was this doc dropped, and for
    * which survivor). */
  val dedupDropList: Q = (s, d) => dropList(PairGraph.stored(s, d))

  def dropList(g: PairGraph): DataFrame =
    g.labels
      .filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_id"), col("lbl").as("canonical"))
      .orderBy("doc_id")

  /** X1f'': QUALITY-AWARE canonical selection — which duplicate to KEEP.
    * min-id canonicals (dedupDropList) are arbitrary; production dedup
    * keeps the best member of each near-dup cluster (the fuller, less
    * truncated copy) and drops the rest. Per cluster: argmax over
    * (quality, n_chars, -doc_id) using the same cheap quality score as
    * `text_quality` — a TOTAL order (doc_id is unique), so the pick is
    * deterministic under any partitioning. Scale shape: the label table
    * is pair-graph output (dup-rate × n rows, not n); the doc-side join
    * moves one row per CLUSTERED doc only, and the per-cluster argmax is
    * a `max_by` aggregate — partial-aggregated map-side, one shuffle on
    * the cluster key, no window over the corpus. At a 30–50 % dup rate
    * on 100 TB the label join is a plain equi-join (NOT broadcast — the
    * drop set scales with the corpus); AQE handles the skew of a
    * boilerplate mega-cluster. */
  val dedupCanonical: Q = (s, d) => canonical(PairGraph.stored(s, d))

  def canonical(g: PairGraph): DataFrame =
    canonicalPicks(g.labels, g.docs)
      .select(col("cluster_id"),
        (-col("mx.neg_id")).as("canonical"),
        col("mx.quality").as("canon_quality"),
        col("mx.n_chars").as("canon_chars"),
        col("n_docs"),
        (col("n_docs") - 1).as("n_dropped"))
      .orderBy("cluster_id")

  /** The canonical pick of every cluster of `labels` (id, lbl) over the
    * (doc_id, n_chars, text) `docs`: per cluster (`cluster_id`, its
    * `n_docs`), `mx` = the max of (quality, n_chars, neg_id = -doc_id),
    * so the pick is the doc -mx.neg_id. The one definition behind
    * [[canonical]] and the quality-aware survivors of
    * [[Pipeline.corpusSurvivors]]. */
  private[llm] def canonicalPicks(labels: DataFrame, docs: DataFrame): DataFrame = {
    val q = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_stop",
        size(expr("filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'to'))")))
      .select(col("doc_id"), col("n_chars"),
        r4(when(col("n_chars") < 100, 0.2).otherwise(1.0) *
          when(col("n_stop") === 0, 0.5).otherwise(1.0)).as("quality"))
    labels.join(q, labels("id") === q("doc_id"))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(
        max(struct(col("quality"), col("n_chars"),
          (-col("doc_id")).as("neg_id"))).as("mx"),
        count(lit(1)).as("n_docs"))
  }

  /** Every doc of the graph with its `carry` columns and its cluster id:
    * its CC label, or its own id for a singleton. */
  private def docClusters(g: PairGraph, carry: String*): DataFrame =
    g.docs.select("doc_id", carry: _*)
      .join(g.labels, col("doc_id") === col("id"), "left")
      .select((col("doc_id") +: carry.map(col(_))) :+
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"): _*)

  /** X1g: LEAKAGE-FREE train/val split — the published dedup-leakage
    * concern (a validation doc's near-duplicate sitting in train makes
    * the eval number a memorization readout, Lee et al. 2022) made
    * STRUCTURAL: the split hashes the doc's near-dup CLUSTER LABEL, not
    * its id, so every member of a cluster lands on the same side by
    * construction. Singletons label themselves (label = doc_id). The
    * hash is the repo's stable md5 key recipe — membership survives
    * engines, runs, and repartitioning. Probes the stored pair-graph
    * labels (`minhash_pairs`); one doc-level left join + an in-row
    * hash — no new corpus pass. */
  val dedupSplitLeakfree: Q = (s, d) => splitLeakfree(PairGraph.stored(s, d))

  def splitLeakfree(g: PairGraph): DataFrame =
    docClusters(g)
      .withColumn("split", when(expr(
        "CAST(conv(substr(md5(CAST(cluster_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 10")
        < 9, "train").otherwise("val"))
      .orderBy("doc_id")
      .limit(300)

  /** X1i: SOFT dedup — reweighting instead of dropping. Hard dedup
    * discards information a sampler could still use; the soft policy
    * keeps every member of a near-dup cluster but assigns it sampling
    * weight 1/|cluster| (integer per-mille here), so the cluster as a
    * whole contributes one doc's worth of probability mass and the
    * "duplicates boost their content's sampling rate" bias vanishes
    * without deleting a byte. Probes the stored pair-graph labels — one
    * doc-level join + a KB-scale cluster-size aggregate, no corpus
    * rescan; the downstream sampler is `sample_weighted`'s machinery. */
  val dedupReweight: Q = (s, d) => reweight(PairGraph.stored(s, d))

  def reweight(g: PairGraph): DataFrame =
    clusterSizes(g)
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        expr("1000 div n_members").as("weight_permille"))
      .orderBy("doc_id")
      .limit(300)

  /** Every doc of the graph with its cluster id and the cluster's
    * member count `n_members`. */
  private def clusterSizes(g: PairGraph): DataFrame = {
    val sl = docClusters(g)
    sl.join(sl.groupBy("cluster_id").agg(count(lit(1)).as("n_members")), Seq("cluster_id"))
  }

  /** X1i': the soft-dedup policy EXERCISED — Efraimidis–Spirakis weighted
    * sampling (the `sample_weighted` machinery verbatim) with weight
    * 1/|cluster|: a doc's selection probability scales down by its
    * duplication, so the drawn sample is distributed as if the corpus
    * were deduped while never deleting a byte. Deterministic md5-uniform
    * draws; top-k by exponential arrival (TakeOrdered — per-partition
    * heaps, no global sort). The composition gate for reweight →
    * sampler. */
  val sampleSoftDedup: Q = (s, d) => softSample(PairGraph.stored(s, d))

  def softSample(g: PairGraph): DataFrame =
    clusterSizes(g)
      .withColumn("u",
        (expr("CAST(conv(substr(md5(concat('ssamp:', CAST(doc_id AS STRING))), " +
          "1, 15), 16, 10) AS BIGINT)")
          .cast("double") + 1.0) / lit(1.152921504606846976e18))
      .withColumn("wt", lit(1.0) / col("n_members"))
      .withColumn("pri", -log(col("u")) / col("wt"))
      .orderBy(asc("pri"), asc("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("cluster_id"), col("n_members"))
      .orderBy("doc_id")

  /** X1j: STRATIFIED leak-free split — train/val/test with EXACT
    * per-source quotas at cluster granularity. The hash split (X1g)
    * only hits its 90/10 in expectation; production eval sets want
    * exact per-source proportions. Clusters stay atomic (leak-free by
    * construction); each cluster strata-keys on its canonical (min-id)
    * member's source, clusters order deterministically by
    * md5(cluster_id) within the stratum, and a cumulative doc count
    * cuts exact 90/5/5 boundaries — all-integer compares
    * (1000·cum < 900·total), no RNG, bit-stable under any
    * partitioning. Scale: windows run over the KB-scale CLUSTER table
    * (|clusters| rows partitioned by source), never the corpus; docs
    * join the verdict by cluster key once. */
  val dedupSplitStratified: Q = (s, d) => splitStratified(PairGraph.stored(s, d))

  def splitStratified(g: PairGraph): DataFrame = {
    val sl = docClusters(g, "source")
    val clusters = sl.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min(struct(col("doc_id"), col("source"))).as("mn"))
      .select(col("cluster_id"), col("n_members"), col("mn.source").as("stratum"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("stratum")
      .orderBy(md5(col("cluster_id").cast("string")), col("cluster_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val tot = clusters.groupBy("stratum").agg(sum("n_members").as("n_total"))
    val assigned = clusters
      .withColumn("cum_before", coalesce(sum("n_members").over(w), lit(0L)))
      .join(tot, Seq("stratum"))
      .withColumn("split",
        when(lit(1000) * col("cum_before") < lit(900) * col("n_total"), "train")
          .when(lit(1000) * col("cum_before") < lit(950) * col("n_total"), "val")
          .otherwise("test"))
    sl.join(assigned.select("cluster_id", "split"), Seq("cluster_id"))
      .select("doc_id", "source", "cluster_id", "split")
      .orderBy("doc_id")
      .limit(300)
  }

  /** X1k: DEDUP-THRESHOLD TUNING census — "measure, don't guess" (the
    * X3l/X4ae pattern) applied to the jaccard knob itself: per candidate
    * τ ∈ {0.5 … 0.9}, the pair count, the distinct docs touched, and the
    * decimal-exact mean jaccard of surviving pairs — the whole
    * aggressiveness/coverage curve in 5 rows, so the τ an operator ships
    * is a read knee, not a default. Reads the graph's pairs only (banded-
    * join output, KB–MB at any corpus size); shallower thresholds are
    * FILTERS over the one pair table — no rescore per candidate, the
    * probe-tuning trick verbatim. */
  val dedupThresholdTuning: Q = (s, d) => thresholdTuning(PairGraph.stored(s, d))

  def thresholdTuning(g: PairGraph): DataFrame = {
    val taus = array(Seq(500, 700, 900, 950, 975).map(lit(_)): _*)
    val tp = g.pairs
      .select(explode(taus).as("tau_permille"),
        col("da"), col("db"), col("jaccard"))
      .filter(col("jaccard") >= col("tau_permille") / 1000.0)
    val agg = tp.groupBy("tau_permille")
      .agg(count(lit(1)).as("n_pairs"),
        r4(sum(col("jaccard").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("mean_jaccard"))
    val ends = tp
      .select(col("tau_permille"), explode(array(col("da"), col("db"))).as("id"))
      .distinct()
      .groupBy("tau_permille")
      .agg(count(lit(1)).as("n_docs"))
    agg.join(ends, Seq("tau_permille"))
      .select("tau_permille", "n_pairs", "n_docs", "mean_jaccard")
      .orderBy("tau_permille")
  }

  /** X1e: passage-level EXACT-substring dedup — the training-data pass
    * that catches repeated SPANS across documents (boilerplate, quoted
    * blocks, licence headers) that whole-doc measures miss: two long docs
    * sharing one 16-token passage have tiny Jaccard but the passage still
    * memorizes. The suffix-array formulation doesn't distribute; the
    * Spark-native equivalent is CONTENT-DEFINED window fingerprinting:
    * every k-token rolling window is hashed (one in-row transform over
    * the token array — the linear pass), and a window is KEPT iff its own
    * hash ≡ 0 (mod p). Selection by content, not position, is the load-
    * bearing trick: the same passage selects the same windows in every
    * document regardless of alignment, so no stride/offset coordination
    * is needed (the winnowing/CDC idea). Expected 1/p of windows survive
    * to the shuffle; a shared passage of length ≥ k is detected with
    * probability ≈ 1 − (1−1/p)^(L−k+1), rising to certainty for
    * multi-window spans. Report = fingerprints seen in ≥ 2 distinct docs,
    * with occurrence counts — the input to a span-trim pass. */
  /** The selected-window front end of [[dedupSubstring]] over any
    * (doc_id, text) frame: rolling k-token window hashes, kept iff
    * h ≡ 0 (mod p). Content-defined selection — the same passage keeps
    * the same windows at any offset in any document. */
  def substringFingerprints(docs: DataFrame, k: Int = 16, p: Int = 4): DataFrame =
    substringFingerprintsPos(docs, k, p).select("doc_id", "h")

  /** As [[substringFingerprints]] but keeping each selected window's
    * 0-based token position — the span-trim pass needs to know WHICH
    * tokens a repeated fingerprint covers. */
  def substringFingerprintsPos(docs: DataFrame, k: Int = 16, p: Int = 4): DataFrame =
    // rolling md5-per-window pass — same scan-only repartition rationale
    // as [[shinglesOf]] (Common.spreadScan: no-op on composed frames)
    graft.operators.Common.spreadScan(docs)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(toks) - $k),
              i -> CAST(conv(substr(md5(array_join(slice(toks, i + 1, $k), ' ')),
                             1, 15), 16, 10) AS BIGINT))""")))
      .select(col("doc_id"), col("pos").as("tok_pos"), col("col").as("h"))
      .filter(pmod(col("h"), lit(p)) === 0)

  val dedupSubstring: Q = (s, d) => {
    substringFingerprints(t(s, d, "documents"))
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min("doc_id").as("min_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(desc("n_docs"), desc("n_occ"), asc("h"))
      .limit(200)
  }

  /** X1e': the span-TRIM pass completing [[dedupSubstring]] — actually
    * REMOVE each repeated passage everywhere except its canonical (lowest
    * doc_id) occurrence, instead of just reporting it. A doc's token is
    * dropped iff it lies inside a selected window whose fingerprint also
    * appears in an earlier doc. All per-doc work (window hashes, covered
    * positions, token filter, re-join) is in-row over the token array;
    * the only shuffle moves selected 8-byte fingerprints — the canonical
    * owner per fingerprint is a KB-scale broadcast side at any corpus
    * size. Output pins the trimmed byte stream (md5), not just counts. */
  val dedupSubstringTrim: Q = (s, d) =>
    substringTrim(t(s, d, "documents"))
      .filter(col("n_dropped") > 0)
      .orderBy("doc_id")
      .limit(300)

  /** The kept (doc_id, idx, tok) stream after span removal — shared core
    * of [[substringTrim]] (counts/md5 report) and [[substringTrimText]]
    * (the trimmed corpus itself). */
  private def substringKeptTokens(docs: DataFrame, k: Int, p: Int):
      (DataFrame, DataFrame) = {
    // the selected-window frame is read twice (owner aggregate + the
    // covered-position join); unmaterialized, the md5-per-window rolling
    // pass — the expensive linear scan — replayed under each consumer.
    // 1/p of windows survive selection, so the frame is a fraction of
    // the token count: materialize once (a parquet window index at
    // 100 TB — the [[substringIndex]] store shape).
    val wins = materialize(substringFingerprintsPos(docs, k, p), "dedup.span_windows")
    // canonical owner per shared fingerprint
    val shared = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"), min("doc_id").as("owner"))
      .filter(col("n_docs") >= 2)
      .select("h", "owner")
    // token positions covered by a repeated window this doc does not own
    val covered = wins.join(shared, Seq("h"))
      .filter(col("doc_id") =!= col("owner"))
      .select(col("doc_id"),
        explode(sequence(col("tok_pos"), col("tok_pos") + lit(k - 1))).as("idx"))
      .distinct()
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").as("idx"), col("col").as("tok"))
    (toks, toks.join(covered, Seq("doc_id", "idx"), "left_anti"))
  }

  /** The trimmed corpus: every doc with its repeated spans removed (the
    * canonical occurrence keeps them). Docs trimmed to nothing drop out;
    * docs with no repeats pass through byte-identical. */
  def substringTrimText(docs: DataFrame, k: Int = 16, p: Int = 4): DataFrame =
    substringKeptTokens(docs, k, p)._2
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("tok")))),
        x => x.getField("tok")), " ").as("text"))

  /** The reusable trim REPORT over any (doc_id, text) frame: per doc, the
    * token counts before/after and the md5 of the trimmed byte stream.
    * Docs trimmed to nothing drop out (no kept tokens to aggregate). */
  def substringTrim(docs: DataFrame, k: Int = 16, p: Int = 4): DataFrame = {
    val (toks, kept) = substringKeptTokens(docs, k, p)
    kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          x => x.getField("tok")), " ")).as("trim_md5"))
      .join(toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok")), Seq("doc_id"))
      .withColumn("n_dropped", col("n_tok") - col("n_kept"))
      .select("doc_id", "n_tok", "n_kept", "n_dropped", "trim_md5")
  }

  /** The storable passage index for [[substringGateAgainstCorpus]]: one
    * row per selected fingerprint with its canonical owner — KB–MB scale
    * per corpus shard, buildable once and unioned incrementally. */
  def substringIndex(corpus: DataFrame, k: Int = 16, p: Int = 4): DataFrame =
    substringFingerprints(corpus, k, p)
      .groupBy("h").agg(min("doc_id").as("owner"))

  /** X1e streaming twin: the passage gate at INGESTION time — "does this
    * arriving doc contain a span already in the corpus?". The doc's
    * selected window hashes compute in-row (stateless — explode/transform
    * only, no aggregate), then a stream-static equi-join against the
    * prebuilt [[substringIndex]]; append-mode, no watermark, no state.
    * Content-defined selection is what makes this work online: the
    * arriving doc selects exactly the windows the corpus selected for the
    * same span, at any offset. Emits one row per hit (doc_id, tok_pos, h,
    * owner); dedupe/aggregate at the sink per micro-batch. */
  def substringGateAgainstCorpus(newDocs: DataFrame, corpusIndex: DataFrame,
      k: Int = 16, p: Int = 4): DataFrame =
    substringFingerprintsPos(newDocs, k, p)
      .join(corpusIndex.select(col("h"), col("owner")), Seq("h"))
      .select("doc_id", "tok_pos", "h", "owner")

  /** X4b: benchmark decontamination — the training-data hygiene op that
    * keeps evaluation content out of the training set (the GPT-3-style
    * n-gram overlap filter; 3-word shingles here). Two-table API: the
    * corpus and the benchmark are independent (doc_id, text) frames —
    * production points `bench` at the eval-set table. Both sides are
    * per-doc shingle sets ([[docShingleSets]]), and the overlap is
    * [[benchOverlaps]]: the benchmark's hashes are tiny relative to the
    * corpus → broadcast semi-side; one pass over training shingles,
    * per-doc overlap counts, no shuffle that grows with corpus size.
    * Overlap is counted in the same md5-hashed shingle space as
    * dedup_ngram, so the DuckDB oracle replays it exactly. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, minOverlap: Int = 3): DataFrame =
    benchOverlaps(docShingleSets(corpus), docShingleSets(bench))
      .filter(col("n_overlap") >= minOverlap)
      .withColumn("overlap_frac", r4(col("n_overlap").cast("double") / col("n_sh")))
      .select("doc_id", "n_overlap", "n_sh", "overlap_frac")
      .orderBy(desc("n_overlap"), asc("doc_id"))

  /** (doc_id, n_sh, n_overlap) for every corpus doc sharing a shingle
    * with the benchmark, over (doc_id, hs, n_sh) shingle sets: the
    * corpus hashes left-semi joined against the broadcast bench hashes
    * (a hash several bench docs share counts once — a semi join cannot
    * double-count, so no distinct is needed), then one count per doc. */
  def benchOverlaps(corpusSets: DataFrame, benchSets: DataFrame): DataFrame =
    corpusSets.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("h"))
      .join(broadcast(benchSets.select(explode(col("hs")).as("h"))), Seq("h"), "left_semi")
      .groupBy("doc_id", "n_sh").agg(count(lit(1)).as("n_overlap"))

  /** Driver key for [[decontaminate]]: the benchmark table is a
    * deterministic slice of `documents` (id < 10) so the DuckDB oracle
    * can rebuild it, but it flows through the two-table API. */
  val textDecontaminate: Q = (s, d) => {
    val docs = t(s, d, "documents")
    decontaminate(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10))
  }

  /** X4b-audit: the contamination REPORT — [[decontaminate]] answers
    * "which training docs must go"; this answers the eval-owner's
    * question first: per benchmark item, HOW compromised is it? (The
    * GPT-3/PaLM appendices publish exactly this readout — per-task
    * clean/dirty splits — before any drop decision is made.) For each
    * bench item: how many corpus docs share ≥ `minOverlap` shingles,
    * the worst offender (most shared shingles; deterministic tie-break
    * on smallest doc_id), and what fraction of the ITEM's shingles
    * appear in any qualifying corpus doc (`contamination_frac` — the
    * quantity that decides whether the item is still usable as eval).
    *
    * Plan shape at 100 TB: the bench shingle set is KB-scale →
    * broadcast; ONE pass over corpus shingles produces the hit stream
    * (corpus_doc, bench_id, h), which is bounded by true overlap volume,
    * not corpus size. Pair counts aggregate on (bench_id, doc_id); the
    * coverage count re-aggregates only the hit stream (left-semi against
    * the qualifying pairs), never the corpus — so a bench item
    * contaminated by millions of docs costs rows proportional to hits,
    * with no per-group collect that could blow up. */
  def contamReport(corpus: DataFrame, bench: DataFrame, minOverlap: Int = 3): DataFrame = {
    val bsh = shinglesOf(bench).select(col("doc_id").as("bench_id"), col("h"))
    val bsizes = bsh.groupBy("bench_id").agg(count(lit(1)).as("n_bsh"))
    val hits = shinglesOf(corpus).join(broadcast(bsh), Seq("h"))
      .select(col("bench_id"), col("doc_id"), col("h"))
    val pairs = hits.groupBy("bench_id", "doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
    val covered = hits.join(pairs.select("bench_id", "doc_id"),
        Seq("bench_id", "doc_id"), "left_semi")
      .select("bench_id", "h").distinct()
      .groupBy("bench_id").agg(count(lit(1)).as("n_covered"))
    pairs.groupBy("bench_id")
      .agg(
        count(lit(1)).as("n_contaminating"),
        max(col("n_shared")).as("max_shared"),
        max_by(col("doc_id"), struct(col("n_shared"), -col("doc_id"))).as("worst_doc"))
      .join(covered, Seq("bench_id"))
      .join(broadcast(bsizes), Seq("bench_id"))
      .withColumn("contamination_frac",
        r4(col("n_covered").cast("double") / col("n_bsh")))
      .select("bench_id", "n_contaminating", "worst_doc", "max_shared",
        "n_covered", "n_bsh", "contamination_frac")
      .orderBy("bench_id")
  }

  /** Driver key for [[contamReport]]: same corpus/bench split as
    * `text_decontaminate`, so the two keys audit and act on the same
    * contamination set. */
  val textContamReport: Q = (s, d) => {
    val docs = t(s, d, "documents")
    contamReport(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10))
  }

  /** X-family: Bloom-filter membership gate — the approximate negative
    * cache a 100 TB incremental pipeline consults before any exact work
    * ("was this key already ingested / is it in the benchmark set?").
    * Build: one [[graft.functions.BloomSketchAgg]] pass over the member
    * keys (partials OR-merge map-side; the artifact is a 128 KB binary,
    * storable and re-mergeable via BloomMergeAgg regardless of corpus
    * size). Probe: the filter is COLLECTED (one row, KB-scale — the same
    * runtime-filter pattern Spark's own bloom join injection uses) and
    * probed as a codegen'd literal inside the scan stage, no join, no
    * shuffle. The driver row pins exact member/probe counts plus the two
    * contract booleans: zero false negatives (a Bloom guarantee —
    * violating it means the filter is broken) and FPR ≤ 1% on
    * non-members.
    *
    * SIZING: the filter is allocated from the MEMBER CARDINALITY, not a
    * constant — 13 bits/key (k=7 ⇒ theoretical FPR ≈ 0.2%, 5× inside the
    * 1% contract), floor 2^20 bits, rounded up to a power of two. A fixed
    * m would silently break the fp_rate_ok pin the moment the corpus
    * outgrows it (~100k keys for 2^20); sizing from a cheap count() keeps
    * the contract invariant across scale factors. */
  val dedupBloomGate: Q = (s, d) => {
    import graft.functions.{BloomMightContain, BloomSketchAgg}
    val ev = t(s, d, "events")
    val members = ev.filter(col("event_type") === "purchase")
    // ONE pass sizes AND builds: the member count rides the same
    // aggregation as a filter built at a cardinality-safe default
    // (2^23 bits ≈ 640k keys at 13 bits/key, a 1 MiB buffer). Only when
    // the count proves the default undersized does a second, correctly
    // sized build run — so the common case pays a single scan where the
    // old shape always paid two (a full extra members pass at 100 TB).
    val defaultBits = 1 << 23
    val first = members
      .agg(count(lit(1)).as("n"),
        BloomSketchAgg(col("event_id"), defaultBits, 7).as("bf"))
      .head()
    val wantBits = 13L * math.max(first.getLong(0), 1L)
    val bfBytes =
      if (wantBits <= defaultBits) first.getAs[Array[Byte]](1)
      else {
        var numBits = defaultBits
        while (numBits < wantBits && numBits < (1 << 30)) numBits <<= 1
        members.agg(BloomSketchAgg(col("event_id"), numBits, 7).as("bf"))
          .head().getAs[Array[Byte]](0)
      }
    ev.select(col("event_id"),
        (col("event_type") === "purchase").as("is_member"),
        BloomMightContain(lit(bfBytes), col("event_id")).as("hit"))
      .agg(
        count(lit(1)).as("n_probed"),
        sum(when(col("is_member"), 1L).otherwise(0L)).as("n_members"),
        (sum(when(col("is_member") && !col("hit"), 1L).otherwise(0L)) === 0)
          .as("no_false_negatives"),
        (sum(when(!col("is_member") && col("hit"), 1L).otherwise(0L)) * lit(100L) <=
          sum(when(!col("is_member"), 1L).otherwise(0L))).as("fp_rate_ok"))
  }

  /** X1f: cross-corpus overlap estimation via KMV (k-minimum-values)
    * sketches — the audit that tells you WHETHER to pay for a full
    * cross-source dedup before you run one. Per source: the K smallest
    * distinct 60-bit shingle hashes (a bottom-k sketch — the md5 hash
    * doubles as the uniform permutation). Per source pair: the classic
    * KMV union estimator, jaccard ≈ |A_K ∩ B_K ∩ U_K| / |U_K| where U_K
    * is the K smallest values of the sketch union. Everything after the
    * shingle pass moves only K·S rows (S = #sources) — at 100 TB the
    * sketches are KB-sized regardless of corpus size, the pair expansion
    * is K·S² sketch-row copies (no document data), and the one full-data
    * pass is the same shingle scan every dedup key already shares.
    * Deterministic (no sampling), so the estimate replays exactly in
    * the oracle. */
  val dedupCorpusOverlap: Q = (s, d) => corpusOverlapOf(t(s, d, "documents"))

  /** [[dedupCorpusOverlap]] over any (doc_id, text, source) frame — the
    * entry the jx `corpus_op` front end dispatches to (the X11 pattern:
    * one decision set behind both surfaces). */
  def corpusOverlapOf(docs: DataFrame, K: Int = 128): DataFrame = {
    val srcH = shinglesOf(docs)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select("source", "h").distinct()
    val wS = Window.partitionBy("source").orderBy("h")
    val kmv = srcH.withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= K).drop("rn")
    val srcs = kmv.select(col("source").as("other")).distinct()
    // expand each sketch row to every pair containing its source: the
    // sketch is tiny by construction, so the S-fold copy is cheap and
    // keeps the estimator a plain groupBy (no per-pair re-scan)
    val expanded = kmv.join(broadcast(srcs), col("source") =!= col("other"))
      .select(
        least(col("source"), col("other")).as("src_a"),
        greatest(col("source"), col("other")).as("src_b"),
        col("source"), col("h"))
    val unioned = expanded.groupBy("src_a", "src_b", "h")
      .agg(
        max(when(col("source") === col("src_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("source") === col("src_b"), 1).otherwise(0)).as("in_b"))
    val wP = Window.partitionBy("src_a", "src_b").orderBy("h")
    unioned.withColumn("rn", row_number().over(wP)).filter(col("rn") <= K)
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_union"),
        sum(col("in_a") * col("in_b")).as("n_common"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        r4(col("n_common").cast("double") / col("n_union")).as("jaccard_est"))
      .orderBy("src_a", "src_b")
  }

  val queries: Map[String, Q] = Map(
    "dedup_bloom_gate" -> dedupBloomGate,
    "dedup_corpus_overlap" -> dedupCorpusOverlap,
    "dedup_ngram" -> dedupNgram,
    "dedup_ngram_prefix" -> dedupNgramPrefix,
    "dedup_containment" -> dedupContainment,
    "dedup_containment_prefix" -> dedupContainmentPrefix,
    "dedup_minhash" -> dedupMinhash,
    "dedup_pairs_delta" -> dedupPairsDelta,
    "dedup_centrality" -> dedupCentrality,
    "dedup_simhash" -> dedupSimhash,
    "dedup_simhash_md5" -> dedupSimhashMd5,
    "dedup_simhash_mjs" -> dedupSimhashMjs,
    "dedup_embed" -> dedupEmbed,
    "dedup_embed_lsh" -> dedupEmbedLsh,
    "dedup_clusters" -> dedupClusters,
    "dedup_profile" -> dedupProfile,
    "dedup_drop_list" -> dedupDropList,
    "dedup_canonical" -> dedupCanonical,
    "dedup_split_leakfree" -> dedupSplitLeakfree,
    "dedup_reweight" -> dedupReweight,
    "dedup_split_stratified" -> dedupSplitStratified,
    "dedup_threshold_tuning" -> dedupThresholdTuning,
    "sample_soft_dedup" -> sampleSoftDedup,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_trim" -> dedupSubstringTrim,
    "dedup_online_gate" -> dedupOnlineGate,
    "text_decontaminate" -> textDecontaminate,
    "text_contam_report" -> textContamReport)

  /** Shared oracle CTE: the full MinHash pipeline (md5 shingle hashes →
    * universal-family minhashes → 4×2 bands → bucket join → Jaccard
    * verify) up to the scored pair set `mh`. Used by dedup_minhash and
    * replayed as the pair source for dedup_clusters. */
  private val minhashCte: String = minhashCteFrom("documents")

  /** The same CTE chain over any (doc_id, text) relation — the composed
    * pipeline points it at its cleaned/redacted CTE. */
  /** The word-shingle front CTE alone — pair with
    * [[minhashCteFromShingles]] or [[onlineGateOracle]]. */
  private[llm] def wordShingleCte(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       sh AS (SELECT DISTINCT doc_id,
                     CAST('0x' || substr(md5(unnest(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t) - 2)])), 1, 15) AS BIGINT) AS h
              FROM toks WHERE len(t) >= 3)"""

  private[llm] def minhashCteFrom(src: String): String =
    minhashCteFromShingles(wordShingleCte(src))

  /** The online-gate oracle (probe slice band-joined against the corpus
    * index, exact-Jaccard verify) over ANY `sh (doc_id, h)` shingle CTE —
    * shared by the text gate and [[Multimodal]]'s payload gate. */
  private[llm] def onlineGateOracle(shCte: String): String =
    s"""WITH ${minhashCteFromShingles(shCte)},
           probes AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
           pc AS (SELECT DISTINCT p.doc_id AS did, c.doc_id AS corpus_doc
                  FROM bands p
                  JOIN probes pr ON pr.doc_id = p.doc_id
                  JOIN bands c ON c.band = p.band AND c.bh = p.bh
                  WHERE c.doc_id <> p.doc_id),
           pcommon AS (SELECT pc.did, pc.corpus_doc, count(*) AS cc
                       FROM pc JOIN sh a ON a.doc_id = pc.did
                       JOIN sh b ON b.doc_id = pc.corpus_doc AND b.h = a.h
                       GROUP BY 1, 2),
           pscored AS (SELECT m.did AS doc_id, m.corpus_doc,
                              round(cc * 1.0 / (x.n + y.n - cc), 4) AS jaccard
                       FROM pcommon m JOIN sz x ON m.did = x.doc_id
                       JOIN sz y ON m.corpus_doc = y.doc_id)
         SELECT doc_id, corpus_doc, jaccard FROM pscored
         WHERE jaccard >= 0.5
         ORDER BY jaccard DESC, doc_id ASC, corpus_doc ASC"""

  /** The engine-generic back half of the MinHash oracle — the universal-
    * family signature, 4×2 banding, bucket join, and Jaccard verify over
    * ANY provided `sh (doc_id, h)` shingle CTE. Shared by the word-shingle
    * chain above and [[Multimodal]]'s byte-shingle payload dedup. */
  private[llm] def minhashCteFromShingles(shCte: String): String =
    s"""$shCte,
       hb AS (SELECT doc_id, h, h % 2147483647 AS hb FROM sh),
       sig AS (SELECT doc_id,
                      min(( 1*hb + 104729) % 2147483647) AS h0,
                      min(( 3*hb + 209458) % 2147483647) AS h1,
                      min(( 5*hb + 314187) % 2147483647) AS h2,
                      min(( 7*hb + 418916) % 2147483647) AS h3,
                      min(( 9*hb + 523645) % 2147483647) AS h4,
                      min((11*hb + 628374) % 2147483647) AS h5,
                      min((13*hb + 733103) % 2147483647) AS h6,
                      min((15*hb + 837832) % 2147483647) AS h7
               FROM hb GROUP BY doc_id),
       bands AS (
         SELECT doc_id, 0 AS band, h0::VARCHAR || '_' || h1::VARCHAR AS bh FROM sig
         UNION ALL SELECT doc_id, 1, h2::VARCHAR || '_' || h3::VARCHAR FROM sig
         UNION ALL SELECT doc_id, 2, h4::VARCHAR || '_' || h5::VARCHAR FROM sig
         UNION ALL SELECT doc_id, 3, h6::VARCHAR || '_' || h7::VARCHAR FROM sig),
       cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       common AS (SELECT cd.da, cd.db, count(*) AS cc
                  FROM cand cd
                  JOIN sh a ON a.doc_id = cd.da
                  JOIN sh b ON b.doc_id = cd.db AND b.h = a.h
                  GROUP BY 1, 2),
       mh AS (SELECT m.da, m.db, cc, x.n AS na, y.n AS nb
              FROM common m JOIN sz x ON m.da = x.doc_id
              JOIN sz y ON m.db = y.doc_id)"""

  /** Shared by dedup_containment and its prefix-filtered twin — the two
    * queries compute the identical result set by construction. */
  private val containmentOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           sh0 AS (SELECT DISTINCT doc_id,
                          CAST('0x' || substr(md5(unnest(
                            [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             for i in generate_series(1, len(t) - 2)])), 1, 15) AS BIGINT) AS h
                   FROM toks WHERE len(t) >= 3),
           keep AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= 50),
           sh AS (SELECT sh0.doc_id, sh0.h FROM sh0 JOIN keep USING (h)),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
                     FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
         SELECT da, db, c, round(c * 1.0 / least(x.n, y.n), 4) AS containment
         FROM pairs p JOIN sz x ON p.da = x.doc_id JOIN sz y ON p.db = y.doc_id
         WHERE c * 1.0 / least(x.n, y.n) >= 0.8
         ORDER BY containment DESC, da ASC, db ASC"""

  /** 2^0..2^63 as a DuckDB list literal (the last entries exceed BIGINT
    * and parse as HUGEINT) — the bit-extraction table for the FNV/SimHash
    * replay below. */
  private val pow2List: String =
    (0 until 64).map(b => BigInt(1) << b).mkString("[", ", ", "]")

  /** The FNV-1a-64 + SimHash replay: DuckDB has no wraparound 64-bit
    * arithmetic, but HUGEINT modular arithmetic expresses it exactly —
    * the fold keeps the hash as an UNSIGNED value in [0, 2^64): the
    * xor touches only the low byte (h ^ b == h - h%256 + (h%256 XOR b)
    * for b < 256), the multiply stays under 2^104 (HUGEINT-safe), and
    * `% 2^64` is the wraparound. Verified bit-identical to
    * [[graft.functions.PolyHash64]]/[[graft.functions.SimHash64]]
    * including empty tokens (fold = seed) and multi-byte UTF-8. */
  val oracle: Map[String, String] = Map(
    "dedup_simhash" ->
      s"""WITH shd AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
           shtok AS (SELECT doc_id, unnest(toks) AS w FROM shd),
           shh AS (SELECT doc_id,
                          list_reduce(
                            list_prepend(CAST('14695981039346656037' AS HUGEINT),
                              [CAST(CAST('0x' || substr(hex(encode(w)), 2*i-1, 2) AS INT) AS HUGEINT)
                               for i in generate_series(1, octet_length(encode(w)))]),
                            (h, b) -> ((h // 256) * 256
                                       + CAST(xor(CAST(h % 256 AS BIGINT),
                                                  CAST(b AS BIGINT)) AS HUGEINT))
                                      * 1099511628211
                                      % CAST('18446744073709551616' AS HUGEINT)) AS hu
                   FROM shtok),
           shbit AS (SELECT doc_id, t.i - 1 AS bit,
                            sum(CASE WHEN CAST(hu // ($pow2List)[t.i] % 2 AS INT) = 1
                                     THEN 1 ELSE -1 END) AS v
                     FROM shh CROSS JOIN generate_series(1, 64) t(i)
                     GROUP BY 1, 2),
           shsig AS (SELECT doc_id,
                            CAST(sum(CASE WHEN v > 0
                                          THEN CAST(($pow2List)[bit + 1] AS HUGEINT)
                                          ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS ug
                     FROM shbit GROUP BY doc_id),
           sigs AS (SELECT doc_id,
                           CASE WHEN ug >= CAST('9223372036854775808' AS HUGEINT)
                                THEN CAST(ug - CAST('18446744073709551616' AS HUGEINT) AS BIGINT)
                                ELSE CAST(ug AS BIGINT) END AS sig,
                           ug
                    FROM shsig),
           bands AS (SELECT s.doc_id, s.sig, CAST(t.b AS INT) AS band,
                            CAST(s.ug // ([1, 65536, 4294967296, 281474976710656])[t.b + 1]
                                 % 65536 AS BIGINT) AS bh
                     FROM sigs s CROSS JOIN generate_series(0, 3) t(b)),
           capped AS (SELECT doc_id, sig, band, bh FROM (
                        SELECT *, count(*) OVER (PARTITION BY band, bh) AS bn
                        FROM bands) WHERE bn <= 500),
           cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                           CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
                    FROM capped x JOIN capped y
                      ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
         SELECT da, db, hamming FROM cand WHERE hamming <= 3
         ORDER BY hamming ASC, da ASC, db ASC LIMIT 200""",
    "dedup_corpus_overlap" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                         CAST('0x' || substr(md5(unnest(
                           [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in generate_series(1, len(t) - 2)])), 1, 15)
                              AS BIGINT) AS h
                  FROM toks WHERE len(t) >= 3),
           sv AS (SELECT DISTINCT d.source, s.h
                  FROM sh s JOIN documents d USING (doc_id)),
           kmv AS (SELECT source, h FROM (
             SELECT source, h,
                    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM sv) WHERE rn <= 128),
           srcs AS (SELECT DISTINCT source AS other FROM kmv),
           ex AS (SELECT least(k.source, o.other) AS src_a,
                         greatest(k.source, o.other) AS src_b,
                         k.source, k.h
                  FROM kmv k JOIN srcs o ON k.source <> o.other),
           un AS (SELECT src_a, src_b, h,
                         max(CASE WHEN source = src_a THEN 1 ELSE 0 END) AS in_a,
                         max(CASE WHEN source = src_b THEN 1 ELSE 0 END) AS in_b
                  FROM ex GROUP BY 1, 2, 3),
           topk AS (SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                          ORDER BY h) AS rn
             FROM un) WHERE rn <= 128)
         SELECT src_a, src_b,
                CAST(sum(in_a * in_b) AS BIGINT) AS n_common,
                round(sum(in_a * in_b) * 1.0 / count(*), 4) AS jaccard_est
         FROM topk GROUP BY 1, 2 ORDER BY 1, 2""",
    "dedup_bloom_gate" ->
      """SELECT count(*) AS n_probed,
                CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                  AS n_members,
                TRUE AS no_false_negatives,
                TRUE AS fp_rate_ok
         FROM events""",
    "dedup_substring" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           wins AS (SELECT doc_id,
                           CAST('0x' || substr(md5(array_to_string(t[i:i+15], ' ')),
                                1, 15) AS BIGINT) AS h
                    FROM (SELECT doc_id, t,
                                 unnest(generate_series(1, len(t) - 15)) AS i
                          FROM toks WHERE len(t) >= 16)),
           sel AS (SELECT * FROM wins WHERE h % 4 = 0)
         SELECT h,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                count(*) AS n_occ,
                min(doc_id) AS min_doc
         FROM sel GROUP BY h HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, n_occ DESC, h ASC LIMIT 200""",
    "dedup_substring_trim" ->
      """WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           wins AS (SELECT doc_id, i - 1 AS tok_pos,
                           CAST('0x' || substr(md5(array_to_string(t[i:i+15], ' ')),
                                1, 15) AS BIGINT) AS h
                    FROM (SELECT doc_id, t,
                                 unnest(generate_series(1, len(t) - 15)) AS i
                          FROM toks0 WHERE len(t) >= 16)),
           sel AS (SELECT * FROM wins WHERE h % 4 = 0),
           shared AS (SELECT h, min(doc_id) AS owner FROM sel GROUP BY h
                      HAVING count(DISTINCT doc_id) >= 2),
           covered AS (SELECT DISTINCT s.doc_id, s.tok_pos + g.j AS idx
                       FROM sel s JOIN shared sh USING (h)
                       CROSS JOIN generate_series(0, 15) g(j)
                       WHERE s.doc_id <> sh.owner),
           tk AS (SELECT doc_id, i - 1 AS idx, t[i] AS tok
                  FROM (SELECT doc_id, t,
                               unnest(generate_series(1, len(t))) AS i
                        FROM toks0)),
           kept AS (SELECT tk.doc_id, tk.idx, tk.tok
                    FROM tk LEFT JOIN covered c
                      ON c.doc_id = tk.doc_id AND c.idx = tk.idx
                    WHERE c.doc_id IS NULL),
           agg AS (SELECT doc_id, count(*) AS n_kept,
                          md5(string_agg(tok, ' ' ORDER BY idx)) AS trim_md5
                   FROM kept GROUP BY doc_id),
           tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM toks0)
         SELECT a.doc_id, t.n_tok, a.n_kept,
                t.n_tok - a.n_kept AS n_dropped, a.trim_md5
         FROM agg a JOIN tot t USING (doc_id)
         WHERE t.n_tok - a.n_kept > 0
         ORDER BY a.doc_id LIMIT 300""",
    "dedup_simhash_md5" -> simhashMd5Oracle,
    "dedup_simhash_mjs" -> simhashMjsOracle,
    "dedup_minhash" ->
      s"""WITH $minhashCte
         SELECT da, db, round(cc * 1.0 / (na + nb - cc), 4) AS jaccard
         FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5
         ORDER BY jaccard DESC, da ASC, db ASC""",
    "dedup_threshold_tuning" ->
      s"""WITH $minhashCte,
           ttp0 AS (SELECT da, db, round(cc * 1.0 / (na + nb - cc), 4) AS jaccard
                    FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           tts AS (SELECT unnest([500, 700, 900, 950, 975]) AS tau_permille),
           ttp AS (SELECT t.tau_permille, p.da, p.db, p.jaccard
                   FROM tts t JOIN ttp0 p
                     ON p.jaccard >= t.tau_permille / 1000.0),
           tta AS (SELECT tau_permille, CAST(count(*) AS BIGINT) AS n_pairs,
                          round(CAST(sum(CAST(jaccard AS DECIMAL(28,12)))
                                     AS DOUBLE) / count(*), 4) AS mean_jaccard
                   FROM ttp GROUP BY 1),
           tte AS (SELECT DISTINCT tau_permille, id
                   FROM (SELECT tau_permille, unnest([da, db]) AS id FROM ttp)),
           ttc AS (SELECT tau_permille, CAST(count(*) AS BIGINT) AS n_docs
                   FROM tte GROUP BY 1)
         SELECT a.tau_permille, a.n_pairs, c.n_docs, a.mean_jaccard
         FROM tta a JOIN ttc c USING (tau_permille)
         ORDER BY tau_permille""",
    // doc-graph PageRank: the near-dup pairs as pgpairs, then the
    // shared power-iteration chain verbatim
    "dedup_centrality" ->
      s"""WITH $minhashCte,
           fpairs AS (SELECT da, db FROM mh
                      WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           pgpairs AS (SELECT da AS src, db AS dst FROM fpairs),
           ${Similarity.centralityFromPairsCte}
         SELECT pgr3.id AS doc_id, round(pgr3.r, 4) AS centrality,
                d.deg AS degree
         FROM pgr3 JOIN pgdeg d ON d.src = pgr3.id
         ORDER BY centrality DESC, doc_id ASC""",
    // incremental growth: the gate IS the exactness claim — base ∪
    // cross ∪ delta must equal the full-corpus pair set verbatim
    "dedup_pairs_delta" ->
      s"""WITH $minhashCte
         SELECT da, db, round(cc * 1.0 / (na + nb - cc), 4) AS jaccard
         FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5
         ORDER BY jaccard DESC, da ASC, db ASC""",
    // online gate decision set: probe slice vs the whole corpus index;
    // threshold on the ROUNDED jaccard, matching the gate's filter
    "dedup_online_gate" -> onlineGateOracle(wordShingleCte("documents")),
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCte,
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
    // the duplication profile: cluster-size histogram over the same
    // recursive-CC labels
    "dedup_profile" ->
      s"""WITH RECURSIVE $minhashCte,
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           cs AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY 1)
         SELECT sz AS cluster_size, count(*) AS n_clusters,
                CAST(sum(sz) AS BIGINT) AS n_docs,
                CAST(sum(sz) - count(*) AS BIGINT) AS n_redundant
         FROM cs GROUP BY sz ORDER BY cluster_size""",
    "dedup_drop_list" ->
      s"""WITH RECURSIVE $minhashCte,
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS canonical FROM reach GROUP BY id)
         SELECT id AS doc_id, canonical FROM labels
         WHERE id <> canonical ORDER BY doc_id""",
    "dedup_canonical" ->
      s"""WITH RECURSIVE $minhashCte,
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
                       FROM documents)),
           m AS (SELECT l.cluster_id, q.doc_id, q.quality, q.n_chars,
                        row_number() OVER (PARTITION BY l.cluster_id
                          ORDER BY q.quality DESC, q.n_chars DESC, q.doc_id ASC) AS rn,
                        count(*) OVER (PARTITION BY l.cluster_id) AS n_docs
                 FROM labels l JOIN q ON q.doc_id = l.id)
         SELECT cluster_id, doc_id AS canonical, quality AS canon_quality,
                n_chars AS canon_chars, n_docs, n_docs - 1 AS n_dropped
         FROM m WHERE rn = 1 ORDER BY cluster_id""",
    "dedup_split_leakfree" ->
      s"""WITH RECURSIVE $minhashCte,
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
           sl AS (SELECT d.doc_id, COALESCE(l.lbl, d.doc_id) AS cluster_id
                  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
         SELECT doc_id, cluster_id,
                CASE WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)
                          AS BIGINT) % 10 < 9
                     THEN 'train' ELSE 'val' END AS split
         FROM sl ORDER BY doc_id LIMIT 300""",
    "dedup_reweight" ->
      s"""WITH RECURSIVE $minhashCte,
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
           rwsl AS (SELECT d.doc_id, COALESCE(l.lbl, d.doc_id) AS cluster_id
                    FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
           rwsz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
                    FROM rwsl GROUP BY cluster_id)
         SELECT s.doc_id, s.cluster_id, z.n_members,
                CAST(1000 // z.n_members AS BIGINT) AS weight_permille
         FROM rwsl s JOIN rwsz z USING (cluster_id)
         ORDER BY doc_id LIMIT 300""",
    "sample_soft_dedup" ->
      s"""WITH RECURSIVE $minhashCte,
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
           ssl AS (SELECT d.doc_id, COALESCE(l.lbl, d.doc_id) AS cluster_id
                   FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
           ssz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
                   FROM ssl GROUP BY cluster_id),
           ssp AS (SELECT s.doc_id, s.cluster_id, z.n_members,
                          -ln((CAST('0x' || substr(md5('ssamp:'
                                || CAST(s.doc_id AS VARCHAR)), 1, 15)
                               AS BIGINT) + 1.0) / 1152921504606846976.0)
                          / (1.0 / z.n_members) AS pri
                   FROM ssl s JOIN ssz z USING (cluster_id))
         SELECT doc_id, cluster_id, n_members
         FROM (SELECT *, row_number() OVER (ORDER BY pri ASC, doc_id ASC) AS rn
               FROM ssp)
         WHERE rn <= 100
         ORDER BY doc_id""",
    "dedup_split_stratified" ->
      s"""WITH RECURSIVE $minhashCte,
           pairs AS (SELECT da, db FROM mh WHERE cc * 1.0 / (na + nb - cc) >= 0.5),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(id, lbl) AS (
             SELECT src, src FROM edges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
           slx AS (SELECT d.doc_id, d.source, COALESCE(l.lbl, d.doc_id) AS cluster_id
                   FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
           cl AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
                         min(doc_id) AS min_doc
                  FROM slx GROUP BY cluster_id),
           clm AS (SELECT c.cluster_id, c.n_members, s.source AS stratum
                   FROM cl c JOIN slx s ON s.doc_id = c.min_doc),
           cw AS (SELECT cluster_id, n_members, stratum,
                         CAST(COALESCE(SUM(n_members) OVER (
                           PARTITION BY stratum
                           ORDER BY md5(CAST(cluster_id AS VARCHAR)), cluster_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS cum_before,
                         CAST(SUM(n_members) OVER (PARTITION BY stratum)
                           AS BIGINT) AS n_total
                  FROM clm),
           ca AS (SELECT cluster_id,
                         CASE WHEN 1000*cum_before < 900*n_total THEN 'train'
                              WHEN 1000*cum_before < 950*n_total THEN 'val'
                              ELSE 'test' END AS split
                  FROM cw)
         SELECT s.doc_id, s.source, s.cluster_id, ca.split
         FROM slx s JOIN ca USING (cluster_id)
         ORDER BY doc_id LIMIT 300""",
    "dedup_embed_lsh" ->
      s"""WITH ${Similarity.lshOracleCte},
           cand AS (SELECT DISTINCT x.vec_id AS da, y.vec_id AS db
                    FROM bands x JOIN bands y
                      ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id),
           dvecs AS (SELECT vec_id,
                            [CAST(x AS DOUBLE) for x in v] AS dv FROM vecs),
           n AS (SELECT vec_id,
                        list_reduce([dv[i] * dv[i] for i in generate_series(1, len(dv))],
                                    (x, y) -> x + y) AS norm2
                 FROM dvecs)
         SELECT c.da, c.db,
                round(list_reduce([a.dv[i] * b.dv[i] for i in generate_series(1, 64)],
                                  (x, y) -> x + y)
                      / (sqrt(na.norm2) * sqrt(nb.norm2)), 4) + 0.0 AS cosine
         FROM cand c
         JOIN dvecs a ON a.vec_id = c.da JOIN dvecs b ON b.vec_id = c.db
         JOIN n na ON na.vec_id = c.da JOIN n nb ON nb.vec_id = c.db
         ORDER BY cosine DESC, da ASC, db ASC LIMIT 50""",
    "text_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                         CAST('0x' || substr(md5(unnest(
                           [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in generate_series(1, len(t) - 2)])), 1, 15) AS BIGINT) AS h
                  FROM toks WHERE len(t) >= 3),
           bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 10),
           sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
           ov AS (SELECT sh.doc_id, count(*) AS n_overlap
                  FROM sh JOIN bench USING (h)
                  WHERE sh.doc_id >= 10 GROUP BY 1)
         SELECT o.doc_id, n_overlap, n_sh,
                round(n_overlap * 1.0 / n_sh, 4) AS overlap_frac
         FROM ov o JOIN sz USING (doc_id)
         WHERE n_overlap >= 3
         ORDER BY n_overlap DESC, doc_id ASC""",
    "text_contam_report" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                         CAST('0x' || substr(md5(unnest(
                           [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in generate_series(1, len(t) - 2)])), 1, 15) AS BIGINT) AS h
                  FROM toks WHERE len(t) >= 3),
           bsh AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id < 10),
           bsizes AS (SELECT bench_id, count(*) AS n_bsh FROM bsh GROUP BY 1),
           hits AS (SELECT b.bench_id, c.doc_id, c.h
                    FROM sh c JOIN bsh b USING (h) WHERE c.doc_id >= 10),
           pairs AS (SELECT bench_id, doc_id, count(*) AS n_shared
                     FROM hits GROUP BY 1, 2 HAVING count(*) >= 3),
           covered AS (SELECT h2.bench_id, count(DISTINCT h2.h) AS n_covered
                       FROM hits h2 JOIN pairs USING (bench_id, doc_id)
                       GROUP BY 1),
           worst AS (SELECT bench_id, doc_id AS worst_doc FROM (
               SELECT bench_id, doc_id,
                      row_number() OVER (PARTITION BY bench_id
                                         ORDER BY n_shared DESC, doc_id ASC) AS rk
               FROM pairs) WHERE rk = 1),
           agg AS (SELECT bench_id, count(*) AS n_contaminating,
                          max(n_shared) AS max_shared
                   FROM pairs GROUP BY 1)
         SELECT a.bench_id, a.n_contaminating, w.worst_doc, a.max_shared,
                c.n_covered, s.n_bsh,
                round(c.n_covered * 1.0 / s.n_bsh, 4) AS contamination_frac
         FROM agg a JOIN worst w USING (bench_id)
         JOIN covered c USING (bench_id) JOIN bsizes s USING (bench_id)
         ORDER BY a.bench_id""",
    "dedup_ngram_prefix" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           sh0 AS (SELECT DISTINCT doc_id,
                          CAST('0x' || substr(md5(unnest(
                            [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             for i in generate_series(1, len(t) - 2)])), 1, 15) AS BIGINT) AS h
                   FROM toks WHERE len(t) >= 3),
           keep AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= 50),
           sh AS (SELECT sh0.doc_id, sh0.h FROM sh0 JOIN keep USING (h)),
           dfq AS (SELECT h, count(*) AS df FROM sh GROUP BY 1),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           pref AS (SELECT doc_id, h FROM (
               SELECT s.doc_id, s.h,
                      row_number() OVER (PARTITION BY s.doc_id
                                         ORDER BY d.df, s.h) AS rk,
                      z.n
               FROM sh s JOIN dfq d USING (h) JOIN sz z USING (doc_id))
             WHERE rk <= n - ceil(0.3 * n) + 1),
           cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                    FROM pref a JOIN pref b
                      ON a.h = b.h AND a.doc_id < b.doc_id),
           pairs AS (SELECT cd.da, cd.db, count(*) AS c
                     FROM cand cd
                     JOIN sh a ON a.doc_id = cd.da
                     JOIN sh b ON b.doc_id = cd.db AND b.h = a.h
                     GROUP BY 1, 2)
         SELECT da, db, c, round(c * 1.0 / (x.n + y.n - c), 4) AS jaccard
         FROM pairs p JOIN sz x ON p.da = x.doc_id JOIN sz y ON p.db = y.doc_id
         WHERE c * 1.0 / (x.n + y.n - c) > 0.3
         ORDER BY jaccard DESC, da ASC, db ASC""",
    "dedup_containment" -> containmentOracle,
    // the prefix-filtered path computes the SAME result set — one oracle
    "dedup_containment_prefix" -> containmentOracle,
    "dedup_ngram" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           sh0 AS (SELECT DISTINCT doc_id,
                          CAST('0x' || substr(md5(unnest(
                            [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             for i in generate_series(1, len(t) - 2)])), 1, 15) AS BIGINT) AS h
                   FROM toks WHERE len(t) >= 3),
           keep AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= 50),
           sh AS (SELECT sh0.doc_id, sh0.h FROM sh0 JOIN keep USING (h)),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
                     FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
         SELECT da, db, c, round(c * 1.0 / (x.n + y.n - c), 4) AS jaccard
         FROM pairs p JOIN sz x ON p.da = x.doc_id JOIN sz y ON p.db = y.doc_id
         WHERE c * 1.0 / (x.n + y.n - c) > 0.3
         ORDER BY jaccard DESC, da ASC, db ASC""",
    "dedup_embed" ->
      """WITH vecs AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           n AS (SELECT vec_id,
                        list_reduce([v[i] * v[i] for i in generate_series(1, len(v))],
                                    (x, y) -> x + y) AS norm2
                 FROM vecs)
         SELECT a.vec_id AS da, b.vec_id AS db,
                round(list_reduce([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))],
                                  (x, y) -> x + y)
                      / (sqrt(na.norm2) * sqrt(nb.norm2)), 4) + 0.0 AS cosine
         FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
         JOIN n na ON na.vec_id = a.vec_id
         JOIN n nb ON nb.vec_id = b.vec_id
         ORDER BY cosine DESC, da ASC, db ASC LIMIT 50""")
}
