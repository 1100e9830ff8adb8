package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct
import graft.operators.Common._

/** Similarity search over embedding columns (SURVEY.md §2.9 X3).
  *
  * Brute-force cosine top-k (the correctness baseline, oracle-gated) and a
  * random-hyperplane LSH bucketed variant (the 100 TB path: candidates
  * only join within matching signature buckets, turning O(n·m) into
  * O(Σ bucket²); recall is tested against brute force in ScalaTest).
  * Dot products run through the codegen'd [[graft.functions.DotProduct]]
  * expression — a tight primitive loop over the columnar float arrays, no
  * UDFs, no intermediate zipped arrays. Results are bit-identical to the
  * oracle's double-fold because floats widen to double before multiplying.
  */
object Similarity {

  /** X3: exact top-5 cosine neighbors for each query vector (vec_id < 20).
    * The query side is tiny → broadcast; one pass over the corpus, top-k
    * via per-query window. */
  val simTopk: Q = (s, d) => {
    val vecs = t(s, d, "embeddings")
      .withColumn("norm2", DotProduct(col("embedding"), col("embedding")))
    val q = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("norm2").as("qn"))
    val c = vecs.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("norm2").as("nn"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
    broadcast(q).join(c, col("qid") =!= col("nid"))
      .withColumn("cosine",
        r4(DotProduct(col("qv"), col("nv")) / (sqrt(col("qn")) * sqrt(col("nn")))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "rnk", "nid", "cosine")
      .orderBy("qid", "rnk")
  }

  /** Deterministic ±1 hyperplane — generated driver-side once, shipped as
    * an array literal, so the per-row work is one codegen'd DotProduct per
    * plane. The sign for (plane p, dim i) is the parity of the first hex
    * digit of md5("p:i"): md5 bits are independent (planes uncorrelated —
    * LshRecallSpec's sub-quadratic assertion catches a weak mix) AND the
    * generator is reproducible in any engine with an md5 function, which
    * is what makes the LSH queries DuckDB-oracle-able (the oracle SQL
    * regenerates identical planes with its own md5). */
  private def plane(p: Int, dim: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(dim) { i =>
      val digit = (md.digest(s"$p:$i".getBytes("UTF-8"))(0) >> 4) & 0xf
      if (digit % 2 == 0) 1.0 else -1.0
    }
  }

  /** Random-hyperplane LSH signatures: sign bits of dot products against
    * deterministic pseudo-random ±1 planes. Vectors sharing a signature
    * band land in the same bucket → candidate pairs without the full
    * self-join. Each sign bit is one [[DotProduct]] against a literal
    * plane array — a tight codegen'd loop, no interpreted lambdas (the
    * higher-order-function form evaluated planes·dim interpreted calls
    * per row). Exposed for ScalaTest recall checks and ANN queries. */
  def lshSignature(df: DataFrame, planes: Int = 48, dim: Int = 64): DataFrame = {
    val vcol = if (df.columns.contains("embedding")) col("embedding") else col("v")
    val bits = (0 until planes).map { p =>
      when(DotProduct(vcol, typedlit(plane(p, dim))) >= 0, 1).otherwise(0)
    }
    df.withColumn("sig", array(bits: _*))
  }

  /** Band the signature bit-array into (band, bucket-hash) rows — pairs
    * sharing any band bucket become candidates (same trick as
    * MinHash/SimHash banding). Defaults (6 bands × 8 bits over 48 planes)
    * put a random pair's collision odds near 2% while catching ~99% of
    * cosine ≥ 0.95 pairs — measured in LshRecallSpec, which drives this
    * exact code path. Shared by dedup_embed_lsh.
    *
    * One `posexplode` over an in-row band array, NOT a bands-way union of
    * selects: a union re-evaluates the signature (48 codegen'd dot
    * products per row) once per branch — 12× per LSH self-join — while
    * the explode computes it once per side (measured ~2.5× on
    * dedup_embed_lsh). */
  def lshBands(sig: DataFrame, idCol: String, bands: Int = 6, bits: Int = 8,
      keep: Seq[String] = Nil): DataFrame =
    sig.select((col(idCol) +: keep.map(col)) :+ posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}),
              b -> aggregate(slice(sig, b * $bits + 1, $bits),
                             0L, (acc, bit) -> acc * 2 + bit))""")): _*)
      .select((col(idCol) +: keep.map(col)) :+ col("pos").as("band")
        :+ col("col").as("bh"): _*)

  /** Candidate pairs sharing any LSH band bucket. */
  def lshCandidatePairs(sig: DataFrame, idCol: String): DataFrame = {
    val bands = lshBands(sig, idCol)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("da"), col(s"y.$idCol").as("db"))
      .distinct()
  }

  /** LSH bucket census: per (band, bucket-hash), how many vectors landed
    * there and how many candidate pairs that bucket contributes — the
    * quantity that decides whether the LSH join stays sub-quadratic
    * (Σ n·(n−1)/2 over buckets is exactly the candidate-join cost).
    * Band-level buckets (8 bits), not the full 48-bit signature: full
    * signatures collide only for near-identical vectors, so at small SF
    * the census would be empty (round-3 run returned 0 rows).
    * Oracle-able because the planes are md5-derived (see [[plane]]) and
    * every arithmetic step (float→double widening, ordered left-fold sum,
    * sign test) is reproduced bit-for-bit by the DuckDB SQL. */
  val simLshCandidates: Q = (s, d) => {
    val sig = lshSignature(t(s, d, "embeddings"))
    lshBands(sig, "vec_id")
      .groupBy("band", "bh")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .withColumn("n_pairs", (col("n_docs") * (col("n_docs") - 1) / 2).cast("long"))
      .orderBy(desc("n_pairs"), asc("band"), asc("bh"))
      .limit(50)
  }

  /** X3b: IVF (inverted-file) ANN — the second scale path next to LSH.
    * Index mechanics exactly as production IVF: assign every vector to
    * its nearest coarse centroid (inverted lists), queries probe only
    * the `nprobe` nearest lists, exact cosine + top-k within the probed
    * candidates. The coarse quantizer is k-means with deterministic
    * seeding: seeds are the first `nlist` vectors by id, refined by two
    * fixed Lloyd iterations (assign → per-dimension mean). Every step is
    * a join + groupBy, so the WHOLE quantizer replays as DuckDB CTEs and
    * the operator stays hash-exact under the oracle; two iterations give
    * most of the list-balance win (LshRecallSpec gates recall). The
    * per-dimension mean sums through DECIMAL, not DOUBLE: decimal
    * addition is exact, hence shuffle-order-independent — a double sum
    * would differ in the last ulp between engines (and between Spark
    * runs), and an epsilon near an assignment boundary would flip a
    * cluster. At 100 TB: centroids are a broadcast table (nlist ≪ n),
    * each Lloyd pass is one map-side scored pass + a (cid, dim) groupBy
    * (nlist·dim cells — tiny), assignment is one map-side pass, the
    * probe join touches nprobe/nlist of the corpus — no shuffle grows
    * with n² anywhere.
    *
    * The index is one value every IVF analysis below is written against
    * once: `vecs` (vec_id, embedding, norm2), the refined centroids `cents`
    * (cid, cv, cn), `scored` (every vector × every centroid, with its
    * `cos`) and `assign` (vec_id, cid: each vector's nearest list). The
    * two constructors differ only in where the quantizer comes from:
    * trained in-plan ([[Ivf.of]]) or probed from its build-once store
    * ([[Ivf.stored]]). */
  final case class Ivf(vecs: DataFrame, cents: DataFrame, scored: DataFrame,
      assign: DataFrame) {

    /** Inverted lists in probe shape (cid, nid, nv, nn) over a
      * (vec_id, cid) membership; by default each vector sits in its
      * nearest list. */
    def lists(members: DataFrame = assign): DataFrame =
      members.join(vecs, Seq("vec_id"))
        .select(col("cid"), col("vec_id").as("nid"),
          col("embedding").as("nv"), col("norm2").as("nn"))

    /** Each vector's `p` nearest lists as (vec_id, cid, rk): rk 1 is the
      * nearest, an exact cosine tie goes to the smaller cid. */
    def top(p: Int): DataFrame = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cos"), asc("cid"))))
      .filter(col("rk") <= p)
      .select("vec_id", "cid", "rk")
  }

  object Ivf {

    /** The index over any (vec_id, embedding) frame with the quantizer
      * trained in-plan (the X3b recipe above); `nlist` [[AutoNlist]]
      * resolves to the size-derived list count. */
    def of(vecsIn: DataFrame, nlistIn: Int = AutoNlist): Ivf = {
      val nlist =
        if (nlistIn == AutoNlist) autoNlist(vecsIn.count()) else nlistIn
      val vecs = withNorms(vecsIn)
      val seed = vecs.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"), col("norm2").as("cn"))
      // nearest centroid per vector: single-pass argmin (max_by over
      // (cos, -cid) — smallest cid wins exact ties), no window shuffle
      def assignTo(cents: DataFrame): DataFrame = scoredAgainst(vecs, cents)
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cid"))
      // one Lloyd iteration: per-dimension mean of each cluster's members
      // (exact decimal sum → double), recomposed in dimension order
      def lloyd(cents: DataFrame): DataFrame = lloydStep(vecs, assignTo(cents))
      val cents = lloyd(lloyd(seed))
      Ivf(vecs, cents, scoredAgainst(vecs, cents), assignTo(cents))
    }

    /** The index over the quantizer stored as ITS OWN artifact, family
      * `<family>_<nlist>` (`quantizer_16` for the embeddings table,
      * `mm_quantizer_16` for the payload embeddings): the expensive part —
      * two decimal-exact Lloyd passes over the corpus — runs once per
      * (session, dataset, nlist), and every later index of that family
      * probes it. The store keeps `cents` (nlist rows, KBs) and `assign`
      * (one row per vector — the scale of any inverted list). `scored`
      * is NOT stored: it is n×nlist rows and recomputing it is one
      * broadcast-centroid pass — store the model, re-derive the cheap
      * map-side product. Doubles round-trip parquet bit-exactly, so
      * stored == in-plan under every oracle. `vecsIn` is evaluated once
      * per call. */
    def stored(s: SparkSession, d: String, family: String = "quantizer",
        nlist: Int = 16)(vecsIn: => DataFrame = t(s, d, "embeddings")): Ivf = {
      lazy val vecsEval = vecsIn
      val dir = Artifacts.buildOnce(s, s"${family}_$nlist", d) { dd =>
        val built = of(vecsEval, nlist)
        built.cents.write.mode("overwrite").parquet(s"$dd/cents")
        built.assign.write.mode("overwrite").parquet(s"$dd/assign")
      }
      val vecs = withNorms(vecsEval)
      val cents = graft.Tables.parquet(s, s"$dir/cents")
      Ivf(vecs, cents, scoredAgainst(vecs, cents), graft.Tables.parquet(s, s"$dir/assign"))
    }

    private def withNorms(vecsIn: DataFrame): DataFrame =
      vecsIn.select(col("vec_id"), col("embedding"))
        .withColumn("norm2", DotProduct(col("embedding"), col("embedding")))

    private def scoredAgainst(vecs: DataFrame, cents: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(cents))
        .withColumn("cos",
          DotProduct(col("embedding"), col("cv")) / (sqrt(col("norm2")) * sqrt(col("cn"))))
  }

  /** The bench/query side of the standard split: every tenth vector. */
  private[graft] val Tenth: Column = col("vec_id") % 10 === 0

  /** Sentinel default for `nlist` parameters: resolve to the
    * SIZE-DERIVED list count ([[autoNlist]]) at build time. The shipped
    * library default (r17 order #4): `sim_nlist_tuning` measures the
    * candidate-work law Σ|list|² ≈ n²/nlist, so a frozen nlist=16 that
    * is right at 10⁴ vectors is ~10× too much probe work at 10⁵. The
    * DRIVER keys keep an explicit nlist=16 — their DuckDB oracles replay
    * the quantizer training chain with that literal (the frozen-model
    * discipline), and re-deriving the SQL per corpus size would gate
    * nothing new; the census + the third-point measurement in SCALING.md
    * carry the evidence for the auto default instead. */
  val AutoNlist: Int = -1

  /** nlist = √n, clamped to [16, 4096]. √n is where this engine's two
    * nlist-dependent costs balance: the in-plan Lloyd training/assign
    * passes materialize n·nlist scored rows (the quantizer is trained by
    * a broadcast crossJoin, not a sampled solver), while every
    * within-list operator pays Σ|list|² ≈ n²/nlist candidate rows —
    * equal at nlist = √n. The classical 4·√n rule assumes sampled
    * training and was MEASURED WORSE here on the training-dominated mm
    * path (third point: 28→74 s at 4√n vs the √n numbers in SCALING.md);
    * the broadcast centroid table stays ≤ a few MB under the 4096 cap. */
  private[graft] def autoNlist(n: Long): Int =
    math.max(16, math.min(4096, math.sqrt(n.toDouble).toInt))

  /** X3b driver key: the top-5 neighbours of the first 20 vectors, each
    * probing its 4 nearest lists of the stored quantizer. */
  val simIvf: Q = (s, d) => {
    val ivf = Ivf.stored(s, d)()
    ivfProbe(ivf.vecs.filter(col("vec_id") < 20), ivf.cents, ivf.lists())
  }

  /** X3i: cross-set ANN kNN JOIN — every query-set vector finds its
    * top-k nearest CORPUS-set vectors through the IVF quantizer (probe
    * the nprobe nearest lists, exact cosine inside them). This is the
    * batch shape of "route each incoming document to its nearest
    * existing corpus entries" (cluster routing, retrieval-augmented
    * curation, train/eval split attribution): BOTH sides are tables,
    * which the 1-query [[simTopk]] shape cannot express without an
    * all-pairs join. The driver key splits the embeddings table
    * deterministically (vec_id % 10 → 1/10 queries vs 9/10 corpus) and
    * probes the STORED quantizer. Plan at 100 TB: the probe is an
    * equi-join on cid touching nprobe/nlist of the corpus, queries ship
    * broadcast, round-then-rank keeps tie order engine-identical — no
    * cartesian anywhere (PlanAuditSpec pins it). */
  val simKnnJoin: Q = (s, d) => knnJoin(Ivf.stored(s, d)())

  /** The join over any index: queries = rows matching `isQuery`, corpus =
    * the rest; the [[ivfProbe]] of the queries against the corpus lists
    * at nprobe=2 lists per query, exact top-3 inside them. */
  def knnJoin(ivf: Ivf, isQuery: Column = Tenth): DataFrame =
    ivfProbe(ivf.vecs.filter(isQuery), ivf.cents, ivf.lists(ivf.assign.filter(!isQuery)),
      nprobe = 2, k = 3)

  /** X3l: PROBE-DEPTH TUNING census — "measure, don't guess" applied to
    * the nprobe knob itself: one readout row per probe depth 1..4 with
    * the EXACT scan cost (candidate rows the probe touches) and the
    * recall against brute-force truth for a fixed query sample. The
    * knee of this curve is where an operator sets nprobe; the r12 kNN
    * and r14 decon recall incidents were both found by exactly this
    * census run at ONE depth — this key makes the whole curve a single
    * query. Scale shape: candidates are sample × (nprobe/nlist)·n rows,
    * brute truth is sample × n exact dots — both bounded by the sample,
    * never n²; each depth's top-k is a window over the SHARED candidate
    * table annotated with the minimum depth that reaches it (the probe
    * runs once at depth 4, shallower depths are filters — no rescan per
    * depth). Determinism: rounded cosine + id tie-break on both the
    * probe and truth sides, the graph family's recipe. */
  val simProbeTuning: Q = (s, d) => probeTuning(Ivf.stored(s, d)())

  /** X3p: NLIST-∝-n TUNING census (r17 — the third-scale-point order made
    * machinery): the driver keys freeze nlist=16 for oracle replay, and at
    * 10× data the within-list quadratic terms (SemDeDup/kNN/decon Σ|list|²)
    * go super-linear — the measured mitigation (nlist∝n: 168.7 s → 52.4 s
    * at the ~10× corpus, identical output) is now a GATED census instead
    * of narrative. One readout row per nlist ∈ {16, 64, 160}: list count,
    * the max (skew) list, and Σ|list|² — the exact pair-work term every
    * within-list operator pays — plus its per-mille ratio to the n² naive
    * bound. The knee of sum_sq vs nlist is where a 100 TB deployment sets
    * nlist for its corpus size. Each knob's quantizer is the stored
    * artifact ([[Ivf.stored]] at that nlist — build once, probe
    * forever); the census itself reads three KB-scale assignment tables.
    * Oracle: three prefixed [[ivfChainCteFor]] training chains — the
    * whole census is quantizer-replay EXACT, not approximate. */
  val simNlistTuning: Q = (s, d) => {
    val rows = NlistKnobs.map { nl =>
      Ivf.stored(s, d, nlist = nl)().assign
        .groupBy("cid").agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_lists"),
          sum("n").as("n_vecs"),
          max("n").as("max_list"),
          sum(col("n") * col("n")).as("sum_sq"))
        .select(lit(nl.toLong).as("nlist"), col("n_lists"), col("n_vecs"),
          col("max_list"), col("sum_sq"))
    }
    rows.reduce(_.unionByName(_))
      .withColumn("pair_work_pm",
        expr("CAST(1000 * sum_sq div (n_vecs * n_vecs) AS BIGINT)"))
      .orderBy("nlist")
  }

  private val NlistKnobs = Seq(16, 64, 160)

  def probeTuning(ivf: Ivf, sampleMax: Long = 20L, maxProbe: Int = 4,
      k: Int = 3): DataFrame = {
    val vecs = ivf.vecs
    val inv = ivf.lists()
    val probes = ivf.top(maxProbe).filter(col("vec_id") < sampleMax)
      .select(col("vec_id").as("qid"), col("cid"), col("rk"))
    val q = vecs.filter(col("vec_id") < sampleMax)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm2").as("qn"))
    // every candidate annotated with the MINIMUM depth that reaches it
    val cand = probes.join(inv, Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cosine",
        r4(DotProduct(col("qv"), col("nv")) / (sqrt(col("qn")) * sqrt(col("nn")))))
      .select("qid", "nid", "rk", "cosine")
    val wb = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
    val brute = vecs
      .select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("norm2").as("nn"))
      .crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cosine",
        r4(DotProduct(col("qv"), col("nv")) / (sqrt(col("qn")) * sqrt(col("nn")))))
      .withColumn("rnk", row_number().over(wb))
      .filter(col("rnk") <= k)
      .select("qid", "nid")
    val levels = broadcast(vecs.sparkSession.range(1L, maxProbe + 1L)
      .select(col("id").cast("int").as("nprobe")))
    val lc = cand.crossJoin(levels).filter(col("rk") <= col("nprobe"))
    val wl = Window.partitionBy("nprobe", "qid").orderBy(desc("cosine"), asc("nid"))
    val topk = lc.withColumn("rnk", row_number().over(wl))
      .filter(col("rnk") <= k)
      .select("nprobe", "qid", "nid")
    val found = topk.join(brute, Seq("qid", "nid"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_found"))
    val nTrue = brute.agg(count(lit(1)).as("n_true"))
    lc.groupBy("nprobe")
      .agg(countDistinct(col("qid")).as("n_sampled"),
        count(lit(1)).as("n_cand"))
      .crossJoin(broadcast(nTrue))
      .join(found, Seq("nprobe"), "left")
      .withColumn("n_found", coalesce(col("n_found"), lit(0L)))
      .select(col("nprobe"), col("n_sampled"), col("n_cand"), col("n_true"),
        col("n_found"),
        r4(col("n_found").cast("double") / col("n_true")).as("recall"))
      .orderBy("nprobe")
  }

  /** X3j: semantic DECONTAMINATION — the embedding-space twin of
    * [[graft.llm.Dedup.decontaminate]]: an n-gram decontamination pass
    * only catches near-verbatim benchmark copies, while a paraphrased
    * test item shares almost no shingles yet sits next to the benchmark
    * in embedding space. Benchmark vectors (the held-out eval set) probe
    * their nprobe nearest IVF lists; any CORPUS vector in a probed list
    * with rounded cosine ≥ τ is flagged, with the worst-offending bench
    * item (max cosine, ties to the smaller bench id) attached for audit.
    *
    * Plan at 100 TB: the bench set is the SMALL side (an eval suite, not
    * the corpus) — it broadcasts; candidates come from the cid equi-join
    * against the stored inverted lists, touching nprobe/nlist of the
    * corpus per bench vector, never all-pairs. The per-vector readout is
    * a corpus-keyed partial aggregate (map-side combinable). Same
    * approximation contract as [[simSemanticDedup]]: candidates are
    * quantizer-local, the published SemDeDup/contamination-audit shape. */
  val simSemanticDecon: Q = (s, d) => semanticDecon(Ivf.stored(s, d)(), tau = 0.35)

  /** The decontamination over any index with a caller-chosen bench
    * predicate: the standard split by default, the hygiene chain's
    * held-out ids in [[graft.llm.Pipeline]]'s semdecon stage. */
  def semanticDecon(ivf: Ivf, tau: Double, isBench: Column = Tenth): DataFrame = {
    val (inv, b, probes) = deconParts(ivf, isBench)
    deconRollup(deconHits(probes, b, inv, tau))
  }

  /** The three decon inputs shared by the corpus rollup, the bench
    * report, and the recall census: multi-assigned corpus inverted
    * lists, bench vectors, and each bench vector's top-4 probe lists.
    *
    * Recall tuning (census-driven, the r12 kNN-graph lesson replayed):
    * single-assignment lists at nprobe=2 measured 0.46 recall — too
    * porous for a release gate; nprobe=4 alone reached 0.59 (the bench
    * vector's own top lists don't reliably contain its neighbors'
    * single list). Replicating the CORPUS side into its top-2 lists —
    * cluster replication, the published cluster-pruning recipe and
    * exactly [[KnnGraph.of]]'s p-multi-assignment — is what closes it
    * (see sim_decon_recall for the shipped number). Cost at 100 TB: the
    * decon index is 2× corpus rows (an inverted file is replicated
    * storage by design) and the candidate set stays bench-sized. */
  private def deconParts(ivf: Ivf, isBench: Column): (DataFrame, DataFrame, DataFrame) = {
    val b = ivf.vecs.filter(isBench)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"), col("norm2").as("bn"))
    val probes = ivf.top(4).filter(isBench).select(col("vec_id").as("bid"), col("cid"))
    (deconLists(ivf, isBench), b, probes)
  }

  /** The decon index's corpus side: every non-bench vector in its top-2
    * coarse lists (p-multi-assignment). With the centroids, it is what
    * the streamed decon stores persist
    * ([[graft.streaming.Streams.deconStoreInit]]). */
  private[graft] def deconLists(ivf: Ivf, isBench: Column): DataFrame =
    ivf.lists(ivf.top(2).filter(!isBench))

  /** X3j-census: the decon RECALL readout — the quality alarm for the
    * probed decontamination's approximation contract (the decon twin of
    * [[simKnnRecall]]): what fraction of the TRUE τ-pairs (brute-force
    * cosine over bench × corpus) does the quantizer probe (nprobe=4
    * bench lists × 2-multi-assigned corpus lists, [[deconParts]])
    * catch? Run on the full bench set here (bench is the small side); a
    * 100 TB deployment censuses a bench sample exactly like the kNN
    * recall census samples sources. A falling recall means benchmark
    * items drifted off their corpus neighbors' lists — the signal to
    * raise nprobe or refresh the quantizer before trusting a release. */
  val simDeconRecall: Q = (s, d) => deconRecall(Ivf.stored(s, d)(), tau = 0.35)

  def deconRecall(ivf: Ivf, tau: Double): DataFrame = {
    val (inv, b, probes) = deconParts(ivf, Tenth)
    val hits = deconHits(probes, b, inv, tau).select("bid", "nid")
    val brute = ivf.vecs.filter(!Tenth)
      .select(col("vec_id").as("nid"), col("embedding").as("nv"), col("norm2").as("nn"))
      .crossJoin(broadcast(b))
      .withColumn("cosine",
        r4(DotProduct(col("bv"), col("nv")) / (sqrt(col("bn")) * sqrt(col("nn")))))
      .filter(col("cosine") >= tau)
      .select("bid", "nid")
    brute
      .join(hits.withColumn("found", lit(1L)), Seq("bid", "nid"), "left")
      .agg(
        countDistinct(col("bid")).as("n_bench_hit"),
        count(lit(1)).as("n_true_pairs"),
        coalesce(sum("found"), lit(0L)).as("n_found"),
        r4(coalesce(sum("found"), lit(0L)).cast("double") / count(lit(1)))
          .as("recall"))
  }

  /** The shared threshold pass: probed (bid, cid) × inverted lists →
    * exact rounded cosine ≥ τ hits as (bid, nid, cosine). Pairs are NOT
    * unique before the final distinct(): [[deconLists]] multi-assigns
    * each corpus vector to its top-2 lists, so a (bid, nid) pair can be
    * sighted through up to two shared lists; the sightings carry the
    * identical rounded cosine, and the distinct() collapses them
    * exactly. */
  private def deconHits(probes: DataFrame, b: DataFrame, inv: DataFrame,
      tau: Double): DataFrame =
    probes.join(inv, Seq("cid"))
      .join(broadcast(b), Seq("bid"))
      .withColumn("cosine",
        r4(DotProduct(col("bv"), col("nv")) / (sqrt(col("bn")) * sqrt(col("nn")))))
      .filter(col("cosine") >= tau)
      .select("bid", "nid", "cosine")
      // a pair sighted through several shared lists is the SAME pair
      // (identical rounded cosine) — collapse exactly
      .distinct()

  /** The per-corpus-vector rollup over a (bid, nid, cosine) hit frame —
    * shared by the in-plan decon and [[deconStoreReadout]]'s merged
    * store (count and struct-max are distributive, so the streamed
    * store's merge is exact, not approximate). */
  private[graft] def deconRollup(hits: DataFrame): DataFrame =
    hits.groupBy("nid")
      .agg(
        count(lit(1)).cast("int").as("n_hits"),
        max(struct(col("cosine"), (-col("bid")).as("neg_bid"))).as("mx"))
      .select(col("nid").as("vec_id"), (-col("mx.neg_bid")).as("bench_id"),
        col("mx.cosine").as("cosine"), col("n_hits"))
      .orderBy("vec_id")

  /** Hits of a NEW bench batch against the FIXED stored decon index
    * (centroids + corpus inverted lists) — the ingestion-time
    * maintenance primitive behind the streamed decon store (ST14).
    * Probe selection depends only on the fixed centroids and hits only
    * on the fixed lists, so per-batch hit partials merged across
    * batches are BIT-IDENTICAL to the one-shot whole-bench pass. */
  def deconHitsAgainstIndex(bench: DataFrame, cents: DataFrame,
      inv: DataFrame, tau: Double = 0.35): DataFrame = {
    val b = bench.select(col("vec_id").as("bid"), col("embedding").as("bv"))
      .withColumn("bn", DotProduct(col("bv"), col("bv")))
    val probes = b.crossJoin(broadcast(cents))
      .withColumn("cos",
        DotProduct(col("bv"), col("cv")) / (sqrt(col("bn")) * sqrt(col("cn"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy("bid").orderBy(desc("cos"), asc("cid"))))
      .filter(col("rk") <= 4)
      .select("bid", "cid")
    deconHits(probes, b, inv, tau)
  }

  /** X3j-audit: the per-BENCH-ITEM contamination report — the question
    * flipped around: not "which corpus docs must go" but "which eval
    * items are already compromised, and how badly". EVERY bench vector
    * gets a row (n_contaminated = 0 means the item is clean — absence
    * is the answer that matters most), with the worst-offending corpus
    * vector attached for triage. Same candidate pass as
    * [[simSemanticDecon]], rolled up per bench id with a left join back
    * onto the bench set. */
  val simDeconReport: Q = (s, d) => deconReport(Ivf.stored(s, d)(), tau = 0.35)

  def deconReport(ivf: Ivf, tau: Double): DataFrame = {
    val (inv, b, probes) = deconParts(ivf, Tenth)
    val agg = deconHits(probes, b, inv, tau)
      .groupBy("bid")
      .agg(
        count(lit(1)).cast("int").as("nc"),
        max(struct(col("cosine"), (-col("nid")).as("neg_nid"))).as("mx"))
    b.select(col("bid").as("bench_id"))
      .join(agg.withColumnRenamed("bid", "bench_id"), Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("nc"), lit(0)).as("n_contaminated"),
        coalesce(-col("mx.neg_nid"), lit(-1L)).as("worst_vec"),
        coalesce(col("mx.cosine"), lit(0.0)).as("max_cosine"))
      .orderBy("bench_id")
  }

  /** X3d: the ONLINE ANN gate — "which corpus vectors is this incoming
    * embedding near?", the ingestion-time twin of
    * [[graft.llm.Dedup.dedupAgainstCorpus]] for the embedding space.
    * `newVecs` may be STREAMING: the 48-plane signature is in-row
    * codegen'd DotProducts (stateless), candidates come from a
    * stream-static equi-join against the pre-built corpus band index,
    * and the exact-cosine verify is a second stream-static join — no
    * stateful operator, append-mode, no watermark. A pair colliding in
    * several bands emits duplicate rows; dedupe at the sink per
    * micro-batch (the ST5/ST6 layer). */
  def annAgainstCorpus(newVecs: DataFrame, corpusBands: DataFrame,
      corpus: DataFrame, minCosine: Double = 0.9): DataFrame = {
    val sig = lshSignature(newVecs
      .withColumn("norm2", DotProduct(col("embedding"), col("embedding"))))
    lshBands(sig, "vec_id", keep = Seq("embedding", "norm2"))
      .join(corpusBands.select(col("vec_id").as("corpus_vec"), col("band"), col("bh")),
        Seq("band", "bh"))
      .join(corpus.select(col("vec_id").as("corpus_vec"),
        col("embedding").as("cv"), col("norm2").as("cn")), Seq("corpus_vec"))
      .withColumn("cosine",
        r4(DotProduct(col("embedding"), col("cv")) / (sqrt(col("norm2")) * sqrt(col("cn")))))
      .filter(col("cosine") >= minCosine)
      .select("vec_id", "corpus_vec", "cosine")
  }

  /** Stateless assignment of NEW vectors against a FIXED centroid table —
    * the ingestion-time maintenance primitive behind the streamed
    * inverted-list delta store ([[graft.streaming.Streams.invlistStoreSink]],
    * ST10). One broadcast pass: score against the (KB-scale) centroids,
    * argmax per vector, returned in inverted-list row shape
    * (cid, nid, nv, nn) so the output appends straight onto the stored
    * lists. Because assignment depends ONLY on the fixed centroids, a
    * probe over base + streamed delta is bit-identical to a probe over a
    * full batch rebuild with the same quantizer (StreamsSpec ST10 pins
    * it) — the index stays fresh without ever re-scanning the corpus. */
  def assignAgainstCentroids(newVecs: DataFrame, centroids: DataFrame): DataFrame = {
    val v = newVecs.select(col("vec_id"), col("embedding"))
      .withColumn("norm2", DotProduct(col("embedding"), col("embedding")))
    val assign = v.crossJoin(broadcast(centroids))
      .withColumn("cos", DotProduct(col("embedding"), col("cv")) /
        (sqrt(col("norm2")) * sqrt(col("cn"))))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cid"))
    assign.join(v, Seq("vec_id"))
      .select(col("cid"), col("vec_id").as("nid"),
        col("embedding").as("nv"), col("norm2").as("nn"))
  }

  /** Probe an IVF index: nearest `nprobe` centroids per query (tiny
    * crossJoin against the broadcast centroid table), then exact cosine
    * top-k over only the probed inverted lists. It needs ONLY the two
    * storable artifacts of the index, `centroids(cid, cv, cn)` (nlist
    * rows, KBs) and `invlists(cid, nid, nv, nn)` (one row per corpus
    * vector, hash-partitionable by cid), not the build pipeline — so
    * sim_ivf probes the in-plan lists and sim_ivf_persist the stored
    * ones with the same expressions (IvfPersistSpec pins probe-from-disk
    * == probe-in-plan row-for-row), and a `partitionBy("cid")` table
    * prunes the scan to the probed lists. */
  def ivfProbe(queries: DataFrame, centroids: DataFrame, invlists: DataFrame,
      nprobe: Int = 4, k: Int = 5): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      DotProduct(col("embedding"), col("embedding")).as("qn"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cos",
        DotProduct(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), asc("cid"))))
      .filter(col("rk") <= nprobe)
      .select("qid", "cid")
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
    probes.join(invlists, Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cosine",
        r4(DotProduct(col("qv"), col("nv")) / (sqrt(col("qn")) * sqrt(col("nn")))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "nid", "cosine")
      .orderBy("qid", "rnk")
  }

  /** X3d driver gate — the online ANN gate's batch twin (the identical
    * plan runs on a stream; LshRecallSpec drives the MemoryStream form):
    * a deterministic probe slice (vec_id % 100 = 0) flows through
    * [[annAgainstCorpus]] against the full corpus band index and the
    * gate's decision — each arriving vector's NEAREST banded neighbor —
    * is what the oracle compares. (A fixed high threshold would be
    * vacuous on this corpus, whose max pairwise cosine is ~0.51; top-1
    * per probe is non-trivial on any data.) Band collisions emit
    * duplicate rows by design; the sink-style distinct collapses them
    * before ranking. */
  val simOnlineGate: Q = (s, d) => {
    val vecs = t(s, d, "embeddings")
    val corpus = vecs.withColumn("norm2",
      DotProduct(col("embedding"), col("embedding")))
    val corpusBands = lshBands(lshSignature(corpus), "vec_id")
    val probes = vecs.filter(col("vec_id") % 100 === 0)
    val hits = annAgainstCorpus(probes, corpusBands, corpus, minCosine = -1.0)
      .filter(col("vec_id") =!= col("corpus_vec"))
      .distinct()
    val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("corpus_vec"))
    hits.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select("vec_id", "corpus_vec", "cosine")
      .orderBy("vec_id")
  }

  /** X3e driver gate: the build-once/probe-many loop under the oracle.
    * Builds the IVF artifacts, writes them to parquet (inverted lists
    * `partitionBy("cid")` so the probe partition-prunes to the probed
    * lists — IvfPersistSpec pins the PartitionFilters), RELOADS both
    * tables, and answers the sim_ivf query purely from the stored index.
    * Same oracle SQL as sim_ivf: the stored-artifact probe must be
    * row-identical to the in-plan index.
    *
    * The write here is the INDEX BUILD — a deliberate one-time action
    * (the entire point of persistence), not a construction-time accident:
    * at 100 TB the clustering + artifact write runs once per corpus
    * version, and every later query batch pays only the pruned probe.
    * [[Artifacts.buildOnce]] makes that literal: the first call in a
    * session builds and stores; every later call — the bench's warm
    * reps, exactly like production's query batches — reads the stored
    * index and pays only the probe. The store is keyed by dataset path +
    * session id (no `hashCode` collisions, no cross-session staleness)
    * and self-cleans dirs left by dead sessions. */
  val simIvfPersist: Q = (s, d) => {
    val dir = Artifacts.buildOnce(s, "ivf", d) { dd =>
      val ivf = Ivf.stored(s, d)()
      ivf.cents.write.mode("overwrite").parquet(s"$dd/centroids")
      ivf.lists().write.mode("overwrite").partitionBy("cid").parquet(s"$dd/invlists")
    }
    val qs = t(s, d, "embeddings").filter(col("vec_id") < 20)
    ivfProbe(qs, graft.Tables.parquet(s, s"$dir/centroids"),
      graft.Tables.parquet(s, s"$dir/invlists"))
  }

  /** X3e-b: INCREMENTAL INDEX GROWTH under the oracle — the driver-gated
    * batch twin of the streamed delta store (ST10,
    * [[graft.streaming.Streams.invlistStoreSink]]). The even-id half is
    * the BASE corpus and trains the quantizer; the odd-id half is the
    * later-arriving delta, assigned by the same stateless
    * [[assignAgainstCentroids]] primitive the streaming sink uses. The
    * readout is per-list: base members, delta members, and an order-free
    * xor membership fingerprint over base ∪ delta. The DuckDB oracle
    * REBUILDS the grown index (trains on the even half, assigns
    * everything), so "maintained lists == batch rebuild" — the claim the
    * ST10 spec pins at one SF — is hash-proven at every gate SF. */
  def ivfDeltaOf(embs: DataFrame, nlist: Int = 32): DataFrame = {
    val base = embs.filter(col("vec_id") % 2 === 0)
    val delta = embs.filter(col("vec_id") % 2 === 1)
    val cents = Ivf.of(base, nlist).cents
    val inv = assignAgainstCentroids(base, cents)
      .withColumn("is_base", lit(1L))
      .unionByName(assignAgainstCentroids(delta, cents)
        .withColumn("is_base", lit(0L)))
    inv
      .withColumn("member_h",
        expr("CAST(conv(substr(md5(CAST(nid AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy("cid")
      .agg(sum(col("is_base")).as("n_base"),
        sum(lit(1L) - col("is_base")).as("n_delta"),
        expr("bit_xor(member_h)").as("member_fp"))
      .orderBy("cid")
  }

  val simIvfDelta: Q = (s, d) => ivfDeltaOf(t(s, d, "embeddings"))

  /** X3f: product-quantization ANN — the MEMORY-bound scale path beside
    * IVF's compute-bound one. The 64-dim vector splits into M=8
    * subvectors; each subspace gets its own K=16-centroid codebook
    * (deterministic seeds + 2 decimal-exact Lloyd iterations, the same
    * quantizer recipe as [[Ivf.of]]); a vector stores as 8 small codes
    * (≈8 bytes vs 256 — a 32× footprint cut, which at 100 TB is the
    * difference between an in-memory index and one that pages). Queries
    * use ADC (asymmetric distance computation): per query, an 8×16 table
    * of exact subspace dot products against the codebook, then each
    * candidate's approximate dot is just 8 table lookups summed — no
    * per-candidate float math at all. Here the lookup is the
    * codes⋈broadcast(table) join and the sum is an m-ordered fold
    * (bit-deterministic in both engines).
    *
    * Correctness gate is EXACT, not recall-based: the oracle replays the
    * whole pipeline — subspace slicing, both Lloyd iterations with
    * decimal(27,10) means, tie-broken argmin codes, the ADC table and
    * fold — so the driver hash-compares the actual top-k under the
    * approximate metric. (Recall vs brute force is the quantizer's
    * quality, not the engine's correctness; PqSpec pins the Lloyd
    * improvement instead.) */
  /** The PQ codebook build, exposed for [[simPq]] and PqSpec:
    * returns (sub, finalCentroids, codes). */
  private[llm] def pqParts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val vecs = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    // subvectors, float→double once: (vec_id, m ∈ [0,8), sv: 8 doubles)
    val sub = vecs.select(col("vec_id"), posexplode(expr(
        """transform(sequence(0, 7),
             m -> transform(slice(embedding, m * 8 + 1, 8),
                            x -> CAST(x AS DOUBLE)))""")))
      .select(col("vec_id"), col("pos").as("m"), col("col").as("sv"))
    // the codebook materializes before the codes are planned on it, so
    // the Lloyd training runs once for the codebook and the codes alike
    val cents = materialize(pqTrain(sub), "sim.pq_codebook")
    (sub, cents, pqAssign(sub, cents))
  }

  /** The PQ codebook trainer over ANY (vec_id, m, sv) subvector frame:
    * deterministic seeds (vec_id < 16) + two decimal-exact Lloyd
    * iterations per subspace — shared by [[simPq]] (raw subvectors) and
    * [[simIvfPq]] (coarse-quantizer residuals). */
  private[llm] def pqTrain(sub: DataFrame): DataFrame = {
    // one Lloyd step per subspace: decimal-exact per-dimension means
    def lloyd(cents: DataFrame): DataFrame = pqAssign(sub, cents)
      .join(sub, Seq("vec_id", "m"))
      .select(col("m"), col("cid"), posexplode(col("sv")))
      .groupBy("m", "cid", "pos")
      .agg((sum(col("col").cast("decimal(27,10)")).cast("double") /
        count(lit(1))).as("mu"))
      .groupBy("m", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        x => x.getField("mu")).as("cv"))
    lloyd(lloyd(pqSeed(sub)))
  }

  /** The deterministic PQ seeds: each subspace's first 16 vectors by id. */
  private[llm] def pqSeed(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("cv"))

  /** Nearest codebook entry per (vector, subspace): L2² via an ordered
    * fold; min over a (dist, cid) struct = smallest-cid tie-break. */
  private[llm] def pqAssign(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(cents), Seq("m"))
      .withColumn("dist", expr(
        "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("cid"))).as("dc"))
      .select(col("vec_id"), col("m"), col("dc.cid").as("cid"),
        col("dc.dist").as("dist"))

  val simPq: Q = (s, d) => {
    // Build-once/probe-many ([[Artifacts]], same policy as sim_ivfpq /
    // sim_ivf_persist / the dedup gate): the codebooks and codes are the
    // storable index; warm calls pay only the ADC probe. The stored
    // artifacts are deterministic (seeded Lloyd), so the oracle replay
    // is unchanged.
    val dir = Artifacts.buildOnce(s, "pq", d) { dd =>
      val (_, cents, codesWithDist) = pqParts(s, d)
      cents.write.mode("overwrite").parquet(s"$dd/pqcents")
      codesWithDist.select("vec_id", "m", "cid")
        .write.mode("overwrite").parquet(s"$dd/codes")
    }
    val cents = graft.Tables.parquet(s, s"$dir/pqcents")
    val codes = graft.Tables.parquet(s, s"$dir/codes")
    // ADC table: 20 queries × 8 subspaces × ≤16 centroids of exact dots
    val qsub = t(s, d, "embeddings").filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), posexplode(expr(
        """transform(sequence(0, 7),
             m -> transform(slice(embedding, m * 8 + 1, 8),
                            x -> CAST(x AS DOUBLE)))""")))
      .select(col("qid"), col("pos").as("m"), col("col").as("qv"))
    val tab = qsub.join(broadcast(cents), Seq("m"))
      .withColumn("pd", expr(
        "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (a, v) -> a + v)"))
      .select(col("qid"), col("m"), col("cid"), col("pd"))
    val w = Window.partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    codes.join(broadcast(tab), Seq("m", "cid"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      // m-ordered fold so the 8-term sum is bit-identical to the oracle's
      .agg(expr("""aggregate(transform(array_sort(collect_list(struct(m, pd))),
                   x -> x.pd), 0D, (a, v) -> a + v)""").as("adot"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("adot", r4(col("adot")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "rnk", "nid", "adot")
      .orderBy("qid", "rnk")
  }

  /** X3k: SCALAR 8-bit quantization ANN (SQ8) — the third compression
    * family beside IVF (compute-bound pruning) and PQ (subspace
    * codebooks): each DIMENSION maps linearly to an 8-bit code against
    * per-dimension corpus min/max (the FAISS SQ8 recipe) — a flat 4×
    * footprint cut with trivial decode, the format production indexes
    * default to before PQ's accuracy trade is warranted. Encode:
    * c = clamp₀₂₅₅(⌊(x − mn)·255/Δ + ½⌋), one in-row map — no shuffle.
    * Queries score candidates asymmetrically against the DEQUANTIZED
    * values (q · (mn + c·Δ/255)) in one in-row ordered fold; the stats
    * ride along as two broadcast 64-element arrays, and the only join
    * is the broadcast 20-query cross. At 100 TB the scan IS the cost —
    * flat SQ8 by design; composing with IVF's list pruning is
    * [[simIvfPq]]'s job. Correctness gate is EXACT (the sim_pq policy):
    * the oracle replays stats, codes, the dim-ordered fold, and the
    * round-then-rank top-k bit-for-bit. */
  /** The SQ8 approximate scorer shared by [[simSq8]] (rank the ADC
    * metric directly) and [[simSq8Rerank]] (shortlist → exact re-rank):
    * (qid, nid, adot) for every query × candidate pair, adot already
    * rounded (round-then-rank, same as the oracle). */
  private[llm] def sq8Doubles(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  private[llm] def sq8StatsOf(vecs: DataFrame): DataFrame =
    vecs.select(posexplode(col("v")))
      .groupBy("pos").agg(min("col").as("mn"), max("col").as("mx"))
      .groupBy().agg(
        expr("transform(array_sort(collect_list(struct(pos, mn))), x -> x.mn)")
          .as("mns"),
        expr("transform(array_sort(collect_list(struct(pos, mn, mx))), x -> x.mx - x.mn)")
          .as("dts"))

  private[llm] def sq8Encode(vecs: DataFrame, stats: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(stats))
      .withColumn("codes", expr(
        """transform(sequence(0, 63), i ->
             CAST(least(255D, greatest(0D,
               floor(CASE WHEN element_at(dts, i + 1) > 0D
                     THEN (element_at(v, i + 1) - element_at(mns, i + 1)) * 255D
                          / element_at(dts, i + 1) + 0.5D
                     ELSE 0D END))) AS INT))"""))
      .select("vec_id", "codes")

  /** The ADC scoring core: every (query, candidate) pair's dequantized
    * dot in one dim-ordered in-row fold — bit-identical to the oracle's
    * list_reduce in the same index order. */
  private[llm] def sq8ScoresFrom(codesWithStats: DataFrame, queries: DataFrame): DataFrame =
    codesWithStats.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("adot", expr(
        """aggregate(sequence(0, 63), 0D, (a, i) ->
             a + element_at(qv, i + 1) *
                 (element_at(mns, i + 1) +
                  CAST(element_at(codes, i + 1) AS DOUBLE)
                    * element_at(dts, i + 1) / 255D))"""))
      .withColumn("adot", r4(col("adot")))
      .select(col("qid"), col("vec_id").as("nid"), col("adot"))

  private[llm] def sq8Queries(embs: DataFrame): DataFrame =
    sq8Doubles(embs.filter(col("vec_id") < 20))
      .select(col("vec_id").as("qid"), col("v").as("qv"))

  /** The stored SQ8 index (codes ⋈ broadcast stats) — build-once/
    * probe-many ([[Artifacts]], same policy as sim_pq /
    * sim_ivf_persist): the per-dim stats and the 8-bit codes ARE the
    * storable index (the 4×-smaller table a 100 TB deployment keeps in
    * place of the raw vectors); warm calls pay only the compressed
    * scan. Deterministic stats → the oracle replay is unchanged. */
  private[llm] def sq8StoreDir(s: SparkSession, d: String): java.io.File =
    Artifacts.buildOnce(s, "sq8", d) { dd =>
      val vecsB = sq8Doubles(t(s, d, "embeddings"))
      sq8StatsOf(vecsB).write.mode("overwrite").parquet(s"$dd/stats")
      sq8Encode(vecsB, graft.Tables.parquet(s, s"$dd/stats"))
        .write.mode("overwrite").parquet(s"$dd/codes")
    }

  private def sq8Index(s: SparkSession, d: String): DataFrame = {
    val dir = sq8StoreDir(s, d)
    graft.Tables.parquet(s, s"$dir/codes")
      .crossJoin(broadcast(graft.Tables.parquet(s, s"$dir/stats")))
  }

  private def sq8Scores(s: SparkSession, d: String): DataFrame =
    sq8ScoresFrom(sq8Index(s, d), sq8Queries(t(s, d, "embeddings")))

  /** X3k-gate: ONLINE SQ8 admission gate — an arriving slice probes the
    * STORED compressed index asymmetrically (raw query against
    * dequantized codes — the probe encodes nothing, so clamp error only
    * enters on the indexed side): top-1 match per probe, flagged at
    * adot ≥ 0.42 as near-dup pressure. The streaming shape is a
    * stream-static broadcast join per batch; gated by the full
    * stats → codes → fold replay, so store == recompute per row. */
  val simSq8Gate: Q = (s, d) => {
    val w = Window.partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    // the arriving batch is the % 50 slice (2% of the corpus): a gate
    // prices per ARRIVING vector — batch × corpus-codes ADC work — so
    // the demo batch stays a batch, not a fifth of the table; a corpus
    // big enough to make even that linear scan hurt composes the same
    // fold behind the IVF prune ([[simIvfPq]]) instead
    sq8ScoresFrom(sq8Index(s, d),
        sq8Doubles(t(s, d, "embeddings").filter(col("vec_id") % 50 === 2))
          .select(col("vec_id").as("qid"), col("v").as("qv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("flagged", col("adot") >= 0.42)
      .select("qid", "nid", "adot", "flagged")
      .orderBy("qid")
      .limit(300)
  }

  /** The whole SQ8 top-k over ANY (vec_id, embedding) frame, built
    * in-plan (no stored artifact) — the jx `corpus_op` fallback for
    * non-standard corpora. */
  def sq8TopkOf(embs: DataFrame): DataFrame = {
    val vecs = sq8Doubles(embs)
    // one stats aggregate feeds BOTH the encode and the broadcast
    // decode join — the per-dimension min/max corpus pass runs once
    val stats = sq8StatsOf(vecs)
    val scored = sq8ScoresFrom(
      sq8Encode(vecs, stats).crossJoin(broadcast(stats)),
      sq8Queries(embs))
    val w = Window.partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "rnk", "nid", "adot")
      .orderBy("qid", "rnk")
  }

  val simSq8: Q = (s, d) => {
    val w = Window.partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    sq8Scores(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "rnk", "nid", "adot")
      .orderBy("qid", "rnk")
  }

  /** X3k-rerank: the standard two-stage retrieval over the SQ8 index —
    * a wide approximate shortlist (top-20 by ADC) re-ranked by the
    * EXACT dot over the raw vectors (only 20×20 exact dots per query
    * set; the compressed scan does the winnowing). Same shape as
    * [[simIvfPqRerank]]. */
  val simSq8Rerank: Q = (s, d) => {
    val wA = Window.partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    val shortlist = sq8Scores(s, d)
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= 20)
      .select("qid", "nid")
    val vecs = t(s, d, "embeddings")
    val corpus = vecs.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val qv = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wE = Window.partitionBy("qid").orderBy(desc("dot"), asc("nid"))
    shortlist.join(corpus, Seq("nid"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("dot", r4(DotProduct(col("qe"), col("nv"))))
      .withColumn("rnk", row_number().over(wE))
      .filter(col("rnk") <= 5)
      .select("qid", "rnk", "nid", "dot")
      .orderBy("qid", "rnk")
  }

  /** X3g: IVF-PQ with RESIDUAL quantization — the composition of the two
    * scale paths (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", IEEE TPAMI 2011, §IV): the coarse IVF quantizer
    * prunes the search to nprobe inverted lists (compute-bound win), and
    * each list's vectors store only 8 PQ codes of their RESIDUAL
    * v − c(v) (memory-bound win — residuals have far less variance than
    * raw vectors, so the same 8×16 codebooks quantize them much more
    * accurately). A query's approximate dot is
    * q·v ≈ q·c + Σ_m q_m · pqcv(m, code_m): the coarse term is one
    * broadcast dot per probed list, the residual term is the same 8-way
    * ADC table lookup as [[simPq]] — no per-candidate float math.
    *
    * Plan shape at 100 TB: codebooks train on residuals once (the same
    * 2-iteration deterministic Lloyd as simPq); candidates come ONLY
    * from the nprobe probed lists (never the corpus); the ADC table and
    * coarse-dot table are broadcast-tiny (queries × 16 rows each).
    * PlanAuditSpec pins broadcast ADC + no cartesian beyond the
    * deliberate nlist-row centroid cross.
    *
    * Correctness gate is EXACT (same policy as sim_pq): the oracle
    * replays the coarse 2-iteration Lloyd, the residual slicing, the
    * residual codebooks, codes, ADC and the m-ordered fold — then the
    * single qcdot + Σ addition — so the driver hash-compares the actual
    * IVF-PQ top-k. */
  val simIvfPq: Q = (s, d) => {
    val w = Window.partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    ivfPqApprox(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "rnk", "nid", "adot")
      .orderBy("qid", "rnk")
  }

  /** The IVF-PQ approximate scorer shared by [[simIvfPq]] (rank the ADC
    * metric directly) and [[simIvfPqRerank]] (ADC shortlist → exact
    * re-rank): returns (qid, nid, adot) for every candidate in the
    * query's nprobe probed lists, adot already rounded (round-then-rank,
    * same as the oracle). */
  private def ivfPqApprox(s: SparkSession, d: String): DataFrame = {
    val nprobe = 4
    // Build-once/probe-many ([[Artifacts]]): the IVF-PQ index — coarse
    // centroids, residual codebooks, per-vector codes, list assignments —
    // is the storable artifact; every later call (the bench's warm reps,
    // production's query batches) pays only the probe. The build is the
    // full deterministic train: coarse 2-iteration Lloyd, residuals
    // against the assigned centroid, [[pqTrain]] on residual subvectors.
    val dir = Artifacts.buildOnce(s, "ivfpq", d) { dd =>
      val ivf = Ivf.stored(s, d)()
      val resid = ivf.assign.join(ivf.vecs, Seq("vec_id"))
        .join(broadcast(ivf.cents), Seq("cid"))
        .select(col("vec_id"),
          expr("zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) - y)").as("rv"))
      val rsub = resid.select(col("vec_id"), posexplode(expr(
          "transform(sequence(0, 7), m -> slice(rv, m * 8 + 1, 8))")))
        .select(col("vec_id"), col("pos").as("m"), col("col").as("sv"))
      val cents2 = materialize(pqTrain(rsub), "sim.ivfpq_codebook")
      ivf.cents.write.mode("overwrite").parquet(s"$dd/cents")
      cents2.write.mode("overwrite").parquet(s"$dd/pqcents")
      pqAssign(rsub, cents2)
        .select(col("vec_id").as("nid"), col("m"), col("cid").as("pqc"))
        .write.mode("overwrite").parquet(s"$dd/codes")
      ivf.assign.select(col("vec_id").as("nid"), col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$dd/assign")
    }
    val cents = graft.Tables.parquet(s, s"$dir/cents")
    val cents2 = graft.Tables.parquet(s, s"$dir/pqcents")
    val codes = graft.Tables.parquet(s, s"$dir/codes")
    // query-side tables: 8-subspace ADC dots and per-list coarse dots
    val q = t(s, d, "embeddings").filter(col("vec_id") < 20)
    val qsub = q.select(col("vec_id").as("qid"), posexplode(expr(
        """transform(sequence(0, 7),
             m -> transform(slice(embedding, m * 8 + 1, 8),
                            x -> CAST(x AS DOUBLE)))""")))
      .select(col("qid"), col("pos").as("m"), col("col").as("qv"))
    val tab = qsub.join(broadcast(cents2), Seq("m"))
      .withColumn("pd", expr(
        "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (a, v) -> a + v)"))
      .select(col("qid"), col("m"), col("cid").as("pqc"), col("pd"))
    val qc = q.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"), DotProduct(col("qe"), col("cv")).as("qcdot"))
    // nprobe nearest coarse lists per query (scored against the STORED
    // centroids — same expression, same values as the build's scorer)
    val probes = q
      .withColumn("norm2", DotProduct(col("embedding"), col("embedding")))
      .crossJoin(broadcast(cents))
      .withColumn("cos",
        DotProduct(col("embedding"), col("cv")) / (sqrt(col("norm2")) * sqrt(col("cn"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cos"), asc("cid"))))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid"))
    val cand = probes.join(graft.Tables.parquet(s, s"$dir/assign"), Seq("cid"))
    cand.join(codes, Seq("nid"))
      .join(broadcast(tab), Seq("qid", "m", "pqc"))
      // m-ordered fold; 0D + pd0 = pd0 exactly, so the 8-term sum is
      // bit-identical to the oracle's first-element list_reduce
      .groupBy("qid", "nid", "cid")
      .agg(expr("""aggregate(transform(array_sort(collect_list(struct(m, pd))),
                   x -> x.pd), 0D, (a, v) -> a + v)""").as("s8"))
      .join(broadcast(qc), Seq("qid", "cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), r4(col("qcdot") + col("s8")).as("adot"))
  }

  /** X3g-b: the two-stage IVF-PQ search (Jégou §V's refinement, the
    * shape every production ANN system runs): the broad ADC pass ranks
    * ALL probed-list candidates by the approximate metric, a SHORTLIST
    * (top-R=20 per query) survives, and only those R rows pay an exact
    * 64-dim dot against the raw vectors — per query, 20 exact dots
    * instead of |probed lists|, while recall recovers from any PQ
    * quantization error inside the shortlist. The exact side joins the
    * corpus table by nid (at 100 TB: a broadcast of the R·|queries|
    * shortlist against the vector table, or a pruned lookup if vectors
    * are stored by id — never a scan of the approximate candidates'
    * full lists). Oracle: the full sim_ivfpq replay up to the candidate
    * adots, the same round-then-rank top-R cut, then exact list_reduce
    * dots re-ranked — hash-exact like its siblings. */
  val simIvfPqRerank: Q = (s, d) => {
    val wA = Window.partitionBy("qid").orderBy(desc("adot"), asc("nid"))
    val shortlist = ivfPqApprox(s, d)
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= 20)
      .select("qid", "nid")
    val vecs = t(s, d, "embeddings")
    val corpus = vecs.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val qv = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wE = Window.partitionBy("qid").orderBy(desc("dot"), asc("nid"))
    shortlist.join(corpus, Seq("nid"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("dot", r4(DotProduct(col("qe"), col("nv"))))
      .withColumn("rnk", row_number().over(wE))
      .filter(col("rnk") <= 5)
      .select("qid", "rnk", "nid", "dot")
      .orderBy("qid", "rnk")
  }

  /** X3c: IVF list-balance census — the IVF twin of
    * [[simLshCandidates]]'s cost monitor: per centroid, how many vectors
    * its inverted list holds and what share of the corpus that is. Probe
    * cost is Σ sizes of the probed lists, so a skewed quantizer silently
    * degrades ANN toward a scan; this census is the quantity to watch
    * (and the k-means refinement's measurable win over seed-only
    * centroids — LshRecallSpec gates recall, this gates balance). */
  val simIvfCensus: Q = (s, d) => {
    val ivf = Ivf.stored(s, d)()
    ivf.assign.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(ivf.vecs.agg(count(lit(1)).as("n_total"))))
      .select(col("cid"), col("n_vecs"),
        r4(col("n_vecs").cast("double") / col("n_total")).as("share"))
      .orderBy("cid")
  }

  /** X3h: semantic deduplication (SemDeDup-shaped: cluster-then-prune).
    * Embedding-space near-dups are found WITHIN coarse k-means clusters
    * only: reuse the index's quantizer (seed + two decimal-exact Lloyd
    * iterations — the same `assign` the ANN paths trust), self-join each
    * cluster's members, and drop every vector that has a smaller-id
    * neighbor in its cluster at cosine ≥ τ. Output is the drop decision
    * itself: (cid, vec_id, dup_of = smallest qualifying neighbor, that
    * pair's cosine). τ = 0.35 sits in this corpus's near-dup tail (99.9th
    * percentile of the pair-cosine distribution) so drops occur at every
    * test SF.
    *
    * At 100 TB: the pair join is per-cluster (join key cid), so cost is
    * Σ cᵢ² with cᵢ ≈ n/nlist — nlist grows with the corpus to hold
    * cluster sizes bounded, which is exactly the published SemDeDup
    * recipe (k ∝ n). Never all-pairs: the quantizer is broadcast-scored
    * (nlist ≪ n) and the self-join shuffles each vector once on cid. */
  val simSemanticDedup: Q = (s, d) => semanticDedup(Ivf.stored(s, d)(), tau = 0.35)

  def semanticDedup(ivf: Ivf, tau: Double): DataFrame = {
    val mem = ivf.lists()
    val other = mem.select(col("cid"), col("nid").as("bid"),
      col("nv").as("bv"), col("nn").as("bn"))
    mem.join(other, Seq("cid"))
      .filter(col("bid") < col("nid"))
      .withColumn("cos",
        DotProduct(col("nv"), col("bv")) / (sqrt(col("nn")) * sqrt(col("bn"))))
      .filter(col("cos") >= tau)
      .groupBy(col("cid"), col("nid").as("vec_id"))
      .agg(min(col("bid")).as("dup_of"),
        r4(min_by(col("cos"), col("bid"))).as("cosine"))
      .orderBy("cid", "vec_id")
  }

  /** X3m (forward idea j): k-NN GRAPH construction over the IVF lists —
    * the input artifact for graph-based curation analyses (diversity
    * sampling, community detection, coreset selection). Candidate
    * generation is SYMMETRIC MULTI-ASSIGNMENT (cluster replication):
    * every vector is placed in its `p` = 3 nearest coarse lists,
    * candidates are co-members of ANY shared list, and each vector keeps
    * its exact top-k by cosine. Replication is what makes recall robust
    * when the coarse quantizer correlates weakly with true
    * neighborhoods: probing p lists against PRIMARY-only members needs
    * both endpoints to rank each other's single list inside their own
    * top-p (measured 0.32 at p=2 on this corpus — the r12 recall-gate
    * failure mode), while a shared-list test over two top-p sets hits
    * 0.87 at p=3 (ProbeDiag). An edge's `cid` is the smallest shared
    * list; rank is over the ROUNDED cosine with dst-id tie-break —
    * deterministic and engine-replayable.
    *
    * Plan shape at 100 TB: probe assignment is a per-vector top-p over
    * the already-broadcast-scored centroid table (no extra pass); the
    * candidate join is cid-equi (one shuffle on cid) over p×-replicated
    * lists — Σ (p·|list|)² per list with |list| bounded because nlist
    * scales with n (and the census catches imbalance), so no global n²
    * anywhere. Duplicate pair sightings (two shared lists) collapse in
    * one (src,dst) groupBy; cosine is identical across sightings so the
    * merge is exact. Recall/cost is tuned by (nlist, p) exactly as in
    * published cluster-replication kNN-graph practice.
    *
    * The graph is one value every graph readout below is written
    * against once: the vectors it was built from (`vecs`, for the recall
    * census's brute force), its directed top-k `edges`
    * (src, rnk, dst, cosine, cid), the `mutual` pairs
    * (src, dst, cosine, rnk_fwd, rnk_rev), their connected-component
    * `labels` (id, lbl) and mutual `degrees` (id, degree).
    * [[KnnGraph.stored]] reads the four tables from the build-once store;
    * [[KnnGraph.of]] builds the edges in-plan and derives the rest only
    * when a readout reads it, so a readout runs only the eager jobs it
    * needs (the CC labeling only for the readouts over `labels`). */
  final class KnnGraph(val vecs: DataFrame, val edges: DataFrame,
      mutualIn: => DataFrame, labelsIn: => DataFrame, degreesIn: => DataFrame) {
    lazy val mutual: DataFrame = mutualIn
    lazy val labels: DataFrame = labelsIn
    lazy val degrees: DataFrame = degreesIn
  }

  object KnnGraph {

    /** The graph over any (vec_id, embedding) frame, its quantizer
      * trained in-plan. */
    def of(embs: DataFrame, nlist: Int = AutoNlist, k: Int = 3): KnnGraph = {
      val edges = edgesOf(Ivf.of(embs, nlist), k)
      lazy val mutual = mutualOfEdges(edges)
      new KnnGraph(embs, edges, mutual, labelsOfMutual(mutual), degreesOfMutual(mutual))
    }

    /** The graph of the standard embeddings table AND everything derived
      * from it as ONE artifact (the [[graft.llm.Artifacts]]
      * build-once/probe-many contract, like `sim_ivf_persist`): the
      * edge build over the shared stored quantizer AND the iterative
      * connected-components labeling run once per (session, dataset);
      * the graph / mutual / cluster / diversity / stats keys — and the jx
      * `corpus_op` routes over the standard embeddings table — all PROBE
      * the stored tables. That is what a production curation stack does
      * (the kNN graph is built nightly; every analysis reads it), and it
      * is the difference between a per-query multi-job CC re-run (5–13 s
      * per readout in the r12 bench) and a KB-scale table scan (≤0.2 s).
      * Long/int/double columns round-trip parquet bit-exactly, so the
      * stored tables stay under the same oracles as the in-plan build. */
    def stored(s: SparkSession, d: String): KnnGraph = {
      val dir = Artifacts.buildOnce(s, "knn_graph", d) { dd =>
        edgesOf(Ivf.stored(s, d)(), k = 3)
          .write.mode("overwrite").parquet(s"$dd/edges")
        mutualOfEdges(graft.Tables.parquet(s, s"$dd/edges"))
          .write.mode("overwrite").parquet(s"$dd/mutual")
        val mutual = graft.Tables.parquet(s, s"$dd/mutual")
        labelsOfMutual(mutual).write.mode("overwrite").parquet(s"$dd/labels")
        degreesOfMutual(mutual).write.mode("overwrite").parquet(s"$dd/degrees")
      }
      def table(name: String) = graft.Tables.parquet(s, s"$dir/$name")
      new KnnGraph(t(s, d, "embeddings"), table("edges"), table("mutual"),
        table("labels"), table("degrees"))
    }

    private def edgesOf(ivf: Ivf, k: Int): DataFrame =
      knnEdgesFromMem(knnMembership(ivf, p = 3), k).orderBy("src", "rnk")

    /** X3h-b (forward idea k): MUTUAL (reciprocal) kNN filter — keep only
      * the pairs that are in each other's top-k, the standard denoising
      * pre-step before graph clustering (a one-way edge into a hub is
      * usually an artifact of the hub's density, not a real affinity; a
      * reciprocal edge is evidence both ways). One row per unordered pair
      * with both ranks: a self-join of the edge table on reversed
      * endpoints — an equi-join on (src, dst), no scoring re-run. */
    private def mutualOfEdges(edges: DataFrame): DataFrame = {
      val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
        col("rnk").as("rnk_rev"))
      edges.join(rev, Seq("src", "dst"))
        .filter(col("src") < col("dst"))
        .select(col("src"), col("dst"), col("cosine"),
          col("rnk").as("rnk_fwd"), col("rnk_rev"))
    }

    /** Connected components over the mutual pairs
      * ([[graft.llm.Dedup.clusterLabelsFrom]]). */
    private def labelsOfMutual(mutual: DataFrame): DataFrame =
      Dedup.clusterLabelsFrom(mutual.select(col("src").as("da"), col("dst").as("db")))

    /** Mutual-edge count per vertex. */
    private def degreesOfMutual(mutual: DataFrame): DataFrame =
      mutual.select(col("src").as("id"))
        .unionByName(mutual.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
  }

  /** The p×-replicated list membership (vec_id, cid, embedding, norm2) —
    * materialized ONCE: both sides of the candidate self-join derive
    * from it, and without the checkpoint the whole quantizer chain
    * (2 Lloyd passes + scoring + probe window) is evaluated twice. The
    * table is p× the vector count — it IS the inverted file a
    * production IVF build persists anyway. */
  private[llm] def knnMembership(ivf: Ivf, p: Int): DataFrame =
    materialize(ivf.top(p).select("vec_id", "cid").join(ivf.vecs, Seq("vec_id")),
      "sim.knn_membership")

  /** The edge build over a membership frame, with the QUERY side
    * optionally restricted — the forget delta re-probes only the queries
    * that lost a top-k neighbor, against the already-purged membership. */
  private[llm] def knnEdgesFromMem(mem: DataFrame, k: Int,
      srcFilter: Option[DataFrame] = None): DataFrame = {
    val aBase = mem.select(col("cid"), col("vec_id").as("src"),
      col("embedding").as("av"), col("norm2").as("an"))
    val a = srcFilter.fold(aBase)(f =>
      aBase.join(broadcast(f), Seq("src"), "left_semi"))
    val b = mem.select(col("cid"), col("vec_id").as("dst"),
      col("embedding").as("bv"), col("norm2").as("bn"))
    val w = Window.partitionBy("src").orderBy(desc("cosine"), asc("dst"))
    a.join(b, Seq("cid"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cosine",
        r4(DotProduct(col("av"), col("bv")) / (sqrt(col("an")) * sqrt(col("bn")))))
      // a pair seen through two shared lists is the SAME pair: collapse
      // to one edge, smallest shared list as its cid (cosine identical)
      .groupBy("src", "dst")
      .agg(min(col("cid")).as("cid"), min(col("cosine")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("src", "rnk", "dst", "cosine", "cid")
  }

  val simKnnGraph: Q = (s, d) => KnnGraph.stored(s, d).edges.orderBy("src", "rnk")

  val simKnnMutual: Q = (s, d) => KnnGraph.stored(s, d).mutual.orderBy("src", "dst")

  /** X3h-c (forward idea n): SEMANTIC CLUSTERS — connected components
    * over the mutual kNN graph, reusing the exact iterative min-label
    * machinery near-dup clustering proved out
    * ([[graft.llm.Dedup.clusterLabelsFrom]]: per round one distributed
    * join + min-groupBy, materialization caps lineage). Mutual edges
    * make the components meaningful (one-way hub edges would glue
    * unrelated regions); the result is the curation artifact diversity
    * samplers and topic auditors consume — cluster id, size, members.
    * Over the stored graph it is a KB-scale groupBy of the label table,
    * no CC re-run at probe time. */
  def knnClusters(g: KnnGraph): DataFrame =
    g.labels
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"),
        concat_ws(",", transform(array_sort(collect_list(col("id"))),
          _.cast("string"))).as("members"))
      .orderBy("cluster_id")

  val simKnnClusters: Q = (s, d) => knnClusters(KnnGraph.stored(s, d))

  /** X3h-d (forward idea q): CLUSTER-DIVERSITY SAMPLER — the curation
    * step the cluster artifact feeds: keep ≤m representatives per
    * semantic cluster, highest mutual-degree first (the best-connected
    * member is the medoid-ish exemplar; ties break on smallest id).
    * Downsampling over-represented semantic neighborhoods while keeping
    * every cluster represented is the standard diversity pass between
    * dedup and mixing. Degrees and ranks are per-cluster windows over
    * the KB-scale label/degree tables — nothing rescans the vectors. */
  def knnDiverse(g: KnnGraph, m: Int = 2): DataFrame = {
    val w = Window.partitionBy("cluster_id")
      .orderBy(desc("degree"), asc("vec_id"))
    g.labels.select(col("lbl").as("cluster_id"), col("id").as("vec_id"))
      .join(g.degrees.withColumnRenamed("id", "vec_id"), Seq("vec_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= m)
      .select("cluster_id", "rk", "vec_id", "degree")
      .orderBy("cluster_id", "rk")
  }

  val simKnnDiverse: Q = (s, d) => knnDiverse(KnnGraph.stored(s, d))

  /** X3h-e (forward idea v): CLUSTER-HEALTH readout — per semantic
    * cluster: member count, degree range, mutual-edge count, and mean
    * in-cluster cosine (a diameter proxy: low mean cosine = a loose,
    * probably-chained component that large-star CC or a higher τ should
    * split). The monitoring view a curation pipeline alarms on: joins
    * over the KB-scale mutual/label/degree tables — no CC re-run and no
    * vector rescan over the stored graph. */
  def knnStats(g: KnnGraph): DataFrame = {
    val memberStats = g.labels
      .join(g.degrees.withColumnRenamed("degree", "dg"), Seq("id"))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"),
        min("dg").as("min_degree"), max("dg").as("max_degree"))
    val edgeStats = g.mutual
      .join(g.labels.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_edges"),
        // decimal sum is exact ⇒ order-independent: a double avg can
        // land a last-ulp either side of a .00005 rounding boundary
        r4(sum(col("cosine").cast("decimal(14,4)")).cast("double")
          / count(lit(1))).as("mean_cosine"))
    memberStats.join(edgeStats, Seq("cluster_id")).orderBy("cluster_id")
  }

  val simKnnStats: Q = (s, d) => knnStats(KnnGraph.stored(s, d))

  /** X3h-h: PageRank-style CENTRALITY over the mutual kNN graph — the
    * graph-importance signal for coreset selection (degree counts direct
    * neighbours; PageRank weighs a vertex by the importance of who
    * points at it, separating a true hub from a vertex merely adjacent
    * to one). Three fixed power-iteration steps of
    * r ← 0.15 + 0.85·Σ r(u)/deg(u) over the undirected mutual edges.
    * Determinism (§4.1): each contribution r/deg is ONE double division
    * rounded to a 12-dp DECIMAL, so the per-vertex Σ is exact and
    * shuffle-order-free; the damping update is two double ops on
    * identical operands in both engines, re-rounded to 12 dp — the
    * whole iteration replays bit-exactly as unrolled DuckDB CTEs.
    * Scale shape: the edge table is the stored KB-scale artifact
    * (mutual pairs ≤ k·n, never n²); each step is one equi-join + one
    * groupBy on the vertex key; the driver loop only counts the 3
    * fixed rounds — pure distributed work, same contract as CC. */
  private[llm] def centralityOfMutual(mutual: DataFrame): DataFrame = {
    val edges = materialize(mutual.select(col("src"), col("dst"))
      .unionByName(mutual.select(col("dst").as("src"), col("src").as("dst"))),
      "sim.centrality_edges")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var r = deg.select(col("src").as("id"), lit(1.0d).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(deg, Seq("src"))
        .join(r.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          expr("cast(round(r / deg, 12) as decimal(38,12))").as("c"))
      r = materialize(contrib.groupBy("id")
        .agg(round(lit(0.15d) + lit(0.85d) * sum(col("c")).cast("double"), 12)
          .as("r")), "sim.centrality_rank")
    }
    r.join(deg.select(col("src").as("id"), col("deg").as("degree")), Seq("id"))
      .select(col("id").as("vec_id"), r4(col("r")).as("centrality"),
        col("degree"))
      .orderBy(desc("centrality"), asc("vec_id"))
  }

  def knnCentrality(g: KnnGraph): DataFrame = centralityOfMutual(g.mutual)

  val simKnnCentrality: Q = (s, d) => knnCentrality(KnnGraph.stored(s, d))

  /** X3h-i: the CORESET the centrality signal exists for — per semantic
    * cluster keep the m most CENTRAL members (PageRank beats raw degree
    * at separating a true hub from a hub-adjacent vertex, so the
    * exemplar set is less fooled by local density). Same plan shape as
    * [[knnDiverse]]: a per-cluster window over the label rows joined to
    * the (nlist-round) centrality table — no vector rescan, no graph
    * rebuild at probe time. */
  def knnCoreset(g: KnnGraph, m: Int = 2): DataFrame = {
    val w = Window.partitionBy("cluster_id")
      .orderBy(desc("centrality"), asc("vec_id"))
    g.labels.select(col("lbl").as("cluster_id"), col("id").as("vec_id"))
      .join(knnCentrality(g).select(col("vec_id"), col("centrality")), Seq("vec_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= m)
      .select("cluster_id", "rk", "vec_id", "centrality")
      .orderBy("cluster_id", "rk")
  }

  val simKnnCoreset: Q = (s, d) => knnCoreset(KnnGraph.stored(s, d))

  /** X3h-f (forward idea y): RECALL CENSUS — the monitoring readout for
    * the bucketed approximation itself. The CorpusOpsSpec recall gate
    * runs at tiny SF; this key measures the SAME quantity on the live
    * corpus at any scale: brute-force top-k for a FIXED SAMPLE of
    * vectors (cost: sample × n exact dots — bounded by the sample, not
    * n²), intersected with the graph's directed out-edges for those
    * vectors. One row: sampled srcs, true edges, edges the bucketed
    * graph found, recall. The production alarm is this number trending
    * down as the corpus drifts away from its quantizer — the signal to
    * re-train centroids or raise p/nlist, exactly what the census
    * family does for list balance ([[simIvfCensus]]). Ranking recipe
    * (rounded cosine, dst tie-break) is identical to the graph's, so
    * brute and bucketed agree wherever both see the pair. */
  def knnRecall(g: KnnGraph, sampleMax: Long = 50L, k: Int = 3): DataFrame = {
    val graphEdges = g.edges
      .filter(col("src") < sampleMax)
      .select(col("src"), col("dst"))
    val vecs = g.vecs.select(col("vec_id"), col("embedding"))
      .withColumn("norm2", DotProduct(col("embedding"), col("embedding")))
    val sample = vecs.filter(col("vec_id") < sampleMax)
      .select(col("vec_id").as("src"), col("embedding").as("av"),
        col("norm2").as("an"))
    val w = Window.partitionBy("src").orderBy(desc("cosine"), asc("dst"))
    val brute = vecs
      .select(col("vec_id").as("dst"), col("embedding").as("bv"),
        col("norm2").as("bn"))
      .crossJoin(broadcast(sample))
      .filter(col("src") =!= col("dst"))
      .withColumn("cosine",
        r4(DotProduct(col("av"), col("bv")) / (sqrt(col("an")) * sqrt(col("bn")))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("src", "dst")
    brute
      .join(graphEdges.withColumn("found", lit(1L)), Seq("src", "dst"), "left")
      .agg(
        countDistinct(col("src")).as("n_sampled"),
        count(lit(1)).as("n_true_edges"),
        coalesce(sum("found"), lit(0L)).as("n_found"),
        r4(coalesce(sum("found"), lit(0L)).cast("double") / count(lit(1)))
          .as("recall"))
  }

  val simKnnRecall: Q = (s, d) => knnRecall(KnnGraph.stored(s, d))

  /** X3n (forward idea ac): INCREMENTAL QUANTIZER REFRESH report — the
    * maintenance readout for a continuously ingesting corpus. One more
    * Lloyd step is taken FROM THE STORED assignment (new centroid =
    * per-dimension mean of each stored list's current members, exact
    * decimal sums → order-independent), every vector is re-scored
    * against the refreshed centroids, and the report says per list what
    * the refresh would change: members before/after, arrivals (n_in),
    * departures (n_out), and the L2 distance the centroid itself moved
    * (`shift`). n_in/n_out IDENTIFY the drifted vectors — a production
    * refresh rewrites only those assignment rows (KB-scale delta), not
    * the full corpus; `shift` trending up is the re-train alarm, the
    * drift twin of [[simIvfCensus]]'s balance alarm and the recall
    * census's quality alarm. Plan shape: one broadcast-centroid pass for
    * the re-score (same as every probe), one posexplode mean over the
    * stored lists — no pairwise work anywhere. */
  val simQuantizerRefresh: Q = (s, d) => quantizerRefresh(Ivf.stored(s, d)())

  def quantizerRefresh(ivf: Ivf): DataFrame = {
    // one Lloyd step from the stored lists
    val newCents = lloydStep(ivf.vecs, ivf.assign)
      .select(col("cid"), col("cv").as("ncv"), col("cn").as("ncn"))
    val moved = ivf.vecs.crossJoin(broadcast(newCents))
      .withColumn("cos",
        DotProduct(col("embedding"), col("ncv")) /
          (sqrt(col("norm2")) * sqrt(col("ncn"))))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("ncid"))
      .join(ivf.assign.select(col("vec_id"), col("cid").as("ocid")), Seq("vec_id"))
    val before = moved.groupBy(col("ocid").as("cid"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("ncid") =!= col("ocid"), 1L).otherwise(0L)).as("n_out"))
    val after = moved.groupBy(col("ncid").as("cid"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("ncid") =!= col("ocid"), 1L).otherwise(0L)).as("n_in"))
    val shift = ivf.cents.select(col("cid"), col("cv").as("ocv"))
      .join(newCents.select(col("cid"), col("ncv")), Seq("cid"))
      .withColumn("shift", r4(sqrt(aggregate(
        zip_with(col("ocv"), col("ncv"), (a, b) => (a - b) * (a - b)),
        lit(0.0d), (acc, x) => acc + x))))
      .select("cid", "shift")
    before.join(after, Seq("cid"), "full")
      .join(shift, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        col("shift"))
      .orderBy("cid")
  }

  /** One Lloyd update from an assignment: per-dimension decimal-exact
    * mean of each list's members (the [[Ivf.of]] recipe — §4.1: a
    * decision-feeding distributed mean must be order-independent).
    * Returns a centroid table (cid, cv, cn). Public as the re-train
    * primitive the refresh report and [[applyQuantizerRefresh]] share. */
  def lloydStep(vecs: DataFrame, assign: DataFrame): DataFrame =
    assign.join(vecs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy("cid", "pos")
      .agg((sum(col("col").cast("decimal(27,10)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
      .withColumn("cn", DotProduct(col("cv"), col("cv")))

  /** Apply a refresh IN PLACE on a cid-partitioned inverted-list store:
    * re-assign the stored vectors against the refreshed centroids and
    * rewrite ONLY the lists drift touched (every list that gained or
    * lost a member), via [[graft.sources.Sinks.overwritePartitions]] —
    * the other partitions' files are never rewritten. This is the
    * "re-assign only drifted vectors" half of the refresh story: at
    * 100 TB a mostly-converged quantizer drifts a few percent of vectors
    * per refresh, so the rewrite is proportional to the drift, not the
    * corpus.
    * Returns the number of lists rewritten (0 = the store was already
    * the fixpoint and nothing was written). IvfPersistSpec pins both
    * the equality with a full re-assignment and the untouched bytes. */
  def applyQuantizerRefresh(s: SparkSession, invlistDir: String,
      newCents: DataFrame): Long = {
    val old = graft.Tables.parquet(s, invlistDir)
      .select(col("cid").cast("long").as("ocid"), col("nid"))
    val stored = graft.Tables.parquet(s, invlistDir)
      .select(col("nid").as("vec_id"), col("nv").as("embedding"))
    val reassigned = assignAgainstCentroids(stored, newCents)
    val affected = reassigned.select(col("cid"), col("nid"))
      .join(old, Seq("nid"))
      .filter(col("cid") =!= col("ocid"))
      .select(explode(array(col("cid"), col("ocid"))).as("cid"))
      .distinct()
    // materialize BEFORE the overwrite: both frames read the very files
    // the write replaces
    val rows = materialize(reassigned.join(broadcast(affected), Seq("cid")),
      "sim.refresh_rows")
    val affectedCids = affected.collect().map(_.getLong(0)) // ≤ nlist rows
    val writtenCids = rows.select("cid").distinct().collect()
      .map(_.getLong(0)).toSet
    if (writtenCids.nonEmpty)
      graft.sources.Sinks.overwritePartitions(rows, invlistDir, "cid")
    // a DRAINED list (lost every member) has no rows in the write, so
    // the partition overwrite leaves its old partition behind — drop it
    // explicitly (through the path's own filesystem, so a file:, hdfs:
    // or s3a: store loses it too) or its members would exist in two lists
    affectedCids.filterNot(writtenCids).foreach { c =>
      val p = new org.apache.hadoop.fs.Path(invlistDir, s"cid=$c")
      graft.sources.Sinks.fsOf(s, p).delete(p, true)
    }
    affectedCids.length.toLong
  }


  /** X4f': TOPIC-aware mixture rebalancing — the embedding-space twin of
    * `text_mix_sources`. Source labels under-segment a crawl (one "web"
    * source hides many topics); the stored coarse quantizer already
    * partitions the corpus semantically, so its lists double as TOPICS.
    * Per topic: doc/token mass, the natural share, and the
    * temperature-α=0.5 target share q_t ∝ p_t^α (the standard
    * multilingual/multi-source rebalancing rule — upweight rare topics,
    * damp dominant ones), plus the per-topic sampling ratio a mixture
    * job applies. Determinism (§7.4): the only cross-row double sum is
    * Σ√tokens — each term is rounded to a 6-dp DECIMAL first (sqrt of
    * an integer is never a round-half tie: a tie needs an exact decimal,
    * i.e. a perfect square, whose sqrt is an integer), so the sum is
    * exact and order-free; every division is a single double op on
    * identical operands in both engines. Scale shape: probes the stored
    * assign table (one row per vector), one groupBy on nlist keys, the
    * two totals broadcast back — nothing grows faster than n, and the
    * readout is nlist rows. */
  val textTopicMix: Q = (s, d) =>
    topicMixOf(t(s, d, "documents"), Ivf.stored(s, d)().assign)

  /** [[textTopicMix]] over any documents-shaped frame and any
    * (vec_id, cid) topic assignment — the jx `corpus_op` front end's
    * entry; the in-plan fallback feeds it `Ivf.of(...).assign`. */
  private[graft] def topicMixOf(docsIn: DataFrame, assign: DataFrame,
      alpha: Double = 0.5): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // alpha = 0.5 stays on sqrt (IEEE-correctly-rounded, hence
    // cross-engine exact — pow() is not, so only the sqrt path carries a
    // DuckDB oracle; other temperatures are spec-gated)
    val powExpr =
      if (alpha == 0.5) "sqrt(cast(n_tokens as double))"
      else s"pow(cast(n_tokens as double), ${alpha}d)"
    val byTopic = assign.join(docs, assign("vec_id") === docs("doc_id"))
      .groupBy(col("cid").as("topic"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .withColumn("pow",
        expr(s"cast(round($powExpr, 6) as decimal(38,6))"))
    val tot = byTopic.agg(
      sum("n_tokens").as("tot_tokens"),
      sum("pow").as("tot_pow"))
    val mixed = byTopic.crossJoin(broadcast(tot))
      .withColumn("share",
        r4(col("n_tokens").cast("double") / col("tot_tokens")))
      .withColumn("target_share",
        r4(col("pow").cast("double") / col("tot_pow").cast("double")))
      .select(col("topic"), col("n_docs"), col("n_tokens"),
        col("share"), col("target_share"),
        r4(col("target_share") / col("share")).as("sample_ratio"))
    // Surface unassigned mass so a PARTIAL embeddings/assignment table
    // can't silently skew the rebalance (docs outside the assignment used
    // to vanish): one diagnostic topic = -1 row carrying the uncovered
    // doc/token mass, with NULL shares — it is an alarm, not a topic, so
    // the rebalance math over the assigned corpus is untouched. Absent
    // when coverage is complete.
    val unassigned = docs
      .join(assign.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("n_tok"), lit(0L)).as("n_tokens"))
      .filter(col("n_docs") > 0)
      .select(lit(-1L).as("topic"), col("n_docs"), col("n_tokens"),
        lit(null).cast("double").as("share"),
        lit(null).cast("double").as("target_share"),
        lit(null).cast("double").as("sample_ratio"))
    mixed.unionByName(unassigned).orderBy("topic")
  }

  /** X13d shared half: the BM25 top-50 candidates re-scored with
    * embedding cosine — the frame BOTH fusion styles read. The lexical
    * half reuses [[graft.llm.TextOps.bm25Of]] (only query-term hits ever
    * shuffle); the semantic half joins the ≤50 candidates to their
    * vectors on the shared id (docs and embeddings are row-aligned in
    * the corpus contract) and scores against ONE query vector — the
    * top-BM25 doc's embedding, derived in-plan and broadcast. At 100 TB
    * the cosine work is |candidates|, never |corpus|: the expensive
    * semantic scoring rides behind the cheap lexical gate — the same
    * gate-ordering lesson as the rules front gate. */
  private def hybridCandidatesOf(docs: DataFrame, vecs0: DataFrame): DataFrame = {
    val cands = graft.llm.TextOps.bm25Of(docs)
    val vecs = vecs0
      .withColumn("norm2", DotProduct(col("embedding"), col("embedding")))
    val top1 = cands.orderBy(col("score").desc, col("doc_id")).limit(1)
      .join(vecs, col("doc_id") === col("vec_id"))
      .select(col("embedding").as("qv"), col("norm2").as("qn"))
    cands
      .join(vecs, col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(top1))
      .withColumn("cosine",
        r4(DotProduct(col("qv"), col("embedding")) /
          (sqrt(col("qn")) * sqrt(col("norm2")))))
      .select(col("doc_id"), col("score"), col("cosine"))
  }

  /** X13d: weighted HYBRID retrieval — the standard RAG ranking: BM25
    * normalized by the candidate max (a broadcast 1-row agg), fused
    * 50/50 with cosine. Two r4-rounded terms halved and re-rounded —
    * exact in both engines. */
  def hybridSearchOf(docs: DataFrame, vecs: DataFrame): DataFrame = {
    val base = hybridCandidatesOf(docs, vecs)
    val maxs = base.agg(max("score").as("max_score"))
    base
      .crossJoin(broadcast(maxs))
      .withColumn("bm25n", r4(col("score") / col("max_score")))
      // the 50/50 average of two 4-dp terms lands exactly on 5th-digit
      // halves, where engine tie-rounding differs — so the fused score
      // is emitted as the integer SUM of the two 4-dp scores in basis
      // points: (x+y)·10⁴ is mathematically an integer for 4-dp x and y
      // (·5000 was a half-integer whenever the digit sum is odd, resting
      // on matching half-away-from-zero ties); round() kills the float
      // ulp, so the value is exact in both engines
      .withColumn("hybrid_bp",
        expr("CAST(round((bm25n + cosine) * 10000, 0) AS BIGINT)"))
      .select(col("doc_id"), col("score").as("bm25"), col("cosine"),
        col("hybrid_bp"))
      .orderBy(col("hybrid_bp").desc, col("doc_id"))
      .limit(20)
  }

  val simHybridSearch: Q = (s, d) =>
    hybridSearchOf(t(s, d, "documents"), t(s, d, "embeddings"))

  /** X13d-rrf: Reciprocal Rank Fusion — the scale-free fusion (no score
    * normalization to tune): each list contributes 1/(60+rank), ranks
    * are integers from the two candidate orderings, so the fusion is
    * deterministic to the last bit after one r6 rounding. Windows run
    * over the ≤50-row candidate frame — KB-scale. */
  val simRrfFusion: Q = (s, d) => {
    val base = hybridCandidatesOf(t(s, d, "documents"), t(s, d, "embeddings"))
    val wBm = Window.orderBy(col("score").desc, col("doc_id"))
    val wCo = Window.orderBy(col("cosine").desc, col("doc_id"))
    base
      .withColumn("r_bm", row_number().over(wBm))
      .withColumn("r_cos", row_number().over(wCo))
      .withColumn("rrf",
        round(lit(1.0) / (lit(60) + col("r_bm")) +
          lit(1.0) / (lit(60) + col("r_cos")), 6))
      .select(col("doc_id"), col("r_bm"), col("r_cos"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  /** X13h: fusion-WEIGHT census — the hybrid knob measured (how much
    * does the ranking move as lexical weight α sweeps 0→100%?): per α,
    * the argmax doc and the mean fused score over the SAME candidate
    * frame, built once. The fused score is PURE INTEGER arithmetic —
    * α·round(bm25n·10⁴) + (100−α)·round(cosine·10⁴) — so the census is
    * exact to the last bit in both engines, and the α grid rides in as
    * a 5-row broadcast cross join (never a rescan per knob). */
  val simHybridTuning: Q = (s, d) => {
    val base = hybridCandidatesOf(t(s, d, "documents"), t(s, d, "embeddings"))
    val maxs = base.agg(max("score").as("max_score"))
    val spark0 = base.sparkSession
    import spark0.implicits._
    val alphas = Seq(0L, 25L, 50L, 75L, 100L).toDF("alpha_pct")
    base
      .crossJoin(broadcast(maxs))
      .withColumn("bm25n_i",
        expr("CAST(round(round(score / max_score, 4) * 10000, 0) AS BIGINT)"))
      .withColumn("cos_i",
        expr("CAST(round(cosine * 10000, 0) AS BIGINT)"))
      .crossJoin(broadcast(alphas))
      .withColumn("fused_u",
        col("alpha_pct") * col("bm25n_i") +
          (lit(100L) - col("alpha_pct")) * col("cos_i"))
      .groupBy("alpha_pct")
      .agg(
        count(lit(1)).as("n_cand"),
        max(struct(col("fused_u"), (-col("doc_id")).as("nd"))).as("top"),
        sum("fused_u").as("sum_fused_u"))
      .select(col("alpha_pct"), col("n_cand"),
        (-col("top.nd")).as("top_doc"),
        col("top.fused_u").as("top_fused_u"),
        col("sum_fused_u"))
      .orderBy("alpha_pct")
  }

  val queries: Map[String, Q] = Map(
    "sim_hybrid_tuning" -> simHybridTuning,
    "sim_hybrid_search" -> simHybridSearch,
    "sim_rrf_fusion" -> simRrfFusion,
    "text_topic_mix" -> textTopicMix,
    "sim_knn_centrality" -> simKnnCentrality,
    "sim_knn_coreset" -> simKnnCoreset,
    "sim_knn_recall" -> simKnnRecall,
    "sim_probe_tuning" -> simProbeTuning,
    "sim_nlist_tuning" -> simNlistTuning,
    "sim_quantizer_refresh" -> simQuantizerRefresh,
    "sim_ivf_delta" -> simIvfDelta,
    "sim_knn_graph" -> simKnnGraph,
    "sim_knn_mutual" -> simKnnMutual,
    "sim_knn_clusters" -> simKnnClusters,
    "sim_knn_diverse" -> simKnnDiverse,
    "sim_knn_stats" -> simKnnStats,
    "sim_topk" -> simTopk,
    "sim_knn_join" -> simKnnJoin,
    "sim_semantic_dedup" -> simSemanticDedup,
    "sim_semantic_decon" -> simSemanticDecon,
    "sim_decon_report" -> simDeconReport,
    "sim_decon_recall" -> simDeconRecall,
    "sim_ivf" -> simIvf,
    "sim_ivfpq" -> simIvfPq,
    "sim_ivfpq_rerank" -> simIvfPqRerank,
    "sim_ivf_persist" -> simIvfPersist,
    "sim_ivf_census" -> simIvfCensus,
    "sim_pq" -> simPq,
    "sim_sq8" -> simSq8,
    "sim_sq8_rerank" -> simSq8Rerank,
    "sim_sq8_gate" -> simSq8Gate,
    "sim_online_gate" -> simOnlineGate,
    "sim_lsh_candidates" -> simLshCandidates)

  /** Shared oracle CTE prefix: regenerate the md5-derived ±1 planes, the
    * 48 signature bits (ordered left-fold dot product — same summation
    * order as [[graft.functions.DotProduct]]'s loop, hence bit-identical
    * doubles), and the 6×8-bit band hashes (MSB = first plane of the
    * band, matching `aggregate(slice(sig,…), acc*2+bit)`). Used by
    * sim_lsh_candidates here and dedup_embed_lsh in [[Dedup]]. */
  val lshOracleCte: String =
    """vecs AS (SELECT vec_id, embedding AS v FROM embeddings),
       planes AS (
         SELECT p,
                [CASE WHEN (strpos('0123456789abcdef',
                                   substr(md5(p || ':' || (i - 1)), 1, 1)) - 1) % 2 = 0
                      THEN 1.0 ELSE -1.0 END
                 for i in generate_series(1, 64)] AS w
         FROM generate_series(0, 47) t(p)),
       bits AS (
         SELECT vec_id, p,
                CASE WHEN list_reduce(
                       [CAST(v[i] AS DOUBLE) * w[i] for i in generate_series(1, 64)],
                       (a, b) -> a + b) >= 0 THEN 1 ELSE 0 END AS bit
         FROM vecs CROSS JOIN planes),
       bands AS (
         SELECT vec_id, CAST(p // 8 AS INT) AS band,
                CAST(sum(bit * (1 << (7 - (p % 8)))) AS BIGINT) AS bh
         FROM bits GROUP BY 1, 2)"""

  /** Shared oracle prefix: the full k-means IVF quantizer replay (seed →
    * two Lloyd iterations with decimal-exact means → final assignment),
    * through the `assign(vec_id, cid)` CTE. Used by sim_ivf and
    * sim_ivf_census. */
  /** The kNN-graph edge set `g` shared by sim_knn_graph and its mutual
    * filter: SYMMETRIC MULTI-ASSIGNMENT candidates (every vector
    * replicated into its 3 nearest coarse lists — the same p=3 rule as
    * [[KnnGraph.of]] — candidates are co-members of any shared list,
    * duplicate sightings collapsed to min cid), rounded cosine, per-src
    * rank (rounded value, dst tie-break), kept at rnk <= 3. */
  private[llm] lazy val knnGraphOracleCte: String =
    s"""$ivfOracleCte,
       probe AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cid ASC) AS rn
           FROM scored) WHERE rn <= 3),
       mem AS (SELECT p.cid, v.vec_id, v.v, v.norm2
               FROM probe p JOIN vn v USING (vec_id)),
       knncand AS (
         SELECT min(a.cid) AS cid, a.vec_id AS src, b.vec_id AS dst,
                min(round(list_reduce([a.v[k] * b.v[k] for k in generate_series(1, 64)],
                                      (x, y) -> x + y)
                          / (sqrt(a.norm2) * sqrt(b.norm2)), 4)) + 0.0 AS cosine
         FROM mem a JOIN mem b ON a.cid = b.cid AND a.vec_id <> b.vec_id
         GROUP BY a.vec_id, b.vec_id),
       g AS (SELECT cid, src, dst, cosine, rnk FROM (
           SELECT cid, src, dst, cosine,
                  CAST(row_number() OVER (PARTITION BY src
                                          ORDER BY cosine DESC, dst ASC) AS INT) AS rnk
           FROM knncand) WHERE rnk <= 3)"""

  /** Shared decon replay (composes after `ivfOracleCte`): corpus
    * inverted lists, bench probes (top-2 lists), exact rounded-cosine
    * hits at τ = 0.35. sd-prefixed to stay clear of the ivf chain's CTE
    * names. `p` renders the bench predicate over a given column
    * reference (the pipeline composition uses the hygiene chain's
    * held-out-id split instead of the %10 default). */
  private[llm] def deconOracleCtesOn(p: String => String,
      tau: Double = 0.35): String =
    s"""sdinv AS (SELECT cid, vec_id AS nid, nv, nn FROM (
             SELECT s.cid, s.vec_id, v.v AS nv, v.norm2 AS nn,
                    row_number() OVER (PARTITION BY s.vec_id
                                       ORDER BY s.cos DESC, s.cid ASC) AS ark
             FROM scored s JOIN vn v USING (vec_id)
             WHERE NOT (${p("s.vec_id")})) WHERE ark <= 2),
           sdpr AS (SELECT vec_id AS bid, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rk
             FROM scored WHERE ${p("vec_id")}) WHERE rk <= 4),
           sdb AS (SELECT vec_id AS bid, v AS bv, norm2 AS bn FROM vn
                   WHERE ${p("vec_id")}),
           sdcand AS (
             SELECT DISTINCT p.bid, i.nid,
                    round(list_reduce([b.bv[k] * i.nv[k] for k in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(b.bn) * sqrt(i.nn)), 4) + 0.0 AS cosine
             FROM sdpr p JOIN sdinv i USING (cid) JOIN sdb b ON b.bid = p.bid),
           sdhit AS (SELECT * FROM sdcand WHERE cosine >= $tau)"""

  private val deconOracleCtes: String =
    deconOracleCtesOn(c => s"$c % 10 = 0")

  private[llm] val ivfOracleCte: String =
    """raw AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
                      FROM embeddings),
           fl AS (SELECT vec_id, embedding AS f FROM embeddings),
           vn AS (SELECT vec_id, v,
                         list_reduce([v[i] * v[i] for i in generate_series(1, len(v))],
                                     (x, y) -> x + y) AS norm2
                  FROM raw),
           seed AS (SELECT vec_id AS cid, v AS cv, norm2 AS cn FROM vn WHERE vec_id < 16),
           sc0 AS (SELECT a.vec_id, c.cid,
                          list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
                   FROM vn a CROSS JOIN seed c),
           as0 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM sc0) WHERE rn = 1),
           m1 AS (SELECT a.cid, t.i,
                         CAST(sum(CAST(f.f[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS m
                  FROM as0 a JOIN fl f USING (vec_id)
                  CROSS JOIN generate_series(1, 64) t(i)
                  GROUP BY a.cid, t.i),
           c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m1 GROUP BY cid),
           c1n AS (SELECT cid, cv,
                          list_reduce([cv[i] * cv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) AS cn
                   FROM c1),
           sc1 AS (SELECT a.vec_id, c.cid,
                          list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
                   FROM vn a CROSS JOIN c1n c),
           as1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM sc1) WHERE rn = 1),
           m2 AS (SELECT a.cid, t.i,
                         CAST(sum(CAST(f.f[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS m
                  FROM as1 a JOIN fl f USING (vec_id)
                  CROSS JOIN generate_series(1, 64) t(i)
                  GROUP BY a.cid, t.i),
           c2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m2 GROUP BY cid),
           cents AS (SELECT cid, cv,
                            list_reduce([cv[i] * cv[i] for i in generate_series(1, 64)],
                                        (x, y) -> x + y) AS cn
                     FROM c2),
           scored AS (
             SELECT a.vec_id, c.cid,
                    list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, 64)],
                                (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
             FROM vn a CROSS JOIN cents c),
           assign AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM scored) WHERE rn = 1)"""

  /** The [[ivfOracleCte]] TRAINING CHAIN alone (seed → 2 Lloyd passes →
    * cents/scored/assign), parameterized by dimension and list count, for
    * vector families other than the embeddings table (the multimodal
    * payload embeddings reuse it at dim=64 over their own source CTEs).
    * Callers must define `vn(vec_id, v DOUBLE[], norm2)` and
    * `fl(vec_id, f)` CTEs first — the same contract the embeddings
    * constant satisfies internally. `p` prefixes every internal CTE name
    * so several chains (e.g. the nlist census, one chain per knob) can
    * coexist in one WITH clause. */
  private[llm] def ivfChainCteFor(dim: Int, nlist: Int, p: String = ""): String =
    s"""${p}seed AS (SELECT vec_id AS cid, v AS cv, norm2 AS cn FROM vn WHERE vec_id < $nlist),
           ${p}sc0 AS (SELECT a.vec_id, c.cid,
                          list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, $dim)],
                                      (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
                   FROM vn a CROSS JOIN ${p}seed c),
           ${p}as0 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM ${p}sc0) WHERE rn = 1),
           ${p}m1 AS (SELECT a.cid, t.i,
                         CAST(sum(CAST(f.f[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS m
                  FROM ${p}as0 a JOIN fl f USING (vec_id)
                  CROSS JOIN generate_series(1, $dim) t(i)
                  GROUP BY a.cid, t.i),
           ${p}c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM ${p}m1 GROUP BY cid),
           ${p}c1n AS (SELECT cid, cv,
                          list_reduce([cv[i] * cv[i] for i in generate_series(1, $dim)],
                                      (x, y) -> x + y) AS cn
                   FROM ${p}c1),
           ${p}sc1 AS (SELECT a.vec_id, c.cid,
                          list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, $dim)],
                                      (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
                   FROM vn a CROSS JOIN ${p}c1n c),
           ${p}as1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM ${p}sc1) WHERE rn = 1),
           ${p}m2 AS (SELECT a.cid, t.i,
                         CAST(sum(CAST(f.f[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS m
                  FROM ${p}as1 a JOIN fl f USING (vec_id)
                  CROSS JOIN generate_series(1, $dim) t(i)
                  GROUP BY a.cid, t.i),
           ${p}c2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM ${p}m2 GROUP BY cid),
           ${p}cents AS (SELECT cid, cv,
                            list_reduce([cv[i] * cv[i] for i in generate_series(1, $dim)],
                                        (x, y) -> x + y) AS cn
                     FROM ${p}c2),
           ${p}scored AS (
             SELECT a.vec_id, c.cid,
                    list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, $dim)],
                                (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
             FROM vn a CROSS JOIN ${p}cents c),
           ${p}assign AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM ${p}scored) WHERE rn = 1)"""

  /** The incremental-growth replay: the ivfOracleCte training chain run
    * over the EVEN-id half only (bvn/bfl, seeds even < 32), then the
    * final assignment over EVERYTHING — base by training, delta by the
    * same fixed-centroid rule the streaming sink applies. */
  private val ivfDeltaOracleCte: String =
    """raw AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
                      FROM embeddings),
           fl AS (SELECT vec_id, embedding AS f FROM embeddings),
           vn AS (SELECT vec_id, v,
                         list_reduce([v[i] * v[i] for i in generate_series(1, len(v))],
                                     (x, y) -> x + y) AS norm2
                  FROM raw),
           bvn AS (SELECT * FROM vn WHERE vec_id % 2 = 0),
           bfl AS (SELECT * FROM fl WHERE vec_id % 2 = 0),
           seed AS (SELECT vec_id AS cid, v AS cv, norm2 AS cn
                    FROM bvn WHERE vec_id < 32),
           sc0 AS (SELECT a.vec_id, c.cid,
                          list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
                   FROM bvn a CROSS JOIN seed c),
           as0 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM sc0) WHERE rn = 1),
           m1 AS (SELECT a.cid, t.i,
                         CAST(sum(CAST(f.f[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS m
                  FROM as0 a JOIN bfl f USING (vec_id)
                  CROSS JOIN generate_series(1, 64) t(i)
                  GROUP BY a.cid, t.i),
           c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m1 GROUP BY cid),
           c1n AS (SELECT cid, cv,
                          list_reduce([cv[i] * cv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) AS cn
                   FROM c1),
           sc1 AS (SELECT a.vec_id, c.cid,
                          list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
                   FROM bvn a CROSS JOIN c1n c),
           as1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM sc1) WHERE rn = 1),
           m2 AS (SELECT a.cid, t.i,
                         CAST(sum(CAST(f.f[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS m
                  FROM as1 a JOIN bfl f USING (vec_id)
                  CROSS JOIN generate_series(1, 64) t(i)
                  GROUP BY a.cid, t.i),
           c2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m2 GROUP BY cid),
           cents AS (SELECT cid, cv,
                            list_reduce([cv[i] * cv[i] for i in generate_series(1, 64)],
                                        (x, y) -> x + y) AS cn
                     FROM c2),
           scoredAll AS (
             SELECT a.vec_id, c.cid,
                    list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, 64)],
                                (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
             FROM vn a CROSS JOIN cents c),
           assignAll AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
             FROM scoredAll) WHERE rn = 1)"""

  /** The IVF-PQ replay chain shared by sim_ivfpq and sim_ivfpq_rerank:
    * the coarse IVF CTEs, residuals, residual codebooks (p-prefixed),
    * ADC + coarse-dot tables, probed-list candidates, per-candidate
    * rounded adot set `ap`. */
  /** Shared SQ8 oracle CTE chain: per-dim stats → clamped linear codes →
    * the dim-ordered dequantized-dot fold per (query, candidate) pair —
    * reused by the flat ranking, the exact-rerank twin, and (with the
    * probe-slice predicate) the online gate. */
  private[llm] def sq8OracleCteFrom(queryPred: String,
      candPred: String = "TRUE"): String =
    s"""sqraw AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
                        FROM embeddings),
           sqst AS (SELECT t.i AS pos, min(v[t.i]) AS mn, max(v[t.i]) AS mx
                    FROM sqraw CROSS JOIN generate_series(1, 64) t(i)
                    GROUP BY t.i),
           sqarr AS (SELECT list(mn ORDER BY pos) AS mns,
                            list(mx - mn ORDER BY pos) AS dts
                     FROM sqst),
           sqcodes AS (SELECT vec_id,
                              [CAST(least(255.0, greatest(0.0,
                                 floor(CASE WHEN dts[i] > 0
                                       THEN (v[i] - mns[i]) * 255.0 / dts[i] + 0.5
                                       ELSE 0.0 END))) AS INT)
                               for i in generate_series(1, 64)] AS codes
                       FROM sqraw CROSS JOIN sqarr),
           sqq AS (SELECT vec_id AS qid, v AS qv FROM sqraw WHERE $queryPred),
           sqscore AS (SELECT q.qid, c.vec_id AS nid,
                              round(list_reduce(
                                [q.qv[i] * (a.mns[i]
                                   + CAST(c.codes[i] AS DOUBLE) * a.dts[i] / 255.0)
                                 for i in generate_series(1, 64)],
                                (x, y) -> x + y), 4) + 0.0 AS adot
                       FROM sqq q CROSS JOIN sqcodes c CROSS JOIN sqarr a
                       WHERE q.qid <> c.vec_id AND ($candPred))"""

  private val sq8OracleCte: String = sq8OracleCteFrom("vec_id < 20")

  private val ivfPqOracleCte: String =
    s"""$ivfOracleCte,
           resid AS (SELECT a.vec_id,
                            [b.v[i] - c.cv[i] for i in generate_series(1, 64)] AS rv
                     FROM assign a JOIN vn b ON b.vec_id = a.vec_id
                     JOIN cents c ON c.cid = a.cid),
           rsub AS (SELECT vec_id, m, rv[8 * m + 1 : 8 * m + 8] AS sv
                    FROM resid CROSS JOIN generate_series(0, 7) t(m)),
           pseed AS (SELECT m, vec_id AS cid, sv AS cv FROM rsub WHERE vec_id < 16),
           pd0 AS (SELECT s.vec_id, s.m, c.cid,
                          list_reduce([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])
                                       for i in generate_series(1, 8)],
                                      (a, b) -> a + b) AS dist
                   FROM rsub s JOIN pseed c USING (m)),
           pa0 AS (SELECT vec_id, m, cid FROM (
                     SELECT vec_id, m, cid,
                            row_number() OVER (PARTITION BY vec_id, m
                                               ORDER BY dist, cid) AS rn
                     FROM pd0) WHERE rn = 1),
           pm1 AS (SELECT a.m, a.cid, t.i,
                          CAST(sum(CAST(s.sv[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                            / count(*) AS mu
                   FROM pa0 a JOIN rsub s ON s.vec_id = a.vec_id AND s.m = a.m
                   CROSS JOIN generate_series(1, 8) t(i)
                   GROUP BY a.m, a.cid, t.i),
           pc1 AS (SELECT m, cid, list(mu ORDER BY i) AS cv FROM pm1 GROUP BY m, cid),
           pd1 AS (SELECT s.vec_id, s.m, c.cid,
                          list_reduce([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])
                                       for i in generate_series(1, 8)],
                                      (a, b) -> a + b) AS dist
                   FROM rsub s JOIN pc1 c USING (m)),
           pa1 AS (SELECT vec_id, m, cid FROM (
                     SELECT vec_id, m, cid,
                            row_number() OVER (PARTITION BY vec_id, m
                                               ORDER BY dist, cid) AS rn
                     FROM pd1) WHERE rn = 1),
           pm2 AS (SELECT a.m, a.cid, t.i,
                          CAST(sum(CAST(s.sv[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                            / count(*) AS mu
                   FROM pa1 a JOIN rsub s ON s.vec_id = a.vec_id AND s.m = a.m
                   CROSS JOIN generate_series(1, 8) t(i)
                   GROUP BY a.m, a.cid, t.i),
           pc2 AS (SELECT m, cid, list(mu ORDER BY i) AS cv FROM pm2 GROUP BY m, cid),
           pd2 AS (SELECT s.vec_id, s.m, c.cid,
                          list_reduce([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])
                                       for i in generate_series(1, 8)],
                                      (a, b) -> a + b) AS dist
                   FROM rsub s JOIN pc2 c USING (m)),
           pcodes AS (SELECT vec_id, m, cid FROM (
                        SELECT vec_id, m, cid,
                               row_number() OVER (PARTITION BY vec_id, m
                                                  ORDER BY dist, cid) AS rn
                        FROM pd2) WHERE rn = 1),
           qsubq AS (SELECT vec_id AS qid, m, v[8 * m + 1 : 8 * m + 8] AS qv
                     FROM vn CROSS JOIN generate_series(0, 7) t(m)
                     WHERE vec_id < 20),
           ptab AS (SELECT q.qid, c.m, c.cid,
                           list_reduce([q.qv[i] * c.cv[i]
                                        for i in generate_series(1, 8)],
                                       (a, b) -> a + b) AS pd
                    FROM qsubq q JOIN pc2 c USING (m)),
           qcd AS (SELECT b.vec_id AS qid, c.cid,
                          list_reduce([b.v[i] * c.cv[i]
                                       for i in generate_series(1, 64)],
                                      (x, y) -> x + y) AS qcdot
                   FROM vn b CROSS JOIN cents c WHERE b.vec_id < 20),
           probes AS (SELECT vec_id AS qid, cid FROM (
                        SELECT vec_id, cid,
                               row_number() OVER (PARTITION BY vec_id
                                                  ORDER BY cos DESC, cid ASC) AS rk
                        FROM scored WHERE vec_id < 20) WHERE rk <= 4),
           candp AS (SELECT p.qid, a.vec_id AS nid, a.cid
                     FROM probes p JOIN assign a USING (cid)),
           s8 AS (SELECT t.qid, k.vec_id AS nid,
                         list_reduce(list(t.pd ORDER BY t.m), (a, b) -> a + b) AS s8
                  FROM pcodes k JOIN ptab t ON t.m = k.m AND t.cid = k.cid
                  GROUP BY t.qid, k.vec_id),
           ap AS (SELECT c.qid, c.nid, round(q.qcdot + s.s8, 4) + 0.0 AS adot
                  FROM candp c
                  JOIN s8 s ON s.qid = c.qid AND s.nid = c.nid
                  JOIN qcd q ON q.qid = c.qid AND q.cid = c.cid
                  WHERE c.qid <> c.nid)
    """

  /** The damped power-iteration chain over the mutual pairs of the graph
    * CTE `g` (pg-prefixed: the ivf chain owns c1/c2). Shared by the
    * centrality and coreset oracles. */
  private lazy val centralityChainCte: String =
    s"""pgpairs AS (SELECT a.src, a.dst
                       FROM g a JOIN g b ON b.src = a.dst AND b.dst = a.src
                       WHERE a.src < a.dst),
           $centralityFromPairsCte"""

  /** The chain from an undirected unique-pair CTE `pgpairs(src, dst)`
    * onward — reused by [[graft.llm.Dedup]]'s doc-graph centrality
    * oracle, which supplies its own pair source. */
  private[llm] lazy val centralityFromPairsCte: String =
    """pgedges AS (SELECT src, dst FROM pgpairs
                       UNION ALL SELECT dst, src FROM pgpairs),
           pgdeg AS (SELECT src, count(*) AS deg FROM pgedges GROUP BY src),
           pgr0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE) AS r FROM pgdeg),
           pgc1 AS (SELECT e.dst AS id,
                           CAST(round(pgr0.r / d.deg, 12) AS DECIMAL(38,12)) AS c
                    FROM pgedges e JOIN pgdeg d ON d.src = e.src
                    JOIN pgr0 ON pgr0.id = e.src),
           pgr1 AS (SELECT id, round(CAST(0.15 AS DOUBLE)
                      + CAST(0.85 AS DOUBLE) * CAST(sum(c) AS DOUBLE), 12) AS r
                    FROM pgc1 GROUP BY id),
           pgc2 AS (SELECT e.dst AS id,
                           CAST(round(pgr1.r / d.deg, 12) AS DECIMAL(38,12)) AS c
                    FROM pgedges e JOIN pgdeg d ON d.src = e.src
                    JOIN pgr1 ON pgr1.id = e.src),
           pgr2 AS (SELECT id, round(CAST(0.15 AS DOUBLE)
                      + CAST(0.85 AS DOUBLE) * CAST(sum(c) AS DOUBLE), 12) AS r
                    FROM pgc2 GROUP BY id),
           pgc3 AS (SELECT e.dst AS id,
                           CAST(round(pgr2.r / d.deg, 12) AS DECIMAL(38,12)) AS c
                    FROM pgedges e JOIN pgdeg d ON d.src = e.src
                    JOIN pgr2 ON pgr2.id = e.src),
           pgr3 AS (SELECT id, round(CAST(0.15 AS DOUBLE)
                      + CAST(0.85 AS DOUBLE) * CAST(sum(c) AS DOUBLE), 12) AS r
                    FROM pgc3 GROUP BY id)"""

  /** Shared hybrid-retrieval oracle CTE chain (hb*): the text_bm25_topk
    * chain verbatim (candidates) + vector norms + the in-plan query
    * vector (top-BM25 doc) + per-candidate cosine — reused by both
    * fusion oracles. */
  private val hybridOracleCte: String =
    """hbt AS (SELECT doc_id,
                      list_filter(string_split(text, ' '),
                                  w -> length(w) > 0) AS toks
               FROM documents),
           hbd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                          list_filter(toks,
                            w -> w IN ('spark', 'query', 'window')) AS hits
                   FROM hbt),
           hbs AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM hbd),
           hbtf AS (SELECT doc_id, dl, w, count(*) AS tf
                    FROM (SELECT doc_id, dl, unnest(hits) AS w
                          FROM hbd WHERE len(hits) > 0)
                    GROUP BY 1, 2, 3),
           hbdf AS (SELECT w, count(*) AS df FROM hbtf GROUP BY 1),
           hbsc AS (SELECT t.doc_id, t.tf,
                           CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5)
                                               / (d.df + 0.5))
                                      * (t.tf * 2.2)
                                      / (t.tf + 1.2 * (0.25 + 0.75 * t.dl
                                         / (s.sum_dl * 1.0 / s.n_docs))), 6)
                                AS DECIMAL(18,6)) AS term_score
                    FROM hbtf t JOIN hbdf d USING (w) CROSS JOIN hbs s),
           hbk AS (SELECT doc_id,
                          round(CAST(sum(term_score) AS DOUBLE), 4) AS score
                   FROM hbsc GROUP BY doc_id
                   ORDER BY score DESC, doc_id LIMIT 50),
           hbv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
           hbn AS (SELECT vec_id, v,
                          list_reduce([v[i] * v[i]
                            for i in generate_series(1, len(v))],
                            (x, y) -> x + y) AS norm2
                   FROM hbv),
           hbq AS (SELECT n.v AS qv, n.norm2 AS qn
                   FROM (SELECT doc_id FROM hbk
                         ORDER BY score DESC, doc_id LIMIT 1) t
                   JOIN hbn n ON n.vec_id = t.doc_id),
           hbc AS (SELECT k.doc_id, k.score,
                          round(list_reduce([q.qv[i] * n.v[i]
                                  for i in generate_series(1, len(q.qv))],
                                  (x, y) -> x + y)
                                / (sqrt(q.qn) * sqrt(n.norm2)), 4) + 0.0
                            AS cosine
                   FROM hbk k JOIN hbn n ON n.vec_id = k.doc_id
                   CROSS JOIN hbq q)"""

  val oracle: Map[String, String] = Map(
    "sim_hybrid_tuning" ->
      s"""WITH $hybridOracleCte,
           hbm AS (SELECT max(score) AS max_score FROM hbk),
           hbi AS (SELECT doc_id,
                          CAST(round(round(score / max_score, 4) * 10000, 0)
                               AS BIGINT) AS bm25n_i,
                          CAST(round(cosine * 10000, 0) AS BIGINT) AS cos_i
                   FROM hbc CROSS JOIN hbm),
           hba AS (SELECT CAST(alpha_pct AS BIGINT) AS alpha_pct
                   FROM (VALUES (0), (25), (50), (75), (100)) a(alpha_pct)),
           hbf AS (SELECT a.alpha_pct, i.doc_id,
                          a.alpha_pct * i.bm25n_i
                          + (100 - a.alpha_pct) * i.cos_i AS fused_u
                   FROM hbi i CROSS JOIN hba a),
           hbr AS (SELECT alpha_pct, doc_id, fused_u,
                          row_number() OVER (PARTITION BY alpha_pct
                                             ORDER BY fused_u DESC, doc_id)
                            AS rk
                   FROM hbf)
         SELECT f.alpha_pct AS alpha_pct, count(*) AS n_cand,
                CAST(min(CASE WHEN r.rk = 1 THEN r.doc_id END) AS BIGINT)
                  AS top_doc,
                CAST(min(CASE WHEN r.rk = 1 THEN r.fused_u END) AS BIGINT)
                  AS top_fused_u,
                CAST(sum(f.fused_u) AS BIGINT) AS sum_fused_u
         FROM hbf f JOIN hbr r
           ON f.alpha_pct = r.alpha_pct AND f.doc_id = r.doc_id
         GROUP BY f.alpha_pct ORDER BY f.alpha_pct""",
    "sim_hybrid_search" ->
      s"""WITH $hybridOracleCte,
           hbm AS (SELECT max(score) AS max_score FROM hbk)
         SELECT doc_id, score AS bm25, cosine,
                CAST(round((round(score / max_score, 4) + cosine) * 10000, 0)
                     AS BIGINT) AS hybrid_bp
         FROM hbc CROSS JOIN hbm
         ORDER BY hybrid_bp DESC, doc_id LIMIT 20""",
    "sim_rrf_fusion" ->
      s"""WITH $hybridOracleCte,
           hbr AS (SELECT doc_id,
                          CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                               AS INT) AS r_bm,
                          CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
                               AS INT) AS r_cos
                   FROM hbc)
         SELECT doc_id, r_bm, r_cos,
                round(1.0 / (60 + r_bm) + 1.0 / (60 + r_cos), 6) AS rrf
         FROM hbr ORDER BY rrf DESC, doc_id LIMIT 20""",
    // topic mixture: quantizer-assign replay + per-list token mass;
    // Σ√tokens goes through a 6-dp DECIMAL per term so the total is
    // exact (order-free); every division is one double op per row.
    "text_topic_mix" ->
      s"""WITH $ivfOracleCte,
           dt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                  FROM documents),
           bt AS (SELECT a.cid AS topic, count(*) AS n_docs,
                         CAST(sum(d.n_tok) AS BIGINT) AS n_tokens
                  FROM assign a JOIN dt d ON d.doc_id = a.vec_id
                  GROUP BY a.cid),
           btp AS (SELECT topic, n_docs, n_tokens,
                          CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6)
                               AS DECIMAL(38,6)) AS pow
                   FROM bt),
           tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                          sum(pow) AS tot_pow
                   FROM btp),
           shares AS (SELECT topic, n_docs, n_tokens,
                             round(CAST(n_tokens AS DOUBLE) / tot_tokens, 4) AS share,
                             round(CAST(pow AS DOUBLE) / CAST(tot_pow AS DOUBLE), 4)
                               AS target_share
                      FROM btp CROSS JOIN tot),
           unassigned AS (SELECT CAST(-1 AS BIGINT) AS topic,
                                 count(*) AS n_docs,
                                 CAST(coalesce(sum(d.n_tok), 0) AS BIGINT) AS n_tokens,
                                 CAST(NULL AS DOUBLE) AS share,
                                 CAST(NULL AS DOUBLE) AS target_share,
                                 CAST(NULL AS DOUBLE) AS sample_ratio
                          FROM dt d
                          WHERE d.doc_id NOT IN (SELECT vec_id FROM assign)
                          HAVING count(*) > 0)
         SELECT * FROM (
           SELECT topic, n_docs, n_tokens, share, target_share,
                  round(target_share / share, 4) AS sample_ratio
           FROM shares
           UNION ALL SELECT * FROM unassigned)
         ORDER BY topic""",
    // full PQ replay: subspace slices → per-subspace 2-iteration Lloyd
    // (decimal-exact means, argmin tie-broken by cid) → codes → ADC table
    // → m-ordered fold. Rounds BEFORE ranking, same as the Spark side.
    "sim_sq8" ->
      s"""WITH $sq8OracleCte
         SELECT qid, CAST(rnk AS INT) AS rnk, nid, adot
         FROM (SELECT qid, nid, adot,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY adot DESC, nid ASC) AS rnk
               FROM sqscore)
         WHERE rnk <= 5 ORDER BY qid, rnk""",
    "sim_sq8_gate" ->
      s"""WITH ${sq8OracleCteFrom("vec_id % 50 = 2")}
         SELECT qid, nid, adot, adot >= 0.42 AS flagged
         FROM (SELECT qid, nid, adot,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY adot DESC, nid ASC) AS rn
               FROM sqscore)
         WHERE rn = 1 ORDER BY qid LIMIT 300""",
    "sim_sq8_rerank" ->
      s"""WITH $sq8OracleCte,
           sqtopr AS (SELECT qid, nid FROM (
                        SELECT qid, nid,
                               row_number() OVER (PARTITION BY qid
                                                  ORDER BY adot DESC, nid ASC) AS ark
                        FROM sqscore) WHERE ark <= 20),
           sqex AS (SELECT t.qid, t.nid,
                           round(list_reduce([q.v[i] * n.v[i]
                                              for i in generate_series(1, 64)],
                                             (x, y) -> x + y), 4) + 0.0 AS dot
                    FROM sqtopr t
                    JOIN sqraw q ON q.vec_id = t.qid
                    JOIN sqraw n ON n.vec_id = t.nid)
         SELECT qid, rnk, nid, dot FROM (
           SELECT qid, nid, dot,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY dot DESC, nid ASC) AS INT) AS rnk
           FROM sqex) WHERE rnk <= 5
         ORDER BY qid, rnk""",
    "sim_pq" ->
      """WITH raw AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
                      FROM embeddings),
           sub AS (SELECT vec_id, m, v[8 * m + 1 : 8 * m + 8] AS sv
                   FROM raw CROSS JOIN generate_series(0, 7) t(m)),
           seed AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 16),
           d0 AS (SELECT s.vec_id, s.m, c.cid,
                         list_reduce([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])
                                      for i in generate_series(1, 8)],
                                     (a, b) -> a + b) AS dist
                  FROM sub s JOIN seed c USING (m)),
           a0 AS (SELECT vec_id, m, cid FROM (
                    SELECT vec_id, m, cid,
                           row_number() OVER (PARTITION BY vec_id, m
                                              ORDER BY dist, cid) AS rn
                    FROM d0) WHERE rn = 1),
           m1 AS (SELECT a.m, a.cid, t.i,
                         CAST(sum(CAST(s.sv[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS mu
                  FROM a0 a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
                  CROSS JOIN generate_series(1, 8) t(i)
                  GROUP BY a.m, a.cid, t.i),
           c1 AS (SELECT m, cid, list(mu ORDER BY i) AS cv FROM m1 GROUP BY m, cid),
           d1 AS (SELECT s.vec_id, s.m, c.cid,
                         list_reduce([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])
                                      for i in generate_series(1, 8)],
                                     (a, b) -> a + b) AS dist
                  FROM sub s JOIN c1 c USING (m)),
           a1 AS (SELECT vec_id, m, cid FROM (
                    SELECT vec_id, m, cid,
                           row_number() OVER (PARTITION BY vec_id, m
                                              ORDER BY dist, cid) AS rn
                    FROM d1) WHERE rn = 1),
           m2 AS (SELECT a.m, a.cid, t.i,
                         CAST(sum(CAST(s.sv[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS mu
                  FROM a1 a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
                  CROSS JOIN generate_series(1, 8) t(i)
                  GROUP BY a.m, a.cid, t.i),
           c2 AS (SELECT m, cid, list(mu ORDER BY i) AS cv FROM m2 GROUP BY m, cid),
           d2 AS (SELECT s.vec_id, s.m, c.cid,
                         list_reduce([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])
                                      for i in generate_series(1, 8)],
                                     (a, b) -> a + b) AS dist
                  FROM sub s JOIN c2 c USING (m)),
           codes AS (SELECT vec_id, m, cid FROM (
                       SELECT vec_id, m, cid,
                              row_number() OVER (PARTITION BY vec_id, m
                                                 ORDER BY dist, cid) AS rn
                       FROM d2) WHERE rn = 1),
           qsub AS (SELECT vec_id AS qid, m, sv AS qv FROM sub WHERE vec_id < 20),
           tab AS (SELECT q.qid, c.m, c.cid,
                          list_reduce([q.qv[i] * c.cv[i]
                                       for i in generate_series(1, 8)],
                                      (a, b) -> a + b) AS pd
                   FROM qsub q JOIN c2 c USING (m)),
           ap AS (SELECT t.qid, k.vec_id AS nid,
                         round(list_reduce(list(t.pd ORDER BY t.m),
                                           (a, b) -> a + b), 4) + 0.0 AS adot
                  FROM codes k JOIN tab t ON t.m = k.m AND t.cid = k.cid
                  GROUP BY t.qid, k.vec_id)
         SELECT qid, rnk, nid, adot FROM (
           SELECT qid, nid, adot,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY adot DESC, nid ASC) AS INT) AS rnk
           FROM ap WHERE qid <> nid)
         WHERE rnk <= 5
         ORDER BY qid, rnk""",
    // IVF-PQ residual replay: the coarse CTE chain verbatim, residuals
    // against the final centroids, the sim_pq Lloyd recipe over residual
    // subvectors (p-prefixed CTE names — the coarse chain already owns
    // m1/c1/m2/c2), ADC + coarse-dot tables, candidates ONLY from the
    // probed lists, m-ordered fold then ONE qcdot+s8 addition. Shared up
    // to the per-candidate adot set `ap` with sim_ivfpq_rerank.
    "sim_ivfpq" ->
      s"""WITH $ivfPqOracleCte
         SELECT qid, rnk, nid, adot FROM (
           SELECT qid, nid, adot,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY adot DESC, nid ASC) AS INT) AS rnk
           FROM ap) WHERE rnk <= 5
         ORDER BY qid, rnk""",
    // two-stage refinement: the same candidate adots, the identical
    // round-then-rank top-20 cut, then EXACT 64-dim dots re-ranked.
    "sim_ivfpq_rerank" ->
      s"""WITH $ivfPqOracleCte,
           topr AS (SELECT qid, nid FROM (
                      SELECT qid, nid,
                             row_number() OVER (PARTITION BY qid
                                                ORDER BY adot DESC, nid ASC) AS ark
                      FROM ap) WHERE ark <= 20),
           ex AS (SELECT t.qid, t.nid,
                         round(list_reduce([q.v[i] * n.v[i]
                                            for i in generate_series(1, 64)],
                                           (x, y) -> x + y), 4) + 0.0 AS dot
                  FROM topr t
                  JOIN vn q ON q.vec_id = t.qid
                  JOIN vn n ON n.vec_id = t.nid)
         SELECT qid, rnk, nid, dot FROM (
           SELECT qid, nid, dot,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY dot DESC, nid ASC) AS INT) AS rnk
           FROM ex) WHERE rnk <= 5
         ORDER BY qid, rnk""",
    "sim_ivf_census" ->
      s"""WITH $ivfOracleCte
         SELECT cid, count(*) AS n_vecs,
                round(count(*) * 1.0 / (SELECT count(*) FROM raw), 4) AS share
         FROM assign GROUP BY cid ORDER BY cid""",
    // sim_ivf_persist shares sim_ivf's oracle verbatim: the stored-index
    // probe must reproduce the in-plan IVF answer row for row.
    "sim_ivf_persist" ->
      s"""WITH $ivfOracleCte,
           inv AS (SELECT a.cid, v.vec_id AS nid, v.v AS nv, v.norm2 AS nn
                   FROM assign a JOIN vn v USING (vec_id)),
           probes AS (SELECT vec_id AS qid, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rk
             FROM scored WHERE vec_id < 20) WHERE rk <= 4),
           q AS (SELECT vec_id AS qid, v AS qv, norm2 AS qn FROM vn WHERE vec_id < 20),
           cand AS (
             SELECT p.qid, i.nid,
                    round(list_reduce([q.qv[k] * i.nv[k] for k in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(q.qn) * sqrt(i.nn)), 4) + 0.0 AS cosine
             FROM probes p JOIN inv i USING (cid) JOIN q ON q.qid = p.qid
             WHERE p.qid <> i.nid)
         SELECT qid, rnk, nid, cosine FROM (
           SELECT qid, nid, cosine,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cosine DESC, nid ASC) AS INT) AS rnk
           FROM cand) WHERE rnk <= 5
         ORDER BY qid, rnk""",
    "sim_ivf" ->
      s"""WITH $ivfOracleCte,
           inv AS (SELECT a.cid, v.vec_id AS nid, v.v AS nv, v.norm2 AS nn
                   FROM assign a JOIN vn v USING (vec_id)),
           probes AS (SELECT vec_id AS qid, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rk
             FROM scored WHERE vec_id < 20) WHERE rk <= 4),
           q AS (SELECT vec_id AS qid, v AS qv, norm2 AS qn FROM vn WHERE vec_id < 20),
           cand AS (
             SELECT p.qid, i.nid,
                    round(list_reduce([q.qv[k] * i.nv[k] for k in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(q.qn) * sqrt(i.nn)), 4) + 0.0 AS cosine
             FROM probes p JOIN inv i USING (cid) JOIN q ON q.qid = p.qid
             WHERE p.qid <> i.nid)
         SELECT qid, rnk, nid, cosine FROM (
           SELECT qid, nid, cosine,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cosine DESC, nid ASC) AS INT) AS rnk
           FROM cand) WHERE rnk <= 5
         ORDER BY qid, rnk""",
    // probe-depth tuning census: the sim_ivf probe replay annotated with
    // each candidate's minimum reaching depth, one top-k + truth
    // intersection per depth 1..4 (pt-prefixed CTEs)
    "sim_probe_tuning" ->
      s"""WITH $ivfOracleCte,
           ptq AS (SELECT vec_id AS qid, v AS qv, norm2 AS qn
                   FROM vn WHERE vec_id < 20),
           ptpr AS (SELECT qid, cid, rk FROM (
             SELECT vec_id AS qid, cid,
                    CAST(row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cid ASC) AS INT) AS rk
             FROM scored WHERE vec_id < 20) WHERE rk <= 4),
           ptinv AS (SELECT a.cid, n.vec_id AS nid, n.v AS nv, n.norm2 AS nn
                     FROM assign a JOIN vn n USING (vec_id)),
           ptcand AS (
             SELECT p.qid, i.nid, p.rk,
                    round(list_reduce([q.qv[x] * i.nv[x]
                                       for x in generate_series(1, 64)],
                                      (a, b) -> a + b)
                          / (sqrt(q.qn) * sqrt(i.nn)), 4) AS cosine
             FROM ptpr p JOIN ptinv i USING (cid) JOIN ptq q ON q.qid = p.qid
             WHERE p.qid <> i.nid),
           ptbr AS (SELECT qid, nid FROM (
             SELECT q.qid, n.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      round(list_reduce([q.qv[x] * n.v[x]
                                         for x in generate_series(1, 64)],
                                        (a, b) -> a + b)
                            / (sqrt(q.qn) * sqrt(n.norm2)), 4) DESC,
                      n.vec_id ASC) AS rnk
             FROM ptq q CROSS JOIN vn n WHERE q.qid <> n.vec_id)
             WHERE rnk <= 3),
           ptlv AS (SELECT CAST(unnest(generate_series(1, 4)) AS INT) AS nprobe),
           ptlc AS (SELECT l.nprobe, c.qid, c.nid, c.cosine,
                           row_number() OVER (PARTITION BY l.nprobe, c.qid
                                ORDER BY c.cosine DESC, c.nid ASC) AS rnk
                    FROM ptlv l JOIN ptcand c ON c.rk <= l.nprobe),
           ptfn AS (SELECT t.nprobe, count(*) AS n_found
                    FROM (SELECT nprobe, qid, nid FROM ptlc WHERE rnk <= 3) t
                    JOIN ptbr b ON b.qid = t.qid AND b.nid = t.nid
                    GROUP BY 1),
           ptnc AS (SELECT l.nprobe, count(DISTINCT c.qid) AS n_sampled,
                           count(*) AS n_cand
                    FROM ptlv l JOIN ptcand c ON c.rk <= l.nprobe GROUP BY 1),
           ptnt AS (SELECT count(*) AS n_true FROM ptbr)
         SELECT n.nprobe, n.n_sampled, n.n_cand, t.n_true,
                coalesce(f.n_found, 0) AS n_found,
                round(coalesce(f.n_found, 0) * 1.0 / t.n_true, 4) AS recall
         FROM ptnc n CROSS JOIN ptnt t LEFT JOIN ptfn f ON f.nprobe = n.nprobe
         ORDER BY n.nprobe""",
    // cross-set kNN join: the sim_ivf recipe with a %10 query/corpus
    // split, nprobe=2, k=3, and no self-exclusion (sides are disjoint)
    // semantic decontamination: the knn_join probe replay with a τ
    // threshold instead of top-k, rolled up per corpus vector (max
    // rounded cosine, ties to the smaller bench id)
    "sim_semantic_decon" ->
      s"""WITH $ivfOracleCte,
           $deconOracleCtes,
           sdagg AS (SELECT nid, bid, cosine,
                            row_number() OVER (PARTITION BY nid
                                               ORDER BY cosine DESC, bid ASC) AS rn,
                            count(*) OVER (PARTITION BY nid) AS nh
                     FROM sdhit)
         SELECT nid AS vec_id, bid AS bench_id, cosine, CAST(nh AS INT) AS n_hits
         FROM sdagg WHERE rn = 1 ORDER BY vec_id""",
    // decon recall census: brute-force τ-pairs over bench × corpus,
    // left-joined against the probed hit set
    "sim_decon_recall" ->
      s"""WITH $ivfOracleCte,
           $deconOracleCtes,
           drb AS (SELECT b.bid, v.vec_id AS nid,
                          round(list_reduce([b.bv[k] * v.v[k] for k in generate_series(1, 64)],
                                            (x, y) -> x + y) / (sqrt(b.bn) * sqrt(v.norm2)), 4) + 0.0 AS cosine
                   FROM vn v CROSS JOIN sdb b WHERE v.vec_id % 10 <> 0),
           drt AS (SELECT bid, nid FROM drb WHERE cosine >= 0.35),
           drj AS (SELECT t.bid, t.nid,
                          CASE WHEN h.bid IS NULL THEN NULL ELSE 1 END AS found
                   FROM drt t LEFT JOIN sdhit h ON h.bid = t.bid AND h.nid = t.nid)
         SELECT count(DISTINCT bid) AS n_bench_hit,
                count(*) AS n_true_pairs,
                CAST(coalesce(sum(found), 0) AS BIGINT) AS n_found,
                round(CAST(coalesce(sum(found), 0) AS DOUBLE) / count(*), 4) + 0.0 AS recall
         FROM drj""",
    // per-bench-item contamination report: every bench vector rowed,
    // zero-hit items visible, worst corpus offender attached
    "sim_decon_report" ->
      s"""WITH $ivfOracleCte,
           $deconOracleCtes,
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
         ORDER BY bench_id""",
    "sim_knn_join" ->
      s"""WITH $ivfOracleCte,
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
    // kNN graph: same quantizer replay through `assign`, per-src top-k
    // within the cluster; rank over the ROUNDED cosine like the Spark
    // side (r4 then row_number on the rounded column)
    "sim_knn_graph" ->
      s"""WITH $knnGraphOracleCte
         SELECT src, rnk, dst, cosine, cid FROM g ORDER BY src, rnk""",
    // recall census: brute-force top-3 for the vec_id < 50 sample
    // (same rounded-cosine/dst-tie ranking recipe as g), left-joined
    // against the graph's directed edges for those srcs
    "sim_knn_recall" ->
      s"""WITH $knnGraphOracleCte,
         sample AS (SELECT vec_id, v, norm2 FROM vn WHERE vec_id < 50),
         brute AS (SELECT src, dst FROM (
             SELECT a.vec_id AS src, b.vec_id AS dst,
                    row_number() OVER (PARTITION BY a.vec_id ORDER BY
                      round(list_reduce([a.v[k] * b.v[k] for k in generate_series(1, 64)],
                                        (x, y) -> x + y)
                            / (sqrt(a.norm2) * sqrt(b.norm2)), 4) DESC,
                      b.vec_id ASC) AS rnk
             FROM sample a JOIN vn b ON a.vec_id <> b.vec_id)
           WHERE rnk <= 3),
         found AS (SELECT b.src, b.dst,
                          CASE WHEN ge.src IS NOT NULL THEN 1 ELSE 0 END AS f
                   FROM brute b
                   LEFT JOIN (SELECT src, dst FROM g WHERE src < 50) ge
                     ON ge.src = b.src AND ge.dst = b.dst)
         SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_sampled,
                count(*) AS n_true_edges,
                CAST(sum(f) AS BIGINT) AS n_found,
                round(sum(f) * 1.0 / count(*), 4) AS recall
         FROM found""",
    // incremental growth: the oracle REBUILDS the grown index (trains on
    // the even half, assigns everything) — maintained == rebuild is the
    // hash-compared claim
    // three prefixed training chains, one per nlist knob — the census is
    // quantizer-replay exact at every knob
    "sim_nlist_tuning" -> {
      val head =
        """raw AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
                      FROM embeddings),
           fl AS (SELECT vec_id, embedding AS f FROM embeddings),
           vn AS (SELECT vec_id, v,
                         list_reduce([v[i] * v[i] for i in generate_series(1, len(v))],
                                     (x, y) -> x + y) AS norm2
                  FROM raw)"""
      val knobs = Seq(16 -> "ka", 64 -> "kb", 160 -> "kc")
      val chains = knobs.map { case (nl, p) => ivfChainCteFor(64, nl, p) }
        .mkString(",\n")
      val selects = knobs.map { case (nl, p) =>
        s"""SELECT CAST($nl AS BIGINT) AS nlist, count(*) AS n_lists,
               CAST(sum(n) AS BIGINT) AS n_vecs,
               CAST(max(n) AS BIGINT) AS max_list,
               CAST(sum(n * n) AS BIGINT) AS sum_sq
             FROM (SELECT cid, count(*) AS n FROM ${p}assign GROUP BY cid)"""
      }.mkString("\n UNION ALL ")
      s"""WITH $head,
         $chains
         SELECT nlist, n_lists, n_vecs, max_list, sum_sq,
                CAST(1000 * sum_sq // (n_vecs * n_vecs) AS BIGINT) AS pair_work_pm
         FROM ($selects) ORDER BY nlist"""
    },
    "sim_ivf_delta" ->
      s"""WITH $ivfDeltaOracleCte
         SELECT a.cid,
                CAST(sum(CASE WHEN a.vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                CAST(sum(CASE WHEN a.vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
                bit_xor(CAST('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 15)
                             AS BIGINT)) AS member_fp
         FROM assignAll a GROUP BY a.cid ORDER BY a.cid""",
    // quantizer refresh: one MORE Lloyd step from the final stored
    // assignment (m3/c3 extend the m1/m2 decimal-mean recipe), re-score,
    // then the per-list before/after/in/out/shift report
    "sim_quantizer_refresh" ->
      s"""WITH $ivfOracleCte,
           m3 AS (SELECT a.cid, t.i,
                         CAST(sum(CAST(f.f[t.i] AS DECIMAL(27,10))) AS DOUBLE)
                           / count(*) AS m
                  FROM assign a JOIN fl f USING (vec_id)
                  CROSS JOIN generate_series(1, 64) t(i)
                  GROUP BY a.cid, t.i),
           c3 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m3 GROUP BY cid),
           c3n AS (SELECT cid, cv,
                          list_reduce([cv[i] * cv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) AS cn
                   FROM c3),
           sc3 AS (SELECT a.vec_id, c.cid,
                          list_reduce([a.v[i] * c.cv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(c.cn)) AS cos
                   FROM vn a CROSS JOIN c3n c),
           as3 AS (SELECT vec_id, cid FROM (
                     SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY cos DESC, cid ASC) AS rn
                     FROM sc3) WHERE rn = 1),
           moved AS (SELECT o.vec_id, o.cid AS ocid, n.cid AS ncid
                     FROM assign o JOIN as3 n USING (vec_id)),
           bef AS (SELECT ocid AS cid, count(*) AS n_before,
                          CAST(sum(CASE WHEN ncid <> ocid THEN 1 ELSE 0 END) AS BIGINT) AS n_out
                   FROM moved GROUP BY ocid),
           aft AS (SELECT ncid AS cid, count(*) AS n_after,
                          CAST(sum(CASE WHEN ncid <> ocid THEN 1 ELSE 0 END) AS BIGINT) AS n_in
                   FROM moved GROUP BY ncid),
           sh AS (SELECT o.cid,
                         round(sqrt(list_reduce(
                           [(o.cv[i] - n.cv[i]) * (o.cv[i] - n.cv[i])
                            for i in generate_series(1, 64)],
                           (x, y) -> x + y)), 4) AS shift
                  FROM c2 o JOIN c3 n USING (cid))
         SELECT coalesce(b.cid, a.cid) AS cid,
                CAST(coalesce(b.n_before, 0) AS BIGINT) AS n_before,
                CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
                CAST(coalesce(a.n_in, 0) AS BIGINT) AS n_in,
                CAST(coalesce(b.n_out, 0) AS BIGINT) AS n_out,
                s.shift
         FROM bef b FULL JOIN aft a ON a.cid = b.cid
         LEFT JOIN sh s ON s.cid = coalesce(b.cid, a.cid)
         ORDER BY cid""",
    // mutual filter: the graph self-joined on reversed endpoints — a
    // pair survives iff BOTH directed edges exist in g
    "sim_knn_mutual" ->
      s"""WITH $knnGraphOracleCte
         SELECT a.src, a.dst, a.cosine, a.rnk AS rnk_fwd, b.rnk AS rnk_rev
         FROM g a JOIN g b ON b.src = a.dst AND b.dst = a.src
         WHERE a.src < a.dst
         ORDER BY a.src, a.dst""",
    // PageRank over the mutual edges: 3 unrolled power-iteration steps,
    // each contribution r/deg rounded to a 12-dp DECIMAL before the
    // exact per-vertex sum — the Spark side's arithmetic replayed op for
    // op (pg-prefixed CTE names: the ivf chain already owns c1/c2)
    "sim_knn_centrality" ->
      s"""WITH $knnGraphOracleCte,
           $centralityChainCte
         SELECT pgr3.id AS vec_id, round(pgr3.r, 4) AS centrality,
                d.deg AS degree
         FROM pgr3 JOIN pgdeg d ON d.src = pgr3.id
         ORDER BY centrality DESC, vec_id ASC""",
    // coreset: the centrality chain joined to the recursive CC labels,
    // top-m per cluster by (rounded centrality, id)
    "sim_knn_coreset" ->
      s"""WITH RECURSIVE $knnGraphOracleCte,
           $centralityChainCte,
           reach(id, lbl) AS (
             SELECT src, src FROM pgedges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN pgedges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           cw AS (SELECT l.cluster_id, r.id AS vec_id, round(r.r, 4) AS centrality,
                         row_number() OVER (PARTITION BY l.cluster_id
                           ORDER BY round(r.r, 4) DESC, r.id ASC) AS rk
                  FROM labels l JOIN pgr3 r ON r.id = l.id)
         SELECT cluster_id, CAST(rk AS INT) AS rk, vec_id, centrality
         FROM cw WHERE rk <= 2
         ORDER BY cluster_id, rk""",
    // clusters: recursive reachability closure over the mutual pairs —
    // min reachable label == the Spark side's propagation fixpoint
    "sim_knn_clusters" ->
      s"""WITH RECURSIVE $knnGraphOracleCte,
           mpairs AS (SELECT a.src AS da, a.dst AS db
                      FROM g a JOIN g b ON b.src = a.dst AND b.dst = a.src
                      WHERE a.src < a.dst),
           medges AS (SELECT da AS src, db AS dst FROM mpairs
                      UNION ALL SELECT db, da FROM mpairs),
           reach(id, lbl) AS (
             SELECT src, src FROM medges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN medges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         SELECT cluster_id, count(*) AS n_vecs,
                array_to_string(list(CAST(id AS VARCHAR) ORDER BY id), ',')
                  AS members
         FROM labels GROUP BY cluster_id ORDER BY cluster_id""",
    // diversity sampler: top-m per cluster by mutual degree (the same
    // closure + a degree count over the undirected edge list)
    "sim_knn_diverse" ->
      s"""WITH RECURSIVE $knnGraphOracleCte,
           mpairs AS (SELECT a.src AS da, a.dst AS db
                      FROM g a JOIN g b ON b.src = a.dst AND b.dst = a.src
                      WHERE a.src < a.dst),
           medges AS (SELECT da AS src, db AS dst FROM mpairs
                      UNION ALL SELECT db, da FROM mpairs),
           reach(id, lbl) AS (
             SELECT src, src FROM medges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN medges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           deg AS (SELECT src AS id, count(*) AS degree FROM medges GROUP BY 1)
         SELECT cluster_id, rk, vec_id, degree FROM (
           SELECT l.cluster_id, d.id AS vec_id, d.degree,
                  CAST(row_number() OVER (PARTITION BY l.cluster_id
                                          ORDER BY d.degree DESC, d.id ASC)
                       AS INT) AS rk
           FROM labels l JOIN deg d ON d.id = l.id)
         WHERE rk <= 2 ORDER BY cluster_id, rk""",
    // cluster-health stats: member/degree aggregates over the closure's
    // labels plus edge aggregates over the mutual pairs
    "sim_knn_stats" ->
      s"""WITH RECURSIVE $knnGraphOracleCte,
           mpairs AS (SELECT a.src AS da, a.dst AS db, a.cosine
                      FROM g a JOIN g b ON b.src = a.dst AND b.dst = a.src
                      WHERE a.src < a.dst),
           medges AS (SELECT da AS src, db AS dst FROM mpairs
                      UNION ALL SELECT db, da FROM mpairs),
           reach(id, lbl) AS (
             SELECT src, src FROM medges
             UNION
             SELECT e.dst, r.lbl FROM reach r JOIN medges e ON e.src = r.id),
           labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           deg AS (SELECT src AS id, count(*) AS dg FROM medges GROUP BY 1),
           ms AS (SELECT l.cluster_id, count(*) AS n_vecs,
                         min(d.dg) AS min_degree, max(d.dg) AS max_degree
                  FROM labels l JOIN deg d USING (id) GROUP BY 1),
           es AS (SELECT l.cluster_id, count(*) AS n_edges,
                         round(CAST(sum(CAST(p.cosine AS DECIMAL(14,4)))
                                    AS DOUBLE) / count(*), 4) AS mean_cosine
                  FROM mpairs p JOIN labels l ON l.id = p.da GROUP BY 1)
         SELECT ms.cluster_id, n_vecs, min_degree, max_degree,
                n_edges, mean_cosine
         FROM ms JOIN es USING (cluster_id) ORDER BY ms.cluster_id""",
    // semantic dedup: same quantizer replay through `assign`, pairs
    // joined within clusters only; the τ filter applies to the RAW
    // cosine (bit-identical doubles — same left-fold order), rounding
    // only on the reported pair like the Spark side
    "sim_semantic_dedup" ->
      s"""WITH $ivfOracleCte,
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
                    FROM pairs WHERE cos >= 0.35)
         SELECT cid, vec_id, bid AS dup_of, round(cos, 4) AS cosine
         FROM hits WHERE rn = 1 ORDER BY cid, vec_id""",
    // the online gate's decision set: same banded candidates, exact
    // cosine verify, threshold applied to the ROUNDED value like the
    // Spark side
    "sim_online_gate" ->
      s"""WITH $lshOracleCte,
           probes AS (SELECT vec_id FROM embeddings WHERE vec_id % 100 = 0),
           pcand AS (SELECT DISTINCT p.vec_id AS qid, c.vec_id AS corpus_vec
                     FROM bands p
                     JOIN probes pr ON pr.vec_id = p.vec_id
                     JOIN bands c ON c.band = p.band AND c.bh = p.bh
                     WHERE c.vec_id <> p.vec_id),
           dv AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in v] AS dv FROM vecs),
           n AS (SELECT vec_id,
                        list_reduce([dv[i] * dv[i] for i in generate_series(1, len(dv))],
                                    (x, y) -> x + y) AS norm2
                 FROM dv),
           scored AS (
             SELECT c.qid AS vec_id, c.corpus_vec,
                    round(list_reduce([a.dv[i] * b.dv[i] for i in generate_series(1, 64)],
                                      (x, y) -> x + y)
                          / (sqrt(na.norm2) * sqrt(nb.norm2)), 4) + 0.0 AS cosine
             FROM pcand c
             JOIN dv a ON a.vec_id = c.qid JOIN dv b ON b.vec_id = c.corpus_vec
             JOIN n na ON na.vec_id = c.qid JOIN n nb ON nb.vec_id = c.corpus_vec)
         SELECT vec_id, corpus_vec, cosine FROM (
           SELECT vec_id, corpus_vec, cosine,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, corpus_vec ASC) AS rnk
           FROM scored)
         WHERE rnk = 1
         ORDER BY vec_id""",
    "sim_lsh_candidates" ->
      s"""WITH $lshOracleCte
         SELECT band, bh, count(*) AS n_docs,
                CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs
         FROM bands GROUP BY band, bh HAVING count(*) >= 2
         ORDER BY n_pairs DESC, band ASC, bh ASC LIMIT 50""",
    "sim_topk" ->
      """WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           n AS (SELECT vec_id,
                        list_reduce([v[i] * v[i] for i in generate_series(1, len(v))],
                                    (x, y) -> x + y) AS norm2
                 FROM vecs),
           scored AS (
             SELECT q.vec_id AS qid, c.vec_id AS nid,
                    round(list_reduce([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))],
                                      (x, y) -> x + y)
                          / (sqrt(nq.norm2) * sqrt(nc.norm2)), 4) + 0.0 AS cosine
             FROM vecs q JOIN vecs c ON q.vec_id <> c.vec_id
             JOIN n nq ON nq.vec_id = q.vec_id
             JOIN n nc ON nc.vec_id = c.vec_id
             WHERE q.vec_id < 20)
         SELECT qid, rnk, nid, cosine
         FROM (SELECT qid, nid, cosine,
                      CAST(row_number() OVER (PARTITION BY qid
                                              ORDER BY cosine DESC, nid ASC) AS INT) AS rnk
               FROM scored)
         WHERE rnk <= 5 ORDER BY qid, rnk""")
}
