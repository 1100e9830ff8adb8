package graft.jx

import graft.operators.Common._

/** Driver-gated jx queries: the JSON below goes through the full
  * [[Jx]] compile path (parse → where tree → groupby/edges → sort), and
  * the driver hash-compares the result against the DuckDB oracle — so the
  * query-language front end is verified end-to-end, not just unit-tested.
  * Aggregates chosen integer-exact (count / long sum / max) so the compare
  * is bit-stable without a rounding wrapper (jx has no round op). */
object JxQueries {

  private val groupbyJson = """{
    "from": "lineitem",
    "where": {"gte": ["l_quantity", 30]},
    "groupby": ["l_returnflag", "l_linestatus"],
    "select": [
      {"name": "n", "value": ".", "aggregate": "count"},
      {"name": "sum_line", "value": "l_linenumber", "aggregate": "sum"},
      {"name": "max_qty", "value": "l_quantity", "aggregate": "max"}],
    "sort": ["l_returnflag", "l_linestatus"]}"""

  private val edgesJson = """{
    "from": "events",
    "edges": ["event_type"],
    "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    "sort": ["event_type"]}"""

  /** Duration domain under the oracle (§2.4 A5's jx face): same dense
    * fixed-width bucketing as range, domain type echoed through the cube
    * headers (JxSpec pins the serialization side). */
  private val durationJson = """{
    "from": "events",
    "edges": [{"name": "dur", "value": "value",
               "domain": {"type": "duration", "min": 0, "max": 500, "interval": 100}}],
    "select": [{"name": "n", "value": ".", "aggregate": "count"},
               {"name": "max_v", "value": "value", "aggregate": "max"}],
    "sort": ["dur"]}"""

  private val rangeJson = """{
    "from": "events",
    "edges": [{"name": "bucket", "value": "value",
               "domain": {"type": "range", "min": 0, "max": 500, "interval": 50}}],
    "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    "sort": ["bucket"]}"""

  private val windowJson = """{
    "from": "events",
    "select": [
      {"name": "event_id", "value": "event_id"},
      {"name": "event_type", "value": "event_type"},
      {"name": "ts", "value": "ts"}],
    "window": [
      {"name": "rn", "edges": ["event_type"], "sort": ["ts", "event_id"]},
      {"name": "min3", "value": "event_id", "aggregate": "min",
       "edges": ["event_type"], "sort": ["ts", "event_id"],
       "range": {"min": -2, "max": 0}}],
    "sort": ["event_type", "rn"],
    "limit": 500}"""

  /** Expression-valued window edges (SURVEY §7.6 (d), the last jx-parity
    * item): the window partitions by a computed value bucket
    * (floor(value, 50) — an op-tree, not a column) and sorts within it.
    * Covers both window forms: rownum (no aggregate) and a running
    * aggregate; `bmax` is max (order-insensitive per prefix, so doubles
    * compare exactly against the oracle with no summation-order risk). */
  private val windowEdgesJson = """{
    "from": "events",
    "select": [
      {"name": "event_id", "value": "event_id"},
      {"name": "value", "value": "value"}],
    "window": [
      {"name": "rn",
       "edges": [{"name": "vbucket", "value": {"floor": ["value", 50]}}],
       "sort": ["event_id"]},
      {"name": "bmax", "value": "value", "aggregate": "max",
       "edges": [{"name": "vbucket", "value": {"floor": ["value", 50]}}],
       "sort": ["event_id"]}],
    "sort": ["event_id"],
    "limit": 500}"""

  private val globalJson = """{
    "from": "lineitem",
    "where": {"eq": {"l_returnflag": "A"}},
    "select": [
      {"name": "n", "value": ".", "aggregate": "count"},
      {"name": "max_qty", "value": "l_quantity", "aggregate": "max"},
      {"name": "n_parts", "value": "l_partkey", "aggregate": "cardinality"}]}"""

  /** Deep dotted `from` — the jx data model's signature move: the unnest
    * is part of the FROM clause ("sessions.evs" explodes each session's
    * event array into rows). The resolver materializes a nested table
    * in-plan (collect_list per user over `events`); aggregates are
    * order-insensitive (count/max/cardinality) so the nondeterministic
    * array order inside each session can't affect the compare. */
  private val deepJson = """{
    "from": "sessions.evs",
    "groupby": ["evs.event_type"],
    "select": [
      {"name": "n", "value": ".", "aggregate": "count"},
      {"name": "max_value", "value": "evs.value", "aggregate": "max"},
      {"name": "n_events", "value": "evs.event_id", "aggregate": "cardinality"}],
    "sort": ["event_type"]}"""

  /** Expression-valued select — jx allows full op-trees anywhere a field
    * name fits; this runs null-skipping add, a case op-tree, and
    * separator-concat through the projection path. */
  private val selectExprJson = """{
    "from": "events",
    "select": [
      {"name": "event_id", "value": "event_id"},
      {"name": "vplus", "value": {"add": ["value", {"literal": 1}]}},
      {"name": "cat", "value": {"case": [
        {"when": {"gt": ["value", 100]}, "then": {"literal": "big"}},
        {"literal": "small"}]}},
      {"name": "ukey", "value": {"concat": ["event_type", "user_id"],
                                 "separator": ":"}}],
    "sort": ["event_id"],
    "limit": 300}"""

  /** Expression-valued edge: the dense domain of a computed bucket
    * ({true, false} ∪ the null part), counts materialized per part. */
  private val edgesExprJson = """{
    "from": "events",
    "edges": [{"name": "big", "value": {"gt": ["value", 100]}}],
    "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    "sort": ["big"]}"""

  /** The round-5 op-parity sweep: every jx scalar op family the compiler
    * gained this round in ONE op-tree — clamped slices (left/right/
    * not_left/not_right), the never-throwing coercions (number/string/
    * boolean/date), tuple/get, and the E6 ""-≡-missing convention flowing
    * through exists (the where) and coalesce (the fallback select). */
  private val opsExprJson = """{
    "from": "events",
    "where": {"exists": {"case": [
      {"when": {"lt": ["value", 5]}, "then": {"literal": ""}},
      "event_type"]}},
    "select": [
      {"name": "event_id", "value": "event_id"},
      {"name": "l3", "value": {"left": ["event_type", 3]}},
      {"name": "r3", "value": {"right": ["event_type", 3]}},
      {"name": "nl2", "value": {"not_left": ["event_type", 2]}},
      {"name": "nr2", "value": {"not_right": ["event_type", 2]}},
      {"name": "uid_rt", "value": {"number": {"string": "user_id"}}},
      {"name": "nonzero", "value": {"boolean": {"floor": ["value", 2]}}},
      {"name": "ts_rt", "value": {"date": {"string": "ts"}}},
      {"name": "tv", "value": {"get": [{"tuple": ["event_type", "value"]}, 1]}},
      {"name": "fallback", "value": {"coalesce": [
        {"case": [{"when": {"lt": ["value", 20]}, "then": {"literal": ""}},
                  "event_type"]},
        {"literal": "none"}]}}],
    "sort": ["event_id"],
    "limit": 300}"""

  /** jx default domain with a cardinality cap: top-3 event types keep
    * their identity, the tail collapses into "other", the null part stays
    * reserved for rows with a missing edge value (count 0 here — the
    * events table has no null event_type). */
  private val edgesTopnJson = """{
    "from": "events",
    "edges": [{"name": "part", "value": "event_type",
               "domain": {"type": "default", "limit": 3}}],
    "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    "sort": ["part"]}"""

  /** The math-family sweep: mod/sqrt/log/power/sign/round plus the
    * anchored regex predicate, all through the compiler. Transcendental
    * results round to 3 decimals — libm implementations differ in the
    * last ulp across engines; sqrt is IEEE-exact but keeps the same
    * shape for uniformity. */
  private val mathJson = """{
    "from": "events",
    "where": {"regex": ["event_type", {"literal": "(click|view)"}]},
    "select": [
      {"name": "event_id", "value": "event_id"},
      {"name": "m7", "value": {"mod": ["user_id", 7]}},
      {"name": "rt", "value": {"round": [{"sqrt": "value"}, 3]}},
      {"name": "lg", "value": {"round": [{"log": {"add": ["value", {"literal": 1}]}}, 3]}},
      {"name": "pw", "value": {"round": [{"power": ["value", {"literal": 0.5}]}, 3]}},
      {"name": "sg", "value": {"sign": {"sub": ["value", 50]}}}],
    "sort": ["event_id"],
    "limit": 300}"""

  /** Nested FROM — a jx query as the `from` of another (upstream:
    * jx_base/query.py accepts a QueryOp in from-position): the inner
    * query aggregates per user, the outer filters and re-aggregates the
    * aggregate. One composed Catalyst plan, no materialization between. */
  private val nestedFromJson = """{
    "from": {
      "from": "events",
      "groupby": ["user_id"],
      "select": [
        {"name": "n_ev", "value": ".", "aggregate": "count"},
        {"name": "max_value", "value": "value", "aggregate": "max"}]},
    "where": {"gte": ["n_ev", 50]},
    "select": [
      {"name": "n_users", "value": ".", "aggregate": "count"},
      {"name": "sum_ev", "value": "n_ev", "aggregate": "sum"},
      {"name": "max_of_max", "value": "max_value", "aggregate": "max"}]}"""

  /** Parameterized percentile aggregate through the compiler. Percentile
    * points chosen bit-stable WITHOUT a rounding wrapper (jx has no round
    * op): 0.5/0.75 are exact binary fractions and l_quantity is
    * integer-valued, so the linear interpolation a + (b−a)·f is exact in
    * both engines regardless of each one's formula. */
  private val percentileJson = """{
    "from": "lineitem",
    "groupby": ["l_returnflag"],
    "select": [
      {"name": "p50", "value": "l_quantity", "aggregate": "percentile", "percentile": 0.5},
      {"name": "p75", "value": "l_quantity", "aggregate": "percentile", "percentile": 0.75},
      {"name": "n", "value": ".", "aggregate": "count"}],
    "sort": ["l_returnflag"]}"""

  /** The reference's `meta.columns` endpoint (upstream: ActiveData
    * exposes cluster schema metadata as a queryable table —
    * jx_elasticsearch/meta.py): column name/type/nullability of a table,
    * itself queryable. Schema introspection is driver metadata by
    * nature (the reference reads it from the ES mapping, we read it from
    * the DataFrame schema) — no data pass happens. Spark's
    * timestamp_ntz normalizes to the engine-neutral "timestamp". */
  val jxMetaColumns: Q = (s, d) => {
    import s.implicits._
    t(s, d, "lineitem").schema.fields.toSeq
      .map { f =>
        val dt = f.dataType.simpleString match {
          case "timestamp_ntz" => "timestamp"
          case other => other
        }
        (f.name, dt, f.nullable)
      }
      .toDF("name", "dtype", "nullable")
      .orderBy("name")
  }

  /** Sketch aggregates through the query language (SURVEY §7.7 idea (a)):
    * one jx query asks for the HLL cardinality, the t-digest median, and
    * the per-group Bloom filter alongside their exact twins. The driver
    * row gates DECISIONS, not sketch bytes (the dedup_bloom_gate pattern):
    * HLL within 5% of exact, t-digest p50 within max(5% rel, 0.5 abs) of
    * the exact median, each group's Bloom filter hits a known member
    * (min user_id) and stays clean on a key far outside the id domain. */
  private val sketchJson = """{
    "from": "events",
    "groupby": ["event_type"],
    "select": [
      {"name": "n", "value": ".", "aggregate": "count"},
      {"name": "n_users", "value": "user_id", "aggregate": "cardinality"},
      {"name": "n_users_hll", "value": "user_id", "aggregate": "cardinality_hll"},
      {"name": "p50", "value": "value", "aggregate": "median"},
      {"name": "p50_td", "value": "value", "aggregate": "percentile_tdigest",
       "percentile": 0.5},
      {"name": "min_user", "value": "user_id", "aggregate": "min"},
      {"name": "bf", "value": "user_id", "aggregate": "bloom", "bits": 8388608}],
    "sort": ["event_type"]}"""

  /** The composed hygiene pipeline reached THROUGH the query language —
    * corpus/benchmark split expressed as jx sub-queries, knobs at the
    * library defaults, tail sort+limit identical to pipeline_corpus. The
    * oracle is pipeline_corpus's full-replay SQL verbatim: the jx front
    * end must compile to the exact same decision set as the Column API. */
  private val pipelineJson = """{
    "pipeline": {
      "corpus": {"from": "documents", "where": {"gte": ["doc_id", 10]}},
      "benchmark": {"from": "documents", "where": {"lt": ["doc_id", 10]}}},
    "sort": ["doc_id"],
    "limit": 300}"""

  private val pipelineEnsembleJson = """{
    "pipeline": {
      "ensemble": true,
      "corpus": {"from": "documents", "where": {"gte": ["doc_id", 10]}},
      "benchmark": {"from": "documents", "where": {"lt": ["doc_id", 10]}}},
    "sort": ["doc_id"],
    "limit": 300}"""

  private val pipelineRulesJson = """{
    "pipeline": {
      "rules": true,
      "corpus": {"from": "documents", "where": {"gte": ["doc_id", 10]}},
      "benchmark": {"from": "documents", "where": {"lt": ["doc_id", 10]}}},
    "sort": ["doc_id"],
    "limit": 300}"""

  private val pipelineTieredJson = """{
    "pipeline": {
      "tiered": true,
      "corpus": {"from": "documents", "where": {"gte": ["doc_id", 10]}},
      "benchmark": {"from": "documents", "where": {"lt": ["doc_id", 10]}}},
    "sort": ["doc_id"],
    "limit": 300}"""

  private val releaseJson = """{
    "pipeline": {
      "release": true,
      "corpus": {"from": "documents", "where": {"gte": ["doc_id", 10]}},
      "benchmark": {"from": "documents", "where": {"lt": ["doc_id", 10]}}}}"""

  private val orderJson = """{
    "pipeline": {
      "order": true,
      "corpus": {"from": "documents", "where": {"gte": ["doc_id", 10]}},
      "benchmark": {"from": "documents", "where": {"lt": ["doc_id", 10]}}}}"""

  private val qualityGateJson = """{
    "corpus_op": {"op": "quality_gate", "corpus": {"from": "documents"}}}"""

  private val sourceKlJson = """{
    "corpus_op": {"op": "source_kl", "corpus": {"from": "documents"}}}"""

  private val mixScheduleJson = """{
    "corpus_op": {"op": "mix_schedule", "corpus": {"from": "documents"}}}"""

  private val trainOrderJson = """{
    "corpus_op": {"op": "train_order", "corpus": {"from": "documents"}}}"""

  private val orderAuditJson = """{
    "corpus_op": {"op": "order_audit", "corpus": {"from": "documents"}}}"""

  private val epochBudgetJson = """{
    "corpus_op": {"op": "epoch_budget", "corpus": {"from": "documents"}}}"""

  private val packTuningJson = """{
    "corpus_op": {"op": "pack_tuning", "corpus": {"from": "documents"}}}"""

  private val payloadTuningJson = """{
    "corpus_op": {"op": "payload_pack_tuning", "corpus": {"from": "documents"}}}"""

  private val pplBucketsJson = """{
    "corpus_op": {"op": "ppl_buckets", "corpus": {"from": "documents"}}}"""

  private val qualityCalibrationJson = """{
    "corpus_op": {"op": "quality_calibration", "corpus": {"from": "documents"}}}"""

  private val curriculumOrderJson = """{
    "corpus_op": {"op": "curriculum_order", "corpus": {"from": "documents"}}}"""

  private val annealOrderJson = """{
    "corpus_op": {"op": "anneal_order", "corpus": {"from": "documents"}}}"""

  private val payloadPackJson = """{
    "corpus_op": {"op": "payload_pack", "corpus": {"from": "documents"}}}"""

  private val payloadManifestJson = """{
    "corpus_op": {"op": "payload_pack_manifest", "corpus": {"from": "documents"}}}"""

  private val annealJson = """{
    "corpus_op": {"op": "anneal_schedule", "corpus": {"from": "documents"}}}"""

  private val datasetCardJson = """{
    "corpus_op": {"op": "dataset_card", "corpus": {"from": "documents"}}}"""

  private val sq8Json = """{
    "corpus_op": {"op": "sq8", "corpus": {"from": "embeddings"}}}"""

  private val qualityEnsembleJson = """{
    "corpus_op": {"op": "quality_ensemble", "corpus": {"from": "documents"}}}"""

  private val noveltyJson = """{
    "corpus_op": {"op": "novelty", "corpus": {"from": "documents"}}}"""

  private val ruleFilterJson = """{
    "corpus_op": {"op": "rule_filter", "corpus": {"from": "documents"}}}"""

  private val ruleProfileJson = """{
    "corpus_op": {"op": "rule_profile", "corpus": {"from": "documents"}}}"""

  private val lineDedupJson = """{
    "corpus_op": {"op": "line_dedup", "corpus": {"from": "documents"}}}"""

  private val secretScanJson = """{
    "corpus_op": {"op": "secret_scan", "corpus": {"from": "documents"}}}"""

  private val reweightJson = """{
    "corpus_op": {"op": "reweight", "corpus": {"from": "documents"}}}"""

  private val splitStratifiedJson = """{
    "corpus_op": {"op": "split_stratified", "corpus": {"from": "documents"}}}"""

  private val invertedIndexJson = """{
    "corpus_op": {"op": "inverted_index", "corpus": {"from": "documents"}}}"""

  private val bm25Json = """{
    "corpus_op": {"op": "bm25", "corpus": {"from": "documents"}}}"""

  private val chunksJson = """{
    "corpus_op": {"op": "chunks", "corpus": {"from": "documents"}}}"""

  private val funnelJson = """{
    "corpus_op": {"op": "funnel", "corpus": {"from": "events"}}}"""

  private val sessionsJson = """{
    "corpus_op": {"op": "sessions", "corpus": {"from": "events"}}}"""

  private val transitionsJson = """{
    "corpus_op": {"op": "transitions", "corpus": {"from": "events"}}}"""

  private val zorderJson = """{
    "corpus_op": {"op": "zorder", "corpus": {"from": "events"}}}"""

  private val hybridJson = """{
    "corpus_op": {"op": "hybrid_search", "corpus": {"from": "documents"}}}"""

  private val hygieneReportJson = """{
    "corpus_op": {"op": "hygiene_report", "corpus": {"from": "documents"}}}"""

  private val forgetPairsJson = """{
    "corpus_op": {"op": "forget_pairs", "corpus": {"from": "documents"}}}"""

  private val forgetClustersJson = """{
    "corpus_op": {"op": "forget_clusters", "corpus": {"from": "documents"}}}"""

  private val forgetIvfJson = """{
    "corpus_op": {"op": "forget_ivf", "corpus": {"from": "embeddings"}}}"""

  private val forgetDictJson = """{
    "corpus_op": {"op": "forget_dict", "corpus": {"from": "documents"}}}"""

  private val forgetPayloadJson = """{
    "corpus_op": {"op": "forget_payload", "corpus": {"from": "documents"}}}"""

  private val forgetKnnJson = """{
    "corpus_op": {"op": "forget_knn", "corpus": {"from": "embeddings"}}}"""

  private val forgetCanonicalJson = """{
    "corpus_op": {"op": "forget_canonical", "corpus": {"from": "documents"}}}"""

  private val forgetManifestJson = """{
    "corpus_op": {"op": "forget_manifest", "corpus": {"from": "documents"}}}"""

  private val forgetNoveltyJson = """{
    "corpus_op": {"op": "forget_novelty", "corpus": {"from": "documents"}}}"""

  private val forgetSq8Json = """{
    "corpus_op": {"op": "forget_sq8", "corpus": {"from": "embeddings"}}}"""

  private val forgetLinesJson = """{
    "corpus_op": {"op": "forget_lines", "corpus": {"from": "documents"}}}"""

  private val forgetSketchJson = """{
    "corpus_op": {"op": "forget_sketch", "corpus": {"from": "events"}}}"""

  private val forgetAuditJson = """{
    "corpus_op": {"op": "forget_audit", "corpus": {"from": "documents"}}}"""

  private val forgetReleaseJson = """{
    "pipeline": {
      "release": true, "forget": true,
      "corpus": {"from": "documents", "where": {"gte": ["doc_id", 10]}},
      "benchmark": {"from": "documents", "where": {"lt": ["doc_id", 10]}}}}"""

  private val modeJson = """{
    "from": "lineitem",
    "groupby": ["l_returnflag"],
    "select": [
      {"name": "mode_linenumber", "value": "l_linenumber", "aggregate": "mode"},
      {"name": "n", "value": ".", "aggregate": "count"}],
    "sort": ["l_returnflag"]}"""

  private val softSampleJson = """{
    "corpus_op": {"op": "soft_sample", "corpus": {"from": "documents"}}}"""

  private val thresholdTuningJson = """{
    "corpus_op": {"op": "threshold_tuning", "corpus": {"from": "documents"}}}"""

  private val noveltyCurveJson = """{
    "corpus_op": {"op": "novelty_curve", "corpus": {"from": "documents"}}}"""

  private val qualityClassifierJson = """{
    "corpus_op": {"op": "quality_classifier", "corpus": {"from": "documents"}}}"""

  private val noveltySourcesJson = """{
    "corpus_op": {"op": "novelty_sources", "corpus": {"from": "documents"}}}"""

  private val splitLeakfreeJson = """{
    "corpus_op": {"op": "split_leakfree", "corpus": {"from": "documents"}}}"""

  private val fertilityJson = """{
    "corpus_op": {"op": "fertility", "corpus": {"from": "documents"}}}"""

  private val knnJoinJson = """{
    "corpus_op": {"op": "knn_join", "corpus": {"from": "embeddings"}}}"""

  private val probeTuningJson = """{
    "corpus_op": {"op": "probe_tuning", "corpus": {"from": "embeddings"}}}"""

  private val payloadQualityJson = """{
    "corpus_op": {"op": "payload_quality", "corpus": {"from": "documents"}}}"""

  private val payloadDedupJson = """{
    "corpus_op": {"op": "payload_dedup", "corpus": {"from": "documents"}}}"""

  private val payloadSemanticDedupJson = """{
    "corpus_op": {"op": "payload_semantic_dedup", "corpus": {"from": "documents"}}}"""

  private val payloadKnnJson = """{
    "corpus_op": {"op": "payload_knn", "corpus": {"from": "documents"}}}"""

  private val payloadAlignJson = """{
    "corpus_op": {"op": "payload_align", "corpus": {"from": "documents"}}}"""

  private val payloadSemanticDeconJson = """{
    "corpus_op": {"op": "payload_semantic_decon", "corpus": {"from": "documents"}}}"""

  private val payloadDeconReportJson = """{
    "corpus_op": {"op": "payload_decon_report", "corpus": {"from": "documents"}}}"""

  private val semanticDedupJson = """{
    "corpus_op": {"op": "semantic_dedup", "corpus": {"from": "embeddings"}}}"""

  private val semanticDeconJson = """{
    "corpus_op": {"op": "semantic_decon", "corpus": {"from": "embeddings"}}}"""

  private val deconReportJson = """{
    "corpus_op": {"op": "decon_report", "corpus": {"from": "embeddings"}}}"""

  private val deconRecallJson = """{
    "corpus_op": {"op": "decon_recall", "corpus": {"from": "embeddings"}}}"""

  private val dedupProfileJson = """{
    "corpus_op": {"op": "dedup_profile", "corpus": {"from": "documents"}}}"""

  private val overlapJson = """{
    "corpus_op": {"op": "overlap", "corpus": {"from": "documents"}}}"""

  private val dsirJson = """{
    "corpus_op": {"op": "dsir", "corpus": {"from": "documents"},
                  "target_lang": "en", "buckets": 128}}"""

  private val shardManifestJson = """{
    "corpus_op": {"op": "shard_manifest", "corpus": {"from": "documents"},
                  "shards": 16}}"""

  private val knnDiverseJson = """{
    "corpus_op": {"op": "knn_diverse", "corpus": {"from": "embeddings"},
                  "m": 2, "nlist": 16, "k": 3}}"""

  private val knnClustersJson = """{
    "corpus_op": {"op": "knn_clusters", "corpus": {"from": "embeddings"}}}"""

  private val knnStatsJson = """{
    "corpus_op": {"op": "knn_stats", "corpus": {"from": "embeddings"}}}"""

  private val packManifestJson = """{
    "corpus_op": {"op": "pack_manifest", "corpus": {"from": "documents"},
                  "context": 2048, "shards": 8}}"""

  private val knnRecallJson = """{
    "corpus_op": {"op": "knn_recall", "corpus": {"from": "embeddings"}}}"""

  private val quantizerRefreshJson = """{
    "corpus_op": {"op": "quantizer_refresh", "corpus": {"from": "embeddings"}}}"""

  private val ivfDeltaJson = """{
    "corpus_op": {"op": "ivf_delta", "corpus": {"from": "embeddings"}}}"""

  private val canonicalJson = """{
    "corpus_op": {"op": "canonical", "corpus": {"from": "documents"}}}"""

  private val knnCentralityJson = """{
    "corpus_op": {"op": "knn_centrality", "corpus": {"from": "embeddings"}}}"""

  private val knnCoresetJson = """{
    "corpus_op": {"op": "knn_coreset", "corpus": {"from": "embeddings"},
                  "m": 2}}"""

  private val qualityMonitorJson = """{
    "corpus_op": {"op": "quality_monitor", "corpus": {"from": "documents"}}}"""

  private val curationReportJson = """{
    "corpus_op": {"op": "curation_report", "corpus": {"from": "documents"}}}"""

  private val pairsDeltaJson = """{
    "corpus_op": {"op": "pairs_delta", "corpus": {"from": "documents"}}}"""

  private val pairCentralityJson = """{
    "corpus_op": {"op": "pair_centrality", "corpus": {"from": "documents"}}}"""

  private val topicMixJson = """{
    "corpus_op": {"op": "topic_mix", "corpus": {"from": "documents"}}}"""

  private val jxSketch: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val res = Jx.run(s, sketchJson, name => t(s, d, name))
    res.select(
      col("event_type"), col("n"), col("n_users"),
      round(col("p50"), 2).as("p50"),
      (abs(col("n_users_hll") - col("n_users"))
        <= col("n_users") * lit(0.05)).as("hll_ok"),
      (abs(col("p50_td") - col("p50"))
        <= greatest(abs(col("p50")) * lit(0.05), lit(0.5))).as("td_ok"),
      graft.functions.BloomProbeRow(col("bf"), col("min_user"))
        .as("bloom_member"),
      graft.functions.BloomProbeRow(col("bf"), lit(10000043L))
        .as("bloom_fp"))
      .orderBy("event_type")
  }

  /** A key whose result is the jx query `json` over the standard tables;
    * `withDataset` also hands [[Jx.run]] the dataset dir, so corpus ops
    * may read their stored twins. */
  private def jx(json: String, withDataset: Boolean = false): Q =
    (s, d) => Jx.run(s, json, name => t(s, d, name), Some(d).filter(_ => withDataset))

  val queries: Map[String, Q] = Map(
    "jx_sketch" -> jxSketch,
    "jx_meta_columns" -> jxMetaColumns,
    "jx_ops_expr" -> jx(opsExprJson),
    "jx_percentile" -> jx(percentileJson),
    "jx_nested_from" -> jx(nestedFromJson),
    "jx_math" -> jx(mathJson),
    "jx_edges_topn" -> jx(edgesTopnJson),
    "jx_edges_expr" -> jx(edgesExprJson),
    "jx_select_expr" -> jx(selectExprJson),
    "jx_deepfrom" -> ((s, d) => {
      val nested = t(s, d, "events").groupBy("user_id")
        .agg(org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct("event_id", "event_type", "value")).as("evs"))
      Jx.run(s, deepJson, { case "sessions" => nested })
    }),
    "jx_global" -> jx(globalJson),
    "jx_groupby" -> jx(groupbyJson),
    "jx_edges" -> jx(edgesJson),
    "jx_range" -> jx(rangeJson),
    "jx_duration" -> jx(durationJson),
    "jx_window" -> jx(windowJson),
    "jx_window_edges" -> jx(windowEdgesJson),
    "jx_pipeline" -> jx(pipelineJson),
    "jx_release" -> jx(releaseJson, withDataset = true),
    "jx_order" -> jx(orderJson, withDataset = true),
    "jx_pipeline_ensemble" -> jx(pipelineEnsembleJson),
    "jx_pipeline_tiered" -> jx(pipelineTieredJson),
    "jx_pipeline_rules" -> jx(pipelineRulesJson),
    "jx_quality_gate" -> jx(qualityGateJson),
    "jx_payload_quality" -> jx(payloadQualityJson),
    "jx_payload_dedup" -> jx(payloadDedupJson, withDataset = true),
    "jx_payload_semantic_dedup" -> jx(payloadSemanticDedupJson, withDataset = true),
    "jx_payload_knn" -> jx(payloadKnnJson, withDataset = true),
    "jx_payload_align" -> jx(payloadAlignJson, withDataset = true),
    "jx_payload_semantic_decon" -> jx(payloadSemanticDeconJson, withDataset = true),
    "jx_payload_decon_report" -> jx(payloadDeconReportJson, withDataset = true),
    "jx_source_kl" -> jx(sourceKlJson),
    "jx_mix_schedule" -> jx(mixScheduleJson),
    "jx_train_order" -> jx(trainOrderJson),
    "jx_order_audit" -> jx(orderAuditJson),
    "jx_epoch_budget" -> jx(epochBudgetJson),
    "jx_pack_tuning" -> jx(packTuningJson),
    "jx_payload_tuning" -> jx(payloadTuningJson),
    "jx_ppl_buckets" -> jx(pplBucketsJson, withDataset = true),
    "jx_quality_calibration" -> jx(qualityCalibrationJson),
    "jx_anneal_order" -> jx(annealOrderJson),
    "jx_curriculum_order" -> jx(curriculumOrderJson),
    "jx_payload_pack" -> jx(payloadPackJson),
    "jx_payload_manifest" -> jx(payloadManifestJson),
    // dataset-backed: the anneal plan probes the quality + classifier
    // monitors (no corpus scan) — gated by the full corpus-scan oracle,
    // so store == recompute is proven per-row
    "jx_anneal" -> jx(annealJson, withDataset = true),
    "jx_dataset_card" -> jx(datasetCardJson, withDataset = true),
    "jx_quality_ensemble" -> jx(qualityEnsembleJson),
    "jx_sq8" -> jx(sq8Json, withDataset = true),
    "jx_novelty" -> jx(noveltyJson),
    "jx_rule_filter" -> jx(ruleFilterJson),
    "jx_rule_profile" -> jx(ruleProfileJson),
    "jx_line_dedup" -> jx(lineDedupJson),
    "jx_secret_scan" -> jx(secretScanJson),
    "jx_inverted_index" -> jx(invertedIndexJson),
    "jx_bm25" -> jx(bm25Json),
    "jx_chunks" -> jx(chunksJson),
    "jx_funnel" -> jx(funnelJson),
    "jx_sessions" -> jx(sessionsJson),
    "jx_transitions" -> jx(transitionsJson),
    "jx_zorder" -> jx(zorderJson),
    "jx_forget_pairs" -> jx(forgetPairsJson, withDataset = true),
    "jx_forget_clusters" -> jx(forgetClustersJson, withDataset = true),
    "jx_forget_ivf" -> jx(forgetIvfJson, withDataset = true),
    "jx_forget_dict" -> jx(forgetDictJson, withDataset = true),
    "jx_forget_payload" -> jx(forgetPayloadJson, withDataset = true),
    "jx_forget_knn" -> jx(forgetKnnJson, withDataset = true),
    "jx_forget_canonical" -> jx(forgetCanonicalJson, withDataset = true),
    "jx_forget_manifest" -> jx(forgetManifestJson, withDataset = true),
    "jx_forget_novelty" -> jx(forgetNoveltyJson, withDataset = true),
    "jx_forget_sq8" -> jx(forgetSq8Json, withDataset = true),
    "jx_forget_release" -> jx(forgetReleaseJson, withDataset = true),
    "jx_forget_lines" -> jx(forgetLinesJson, withDataset = true),
    "jx_forget_sketch" -> jx(forgetSketchJson, withDataset = true),
    "jx_forget_audit" -> jx(forgetAuditJson, withDataset = true),
    "jx_hybrid" -> jx(hybridJson),
    "jx_reweight" -> jx(reweightJson),
    "jx_split_stratified" -> jx(splitStratifiedJson),
    "jx_threshold_tuning" -> jx(thresholdTuningJson),
    "jx_soft_sample" -> jx(softSampleJson),
    "jx_mode" -> jx(modeJson),
    "jx_hygiene_report" -> jx(hygieneReportJson),
    "jx_novelty_curve" -> jx(noveltyCurveJson),
    "jx_quality_classifier" -> jx(qualityClassifierJson),
    "jx_novelty_sources" -> jx(noveltySourcesJson),
    "jx_split_leakfree" -> jx(splitLeakfreeJson, withDataset = true),
    "jx_fertility" -> jx(fertilityJson, withDataset = true),
    "jx_knn_join" -> jx(knnJoinJson, withDataset = true),
    "jx_probe_tuning" -> jx(probeTuningJson, withDataset = true),
    "jx_semantic_dedup" -> jx(semanticDedupJson, withDataset = true),
    "jx_semantic_decon" -> jx(semanticDeconJson, withDataset = true),
    "jx_decon_report" -> jx(deconReportJson, withDataset = true),
    "jx_dedup_profile" -> jx(dedupProfileJson, withDataset = true),
    "jx_decon_recall" -> jx(deconRecallJson, withDataset = true),
    "jx_overlap" -> jx(overlapJson),
    "jx_dsir" -> jx(dsirJson),
    "jx_shard_manifest" -> jx(shardManifestJson),
    "jx_knn_diverse" -> jx(knnDiverseJson, withDataset = true),
    "jx_knn_clusters" -> jx(knnClustersJson, withDataset = true),
    "jx_knn_stats" -> jx(knnStatsJson, withDataset = true),
    "jx_pack_manifest" -> jx(packManifestJson),
    "jx_knn_recall" -> jx(knnRecallJson, withDataset = true),
    "jx_quantizer_refresh" -> jx(quantizerRefreshJson, withDataset = true),
    "jx_ivf_delta" -> jx(ivfDeltaJson),
    "jx_canonical" -> jx(canonicalJson, withDataset = true),
    "jx_topic_mix" -> jx(topicMixJson, withDataset = true),
    "jx_knn_centrality" -> jx(knnCentralityJson, withDataset = true),
    "jx_knn_coreset" -> jx(knnCoresetJson, withDataset = true),
    "jx_quality_monitor" -> jx(qualityMonitorJson, withDataset = true),
    "jx_curation_report" -> jx(curationReportJson, withDataset = true),
    "jx_pairs_delta" -> jx(pairsDeltaJson),
    "jx_pair_centrality" -> jx(pairCentralityJson, withDataset = true))

  val oracle: Map[String, String] = Map(
    // the jx front end must land on the Column API's exact decision set,
    // so the oracle is pipeline_corpus's full-replay SQL verbatim
    "jx_pipeline" -> graft.llm.Pipeline.oracle("pipeline_corpus"),
    "jx_pipeline_ensemble" ->
      graft.llm.Pipeline.oracle("pipeline_corpus_ensemble"),
    "jx_pipeline_tiered" ->
      graft.llm.Pipeline.oracle("pipeline_corpus_tiered"),
    "jx_pipeline_rules" ->
      graft.llm.Pipeline.oracle("pipeline_corpus_rules"),
    "jx_release" -> graft.llm.Pipeline.oracle("pipeline_corpus_release"),
    "jx_order" -> graft.llm.Pipeline.oracle("pipeline_corpus_order"),
    // same single-surface contract for the corpus ops: the jx front end
    // must land on the Column API's exact decision set
    "jx_quality_gate" -> graft.llm.TextOps.oracle("text_quality_filter"),
    "jx_payload_quality" -> graft.llm.Multimodal.oracle("mm_quality"),
    "jx_payload_dedup" -> graft.llm.Multimodal.oracle("mm_dedup"),
    "jx_payload_semantic_dedup" -> graft.llm.Multimodal.oracle("mm_semantic_dedup"),
    "jx_payload_knn" -> graft.llm.Multimodal.oracle("mm_knn"),
    "jx_payload_align" -> graft.llm.Multimodal.oracle("mm_text_align"),
    "jx_payload_semantic_decon" -> graft.llm.Multimodal.oracle("mm_semantic_decon"),
    "jx_payload_decon_report" -> graft.llm.Multimodal.oracle("mm_decon_report"),
    "jx_source_kl" -> graft.llm.TextOps.oracle("text_source_kl"),
    "jx_mix_schedule" -> graft.llm.TextOps.oracle("text_mix_schedule"),
    "jx_train_order" -> graft.llm.TextOps.oracle("text_train_order"),
    "jx_order_audit" -> graft.llm.TextOps.oracle("text_order_audit"),
    "jx_epoch_budget" -> graft.llm.TextOps.oracle("text_epoch_budget"),
    "jx_pack_tuning" -> graft.llm.TextOps.oracle("text_pack_tuning"),
    "jx_payload_tuning" -> graft.llm.Multimodal.oracle("mm_pack_tuning"),
    "jx_ppl_buckets" -> graft.llm.TextOps.oracle("text_ppl_buckets"),
    "jx_quality_calibration" ->
      graft.llm.TextOps.oracle("text_quality_calibration"),
    "jx_anneal_order" -> graft.llm.TextOps.oracle("text_anneal_order"),
    "jx_curriculum_order" -> graft.llm.TextOps.oracle("text_curriculum_order"),
    "jx_payload_pack" -> graft.llm.Multimodal.oracle("mm_pack"),
    "jx_payload_manifest" -> graft.llm.Multimodal.oracle("mm_pack_manifest"),
    "jx_anneal" -> graft.llm.TextOps.oracle("text_anneal_schedule"),
    "jx_dataset_card" -> graft.llm.TextOps.oracle("text_dataset_card"),
    "jx_quality_ensemble" -> graft.llm.TextOps.oracle("text_quality_ensemble"),
    "jx_sq8" -> graft.llm.Similarity.oracle("sim_sq8"),
    "jx_novelty" -> graft.llm.TextOps.oracle("text_ngram_novelty"),
    "jx_rule_filter" -> graft.llm.TextOps.oracle("text_rule_filter"),
    "jx_rule_profile" -> graft.llm.TextOps.oracle("text_rule_profile"),
    "jx_line_dedup" -> graft.llm.TextOps.oracle("text_line_dedup"),
    "jx_secret_scan" -> graft.llm.TextOps.oracle("text_secret_scan"),
    "jx_inverted_index" -> graft.llm.TextOps.oracle("text_inverted_index"),
    "jx_bm25" -> graft.llm.TextOps.oracle("text_bm25_topk"),
    "jx_chunks" -> graft.llm.TextOps.oracle("text_chunk_overlap"),
    "jx_funnel" -> graft.etl.Transforms.oracle("etl_funnel"),
    "jx_sessions" -> graft.etl.Transforms.oracle("etl_sessions"),
    "jx_transitions" -> graft.etl.Transforms.oracle("etl_transitions"),
    "jx_zorder" -> graft.etl.Transforms.oracle("etl_zorder"),
    "jx_forget_pairs" -> graft.llm.Forget.oracle("dedup_forget_pairs"),
    "jx_forget_clusters" -> graft.llm.Forget.oracle("dedup_forget_clusters"),
    "jx_forget_ivf" -> graft.llm.Forget.oracle("sim_forget_ivf"),
    "jx_forget_dict" -> graft.llm.Forget.oracle("text_forget_dict"),
    "jx_forget_payload" -> graft.llm.Forget.oracle("mm_forget_pairs"),
    "jx_forget_knn" -> graft.llm.Forget.oracle("sim_forget_knn"),
    "jx_forget_canonical" -> graft.llm.Forget.oracle("dedup_forget_canonical"),
    "jx_forget_manifest" -> graft.llm.Forget.oracle("text_forget_manifest"),
    "jx_forget_novelty" -> graft.llm.Forget.oracle("text_forget_novelty"),
    "jx_forget_sq8" -> graft.llm.Forget.oracle("sim_forget_sq8"),
    "jx_forget_release" -> graft.llm.Forget.oracle("pipeline_forget_release"),
    "jx_forget_lines" -> graft.llm.Forget.oracle("text_forget_lines"),
    "jx_forget_sketch" -> graft.llm.Forget.oracle("agg_forget_sketch"),
    "jx_forget_audit" -> graft.llm.Forget.oracle("etl_forget_audit"),
    "jx_hybrid" -> graft.llm.Similarity.oracle("sim_hybrid_search"),
    "jx_reweight" -> graft.llm.Dedup.oracle("dedup_reweight"),
    "jx_split_stratified" -> graft.llm.Dedup.oracle("dedup_split_stratified"),
    "jx_threshold_tuning" -> graft.llm.Dedup.oracle("dedup_threshold_tuning"),
    "jx_soft_sample" -> graft.llm.Dedup.oracle("sample_soft_dedup"),
    "jx_mode" ->
      """WITH mc AS (SELECT l_returnflag, l_linenumber, count(*) AS c
                     FROM lineitem GROUP BY 1, 2),
           mm AS (SELECT l_returnflag, l_linenumber AS mode_linenumber
                  FROM (SELECT *, row_number() OVER (
                          PARTITION BY l_returnflag
                          ORDER BY c DESC, l_linenumber ASC) AS rn FROM mc)
                  WHERE rn = 1),
           nn AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
                  FROM lineitem GROUP BY 1)
         SELECT m.l_returnflag, m.mode_linenumber, n.n
         FROM mm m JOIN nn n USING (l_returnflag)
         ORDER BY l_returnflag""",
    "jx_hygiene_report" -> graft.llm.TextOps.oracle("text_hygiene_report"),
    "jx_novelty_curve" -> graft.llm.TextOps.oracle("text_novelty_curve"),
    "jx_quality_classifier" ->
      graft.llm.TextOps.oracle("text_quality_classifier"),
    "jx_novelty_sources" -> graft.llm.TextOps.oracle("text_novelty_sources"),
    "jx_split_leakfree" -> graft.llm.Dedup.oracle("dedup_split_leakfree"),
    "jx_fertility" -> graft.llm.TextOps.oracle("text_fertility"),
    "jx_knn_join" -> graft.llm.Similarity.oracle("sim_knn_join"),
    "jx_probe_tuning" -> graft.llm.Similarity.oracle("sim_probe_tuning"),
    "jx_semantic_dedup" -> graft.llm.Similarity.oracle("sim_semantic_dedup"),
    "jx_semantic_decon" -> graft.llm.Similarity.oracle("sim_semantic_decon"),
    "jx_decon_report" -> graft.llm.Similarity.oracle("sim_decon_report"),
    "jx_dedup_profile" -> graft.llm.Dedup.oracle("dedup_profile"),
    "jx_decon_recall" -> graft.llm.Similarity.oracle("sim_decon_recall"),
    "jx_overlap" -> graft.llm.Dedup.oracle("dedup_corpus_overlap"),
    "jx_dsir" -> graft.llm.TextOps.oracle("text_dsir"),
    "jx_shard_manifest" -> graft.llm.TextOps.oracle("text_shard_manifest"),
    "jx_knn_diverse" -> graft.llm.Similarity.oracle("sim_knn_diverse"),
    "jx_knn_clusters" -> graft.llm.Similarity.oracle("sim_knn_clusters"),
    "jx_knn_stats" -> graft.llm.Similarity.oracle("sim_knn_stats"),
    "jx_knn_recall" -> graft.llm.Similarity.oracle("sim_knn_recall"),
    "jx_quantizer_refresh" -> graft.llm.Similarity.oracle("sim_quantizer_refresh"),
    "jx_ivf_delta" -> graft.llm.Similarity.oracle("sim_ivf_delta"),
    "jx_pack_manifest" -> graft.llm.TextOps.oracle("text_pack_manifest"),
    "jx_canonical" -> graft.llm.Dedup.oracle("dedup_canonical"),
    "jx_topic_mix" -> graft.llm.Similarity.oracle("text_topic_mix"),
    "jx_knn_centrality" -> graft.llm.Similarity.oracle("sim_knn_centrality"),
    "jx_knn_coreset" -> graft.llm.Similarity.oracle("sim_knn_coreset"),
    "jx_quality_monitor" -> graft.streaming.Streams.oracle("stream_quality_store"),
    "jx_curation_report" -> graft.llm.TextOps.oracle("text_curation_report"),
    "jx_pairs_delta" -> graft.llm.Dedup.oracle("dedup_pairs_delta"),
    "jx_pair_centrality" -> graft.llm.Dedup.oracle("dedup_centrality"),
    "jx_sketch" ->
      """SELECT event_type,
                count(*) AS n,
                count(DISTINCT user_id) AS n_users,
                round(quantile_cont(value, 0.5), 2) AS p50,
                TRUE AS hll_ok,
                TRUE AS td_ok,
                TRUE AS bloom_member,
                FALSE AS bloom_fp
         FROM events GROUP BY event_type ORDER BY event_type""",
    "jx_math" ->
      """SELECT event_id,
                CAST(user_id % 7 AS DOUBLE) AS m7,
                round(sqrt(value), 3) AS rt,
                round(ln(value + 1.0), 3) AS lg,
                round(pow(value, 0.5), 3) AS pw,
                CAST(sign(value - 50.0) AS DOUBLE) AS sg
         FROM events
         WHERE regexp_full_match(event_type, '(click|view)')
         ORDER BY event_id LIMIT 300""",
    "jx_nested_from" ->
      """SELECT count(*) AS n_users, CAST(sum(n_ev) AS BIGINT) AS sum_ev,
                max(max_value) AS max_of_max
         FROM (SELECT user_id, count(*) AS n_ev, max(value) AS max_value
               FROM events GROUP BY user_id)
         WHERE n_ev >= 50""",
    "jx_percentile" ->
      """SELECT l_returnflag,
                percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50,
                percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag NULLS FIRST""",
    "jx_ops_expr" ->
      """SELECT event_id,
                left(event_type, 3) AS l3,
                right(event_type, 3) AS r3,
                substr(event_type, 3) AS nl2,
                left(event_type, greatest(length(event_type) - 2, 0)) AS nr2,
                CAST(CAST(user_id AS VARCHAR) AS DOUBLE) AS uid_rt,
                CAST(floor(value / 2.0) * 2.0 AS BOOLEAN) AS nonzero,
                CAST(CAST(ts AS VARCHAR) AS TIMESTAMP) AS ts_rt,
                value AS tv,
                CASE WHEN value < 20 THEN 'none' ELSE event_type END AS fallback
         FROM events
         WHERE NOT (value < 5)
         ORDER BY event_id LIMIT 300""",
    "jx_edges_topn" ->
      """WITH counts AS (SELECT event_type AS v, count(*) AS cnt FROM events
                         WHERE event_type IS NOT NULL GROUP BY 1),
              top AS (SELECT v FROM (
                        SELECT v, row_number() OVER (ORDER BY cnt DESC, v ASC) AS rk
                        FROM counts) WHERE rk <= 3),
              dom AS (SELECT v AS part FROM top
                      UNION ALL SELECT 'other' UNION ALL SELECT NULL),
              remap AS (SELECT CASE WHEN event_type IS NULL THEN NULL
                                    WHEN event_type IN (SELECT v FROM top) THEN event_type
                                    ELSE 'other' END AS part
                        FROM events),
              sparse AS (SELECT part, count(*) AS cnt FROM remap GROUP BY 1)
         SELECT d.part, coalesce(s.cnt, 0) AS n
         FROM dom d LEFT JOIN sparse s ON d.part IS NOT DISTINCT FROM s.part
         ORDER BY d.part NULLS FIRST""",
    "jx_meta_columns" ->
      """SELECT lower(column_name) AS name,
                CASE lower(column_type) WHEN 'varchar' THEN 'string'
                                        WHEN 'integer' THEN 'int'
                                        ELSE lower(column_type) END AS dtype,
                "null" = 'YES' AS nullable
         FROM (DESCRIBE SELECT * FROM lineitem)
         ORDER BY name""",
    "jx_edges_expr" ->
      """WITH dom AS (SELECT DISTINCT value > 100.0 AS big FROM events
                      UNION SELECT NULL),
              sparse AS (SELECT value > 100.0 AS big, count(*) AS cnt
                         FROM events GROUP BY 1)
         SELECT d.big, coalesce(s.cnt, 0) AS n
         FROM dom d LEFT JOIN sparse s ON d.big IS NOT DISTINCT FROM s.big
         ORDER BY d.big NULLS FIRST""",
    "jx_select_expr" ->
      """SELECT event_id, coalesce(value, 0) + 1.0 AS vplus,
                CASE WHEN value > 100 THEN 'big' ELSE 'small' END AS cat,
                concat_ws(':', event_type, user_id) AS ukey
         FROM events ORDER BY event_id LIMIT 300""",
    "jx_deepfrom" ->
      """SELECT event_type, count(*) AS n, max(value) AS max_value,
                count(DISTINCT event_id) AS n_events
         FROM events GROUP BY event_type
         ORDER BY event_type NULLS FIRST""",
    "jx_global" ->
      """SELECT count(*) AS n, max(l_quantity) AS max_qty,
                count(DISTINCT l_partkey) AS n_parts
         FROM lineitem WHERE l_returnflag = 'A'""",
    "jx_groupby" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(l_linenumber) AS BIGINT) AS sum_line,
                max(l_quantity) AS max_qty
         FROM lineitem WHERE l_quantity >= 30
         GROUP BY 1, 2 ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""",
    "jx_edges" ->
      """WITH dom AS (SELECT DISTINCT event_type FROM events
                      UNION SELECT NULL),
              sparse AS (SELECT event_type, count(*) AS cnt
                         FROM events GROUP BY 1)
         SELECT d.event_type, coalesce(s.cnt, 0) AS n
         FROM dom d LEFT JOIN sparse s ON d.event_type IS NOT DISTINCT FROM s.event_type
         ORDER BY d.event_type NULLS FIRST""",
    "jx_duration" ->
      """WITH domain AS (SELECT CAST(unnest(generate_series(0, 4, 1)) * 100.0 AS DOUBLE) AS dur),
              sparse AS (SELECT floor(value / 100.0) * 100.0 AS dur,
                                count(*) AS cnt, max(value) AS mx
                         FROM events GROUP BY 1)
         SELECT d.dur, coalesce(s.cnt, 0) AS n, s.mx AS max_v
         FROM domain d LEFT JOIN sparse s USING (dur)
         ORDER BY dur NULLS FIRST""",
    "jx_range" ->
      """WITH domain AS (SELECT CAST(unnest(generate_series(0, 9, 1)) * 50.0 AS DOUBLE) AS bucket),
              sparse AS (SELECT floor(value / 50.0) * 50.0 AS bucket, count(*) AS cnt
                         FROM events GROUP BY 1)
         SELECT d.bucket, coalesce(s.cnt, 0) AS n
         FROM domain d LEFT JOIN sparse s USING (bucket)
         ORDER BY bucket NULLS FIRST""",
    "jx_window" ->
      """SELECT event_id, event_type, ts, rn, min3 FROM (
           SELECT event_id, event_type, ts,
                  CAST(row_number() OVER w AS INT) AS rn,
                  min(event_id) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS min3
           FROM events
           WINDOW w AS (PARTITION BY event_type
                        ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST))
         ORDER BY event_type NULLS FIRST, rn NULLS FIRST LIMIT 500""",
    "jx_window_edges" ->
      """SELECT event_id, value, rn, bmax FROM (
           SELECT event_id, value,
                  CAST(row_number() OVER w AS INT) AS rn,
                  max(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS bmax
           FROM events
           WINDOW w AS (PARTITION BY floor(value / 50.0) * 50.0
                        ORDER BY event_id ASC NULLS FIRST))
         ORDER BY event_id NULLS FIRST LIMIT 500""")
}
