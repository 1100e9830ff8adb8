package graft.operators

/** Physical-plan audits: the scale claims each operator's doc makes must
  * be visible in the plan (SURVEY.md §4 — pushdown, pruning, broadcast,
  * top-k, no accidental cartesian products). A regression here is a silent
  * 100×-at-100-TB bug even when results stay correct. */
class PlanAuditSpec extends graft.SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(key: String): String =
    graft.SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString

  test("join_broadcast plans a BroadcastHashJoin, not a shuffle join") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("filter predicates push down to the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.replaceAll("PushedFilters: \\[\\]", "").contains("PushedFilters: []"), p)
  }

  test("projection prunes the scan to selected columns only") {
    val p = plan("project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // project reads a narrow column set from the wide lineitem table
    assert(!read.contains("l_comment") && !read.contains("l_tax"), read)
  }

  test("sort+limit plans the top-k operator (TakeOrderedAndProject)") {
    val p = plan("sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("group-by aggregates partially before the exchange (map-side combine)") {
    val p = plan("agg_groupby")
    val firstExchange = p.indexOf("Exchange")
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0 && firstExchange >= 0, p)
    // plan prints top-down: final agg, exchange, partial agg — a partial
    // HashAggregate must appear BELOW (after) the exchange in the text
    assert(p.indexOf("HashAggregate", firstExchange) > firstExchange, p)
  }

  test("dedup_embed_lsh never plans a cartesian/nested-loop join") {
    val p = plan("dedup_embed_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("the brute-force dedup_embed IS the nested-loop baseline (by design)") {
    val p = plan("dedup_embed")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"), p)
  }

  test("sim_ivf: no cartesian product; candidate search is equi-joined") {
    val p = plan("sim_ivf")
    // the only nested-loop allowed is the deliberate nlist-row centroid
    // broadcast (assignment + Lloyd scoring passes); the
    // probe→inverted-list→query joins must all be equi-joins
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("sim_knn_join: cross-set probe is equi-joined on cid — no cartesian") {
    val p = plan("sim_knn_join")
    // the only nested-loop allowed is the deliberate nlist-row centroid
    // broadcast; the probe→inverted-list→query joins are equi-joins
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("sim_semantic_decon: bench probe is equi-joined on cid — no cartesian") {
    val p = plan("sim_semantic_decon")
    // same contract as sim_knn_join: the only nested-loop allowed is the
    // nlist-row centroid broadcast; probe→inverted-list→bench joins are
    // equi-joins with the bench side broadcast
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("dedup_simhash_mjs: bucket self-join is equi-keyed, never cartesian") {
    val p = plan("dedup_simhash_mjs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hot scalar pipelines run inside WholeStageCodegen (no interpreted gaps)") {
    // the expression-language queries must fuse scan→filter→project into
    // codegen'd stages; a custom expression without doGenCode (or a UDF)
    // would break the span and show up here
    // codegen'd stages print as "*(n) Operator"; AQE-wrapped plans only
    // reveal them once executed (isFinalPlan=true)
    def finalPlan(key: String): String = {
      val df = graft.SparkEntry.queries(key)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    for (key <- Seq("filter_pred", "str_concat", "arith_nullskip", "json_struct",
        "text_rule_filter")) {
      val p = finalPlan(key)
      assert(p.contains("*("), s"$key has no codegen span:\n$p")
      assert(p.linesIterator.exists(l =>
        l.contains("*(") && (l.contains("Filter") || l.contains("Project"))),
        s"$key's filter/project stage is interpreted:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$key fell out of codegen:\n$p")
    }
    // the rule table counts each doc in one codegen'd projection
    val rules = finalPlan("text_rule_filter").linesIterator.filter(_.contains("rule_features"))
      .toSeq
    assert(rules.nonEmpty && rules.forall(_.contains("*(")), rules.mkString("\n"))
    // and the custom expressions advertise codegen: the LSH signature
    // (48 DotProducts) and the sorted-overlap verify must not appear
    // under an interpreted Project
    val lsh = finalPlan("dedup_embed_lsh")
    assert(lsh.linesIterator.exists(l => l.contains("*(") && l.contains("Project")), lsh)
  }

  test("vocabulary joins broadcast by their stored size; the shuffle join scores the same") {
    // the token stream joins a vocabulary-bounded table (a materialized
    // or stored one) with no broadcast hint: the planner broadcasts it by
    // the size the table reports, and with broadcasts disabled the
    // shuffle join gives the identical rows
    def vocabJoins(df: org.apache.spark.sql.DataFrame): Seq[String] =
      (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }).toString.linesIterator.filter(l => l.contains("Join [w#")).toSeq
    for (key <- Seq("text_quality_ensemble", "text_classifier_gate", "text_quality_filter")) {
      val df = graft.SparkEntry.queries(key)(spark, sf)
      val joins = vocabJoins(df)
      assert(joins.nonEmpty && joins.forall(_.contains("BroadcastHashJoin")),
        s"$key:\n${joins.mkString("\n")}")
      val rows = df.collect().toSeq
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val shuffled = graft.SparkEntry.queries(key)(spark, sf)
        val sj = vocabJoins(shuffled)
        assert(sj.nonEmpty && sj.forall(!_.contains("BroadcastHashJoin")),
          s"$key:\n${sj.mkString("\n")}")
        assert(shuffled.collect().toSeq === rows, key)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("text_logfreq / dedup_containment: vocabulary and pair joins stay equi-keyed") {
    for (key <- Seq("text_logfreq", "dedup_containment")) {
      val p = plan(key)
      assert(!p.contains("CartesianProduct"), s"$key:\n$p")
    }
  }

  test("join_range_banded: big-big interval join is equi-keyed, never nested-loop") {
    val p = plan("join_range_banded")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("join_interval: unkeyed interval-overlap join is banded equi-keyed, " +
    "never nested-loop") {
    val p = plan("join_interval")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("jx_sketch: sketch buffers are never keyed per distinct value " +
      "(distinct aggregates split from object-buffer aggregates)") {
    // Spark's RewriteDistinctAggregates would otherwise evaluate the
    // sketch aggregates keyed by (event_type, user_id) — one 8M-bit
    // bloom + HLL + t-digest buffer PER USER (measured 47 s -> 6.7 s at
    // sf0.1 when split). The jx compiler must plan two aggregations
    // joined on the group keys instead.
    val p = plan("jx_sketch")
    val badKeyed = p.linesIterator.exists(l =>
      l.contains("Aggregate") && l.contains("bloom_sketch") &&
        """keys=\[[^\]]*user_id""".r.findFirstIn(l).isDefined)
    assert(!badKeyed, s"sketch aggregate keyed by the distinct column:\n$p")
    assert(p.contains("bloom_sketch") && p.contains("count(distinct"), p)
  }

  test("join_asof_tol keeps the join-free as-of shape (tolerance is a filter)") {
    // assert on the specific physical join node names, not a bare "Join"
    // substring (which an alias or unrelated node name could trip)
    val p = plan("join_asof_tol")
    for (node <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(node), s"$node in:\n$p")
  }

  test("etl_normalize broadcasts the 2000-row mapping dim (fact side never shuffles pre-agg)") {
    val p = plan("etl_normalize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("join_asof is join-free: one per-user window pass, no pair blowup") {
    // the as-of must plan as union → shuffle-on-user → Window; any join
    // node means the quadratic purchase×earlier-signups expansion is back
    // (specific node names, same contract as the tolerance twin)
    val p = plan("join_asof")
    for (node <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin"))
      assert(!p.contains(node), s"$node in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val winLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("user_id"), s"window not partitioned by user_id:\n$p")
  }

  /** Specific physical join node names, not a bare "Join" substring (which
    * an alias or unrelated node name could trip) — same contract as the
    * as-of audits above. */
  private val joinNodes = Seq("SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "CartesianProduct", "BroadcastNestedLoopJoin")

  test("text_redact is a pure scan-stage pipeline: top-k, no join, no pre-agg shuffle") {
    val p = plan("text_redact")
    for (node <- joinNodes) assert(!p.contains(node), s"$node in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dedup_bloom_gate probes as a literal in the scan stage — no join anywhere") {
    val p = plan("dedup_bloom_gate")
    for (node <- joinNodes) assert(!p.contains(node), s"$node in:\n$p")
    assert(p.contains("bloom_might_contain"), p)
  }

  test("etl_anomaly + win_ema are single-shuffle window plans: one exchange on the series key, no join") {
    // Spark may split multi-aggregate windows into stacked Window nodes
    // (derived-input projections), but they share ONE partitioning: the
    // scale contract is a single hash exchange + a single sort, no join.
    for (key <- Seq("etl_anomaly", "win_ema")) {
      val p = plan(key)
      for (node <- joinNodes) assert(!p.contains(node), s"$key: $node in:\n$p")
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"$key: expected ONE hash exchange, got $exchanges:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$key: top-k missing:\n$p")
    }
  }

  test("dedup_online_gate probes the STORED band/set index, never re-shingling the corpus") {
    // build-once/probe-many: the gate's plan must read the persisted
    // artifact tables (bands partitioned by band, sets) — a corpus-side
    // shingle recompute would show up as a SECOND documents scan
    val p = plan("dedup_online_gate")
    assert(p.contains("graft_artifacts"), s"gate does not read the stored index:\n$p")
    // the probe's signatures are materialized (localCheckpoint) before
    // the joins, so the final plan holds NO documents scan at all — any
    // documents FileScan here means either a corpus re-shingle or an
    // unmaterialized probe subtree being re-evaluated by the pushed
    // filter / band broadcast / DPP subquery (3× the probe's real cost)
    val docScans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("documents")).toSeq
    assert(docScans.isEmpty,
      s"documents scanned in the probe plan (index or signatures not reused):\n$p")
  }

  test("sim_hybrid_search: cosine work is |candidates|, not |corpus| — " +
    "codegen'd dot products behind the lexical gate, no cartesian blowup") {
    val p = plan("sim_hybrid_search")
    // the semantic half must ride the custom codegen'd expression
    assert(p.toLowerCase.contains("dot_product"), s"DotProduct missing:\n$p")
    // the only nested-loop joins are the broadcast 1-row frames (query
    // vector + max-score scalar); a CartesianProduct means the candidate
    // gate leaked
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sample_stratified shuffles once, on the stratum key") {
    val p = plan("sample_stratified")
    for (node <- joinNodes) assert(!p.contains(node), s"$node in:\n$p")
    assert(p.contains("hashpartitioning(event_type"), p)
  }

  test("join_skew_salted: build side explodes the salt, join keys carry it") {
    // the whole point of the salted join is the (key, salt) composite —
    // a plan that drops either collapses the hot key back onto one reducer
    val p = plan("join_skew_salted")
    assert(p.contains("explode"), s"build-side salt explode missing:\n$p")
    assert(p.contains("__salt"), s"join does not carry the salt key:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pipeline_corpus: one shared shingle pass, no stage collapses the composition") {
    // the composed plan must consume the MATERIALIZED shingle frame —
    // any conv(substr(md5(...))) in the final plan means a stage quietly
    // re-shingled the corpus (3× the most expensive pass at 100 TB)
    val p = plan("pipeline_corpus")
    assert(!p.contains("conv("), s"shingle recompute in the composed plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the survivor byte pin is the only md5 left in-plan
    assert(p.contains("md5"), p)
  }

  test("pipeline_corpus_ensemble: the gated chain keeps the shared shingle " +
    "pass and adds no cartesian blowup") {
    val p = plan("pipeline_corpus_ensemble")
    assert(!p.contains("conv("), s"shingle recompute in the gated plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the NB vote's vocabulary-bounded model join stays a hash join —
    // since r18 the gate's keep list materializes upstream of the chain
    // (localCheckpoint, so the vote never replays per consumer), so the
    // pin reads the gate's OWN plan, not the final chain plan
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.t(spark, sf, "documents")
    val gate = graft.llm.TextOps.ensembleVotesOf(
      docs.filter(col("doc_id") >= 10).select("doc_id", "source", "text"))
    assert(gate.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      gate.queryExecution.executedPlan.toString)
  }

  test("pipeline_corpus_tiered: the tier-gated chain keeps the shared " +
    "shingle pass and adds no cartesian blowup") {
    val p = plan("pipeline_corpus_tiered")
    assert(!p.contains("conv("), s"shingle recompute in the gated plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the tier window must partition by source — a global ntile here
    // serializes the whole score table through one task
    val winLine = p.linesIterator.find(l =>
      l.contains("ntile")).getOrElse("")
    assert(winLine.isEmpty || winLine.contains("source"),
      s"tier ntile not source-partitioned:\n$winLine")
  }

  test("etl_pipeline composes without collapsing: dim broadcast, no global window") {
    val p = plan("etl_pipeline")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the lineage window must partition by bucket — a global window here
    // serializes every session through one task
    val winLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("bucket"), s"lineage window not bucket-partitioned:\n$p")
  }

  test("join_fuzzy: candidates come from the segment equi-join, never all-pairs") {
    val p = plan("join_fuzzy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the block key (segment index, length, segment text) is a join key
    assert(p.contains("seg"), p)
  }

  test("sim_pq: codebook and ADC table stay broadcast, no cartesian blowup") {
    // PQ's scale contract: per-candidate work is table lookups — the
    // codes⋈table join must broadcast the KB-scale ADC table, never
    // shuffle the codes on it or degrade to a cartesian product
    val p = plan("sim_pq")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_ivfpq: ADC + coarse-dot tables broadcast; candidates only from probed lists") {
    // the composed index's scale contract: the residual ADC table and
    // per-list coarse dots are broadcast-tiny; the only nested-loop is
    // the deliberate nlist-row centroid cross (as in sim_ivf) — the
    // corpus side must reach the ranker through equi-joins alone
    val p = plan("sim_ivfpq")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val centroidCross = "BroadcastExchange IdentityBroadcastMode".r.findAllIn(p).size
    assert(nested <= centroidCross,
      s"non-centroid nested-loop join in the IVF-PQ plan:\n$p")
  }

  test("jx_edges_topn: the top-N remap joins, not a driver-side collect") {
    // the compiled default domain must keep both passes in-plan: a rank
    // over the counts frame and a join-based remap of the fact rows
    val p = plan("jx_edges_topn")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("dedup_canonical: per-cluster argmax is an aggregate, not a " +
    "corpus-wide window") {
    // the pick must partial-aggregate map-side (max over a struct key);
    // a row_number window here would shuffle every clustered doc into
    // per-cluster partitions just to keep rank 1
    val p = plan("dedup_canonical")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_topic_mix: totals broadcast back onto the nlist-row topic " +
    "table — no shuffle grows past the corpus scan") {
    val p = plan("text_topic_mix")
    // the two-row totals frame must come back as a broadcast, and the
    // nested-loop it feeds is that broadcast (1×nlist rows, deliberate)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_pairs_delta: every candidate join is band/bh- or id-keyed " +
    "— no all-pairs anywhere in the incremental chain") {
    val p = plan("dedup_pairs_delta")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the cross step's candidates come from the band equi-join
    assert(p.contains("bh"), p)
  }

  test("text_anneal_schedule: the readout runs off the checkpointed " +
    "|sources|-row frame, and the NB scoring join underneath is hash-keyed") {
    // the schedule itself: scan of the KB checkpoint + broadcast totals —
    // the only nested-loop is the crossJoin(broadcast(totals)) pattern
    val p = plan("text_anneal_schedule")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    // the scoring half (materialized by the localCheckpoint): the
    // vocabulary-bounded model joins on w via BroadcastHashJoin
    val score = graft.llm.TextOps.classifierScoresOf(
      graft.Tables.t(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(score.contains("BroadcastHashJoin"), score)
    assert(!score.contains("CartesianProduct"), score)
  }

  test("text_dataset_card: shingle/model/source joins are all hash-keyed; " +
    "the only nested-loop is the broadcast totals frame") {
    val p = plan("text_dataset_card")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
  }

  test("text_train_order: the schedule join is broadcast and every window " +
    "is partitioned (no single-partition global sort before the limit)") {
    val p = plan("text_train_order")
    // |sources|-row quota frame must come in as a broadcast join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the per-source gate and the per-(epoch, shard) placement windows
    // both carry partition keys — an empty partitionBy would serialize
    // the corpus through one task
    p.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(!l.contains("partitionBy=[]") && !l.contains("[], ["), l)
    }
    // the driver-key cap plans as top-K, not a full global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_anneal_order: two placement passes, both broadcast-joined; " +
    "the classifier model join stays hash-keyed") {
    val p = plan("text_anneal_order")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // anneal quota arithmetic rides the same broadcast pattern as the
    // schedule readout: at most the one blessed nested-loop (totals)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("mm_pack plans from metadata only: no payload bytes in flight, " +
    "per-shard window, top-K cap") {
    val p = plan("mm_pack")
    // the packed coordinates derive from token counts + byte length —
    // the parquet scan must not carry any other wide column
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("lang") && !read.contains("source"), read)
    p.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(!l.contains("partitionBy=[]"), l)
    }
    assert(p.contains("TakeOrderedAndProject"), p)
  }
}
