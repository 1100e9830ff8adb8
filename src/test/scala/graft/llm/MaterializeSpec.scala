package graft.llm

import org.apache.spark.sql.functions._

/** The eager jobs a curation chain runs while it is built, named by the
  * materialization that ran them ([[graft.operators.Common.materialize]]):
  * the list pins how many materializations the chain runs and in which
  * order. */
class MaterializeSpec extends graft.SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  /** Consecutive jobs of one label collapsed to one entry: a
    * materialization runs one job per stage it executes. */
  private def runs(labels: Seq[Option[String]]): Seq[Option[String]] =
    labels.foldLeft(Vector.empty[Option[String]]) { (acc, l) =>
      if (acc.lastOption.contains(l)) acc else acc :+ l }

  /** The label of every job building the rules chain of corpusSurvivors
    * over sf0.01 docs 0–79 runs, in start order. */
  private def rulesChainLabels(): Seq[Option[String]] = {
    val docs = graft.Tables.t(spark, sf, "documents").filter(col("doc_id") < 80)
    jobLabelsDuring {
      Pipeline.corpusSurvivors(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10),
        rulesSources = Some(docs.select("doc_id", "source")))
    }
  }

  test("the rules chain of corpusSurvivors runs its eager jobs under the expected labels") {
    val labels = rulesChainLabels()
    // keep list, the shared shingle pass, the pair list of the cluster
    // labels (then its unlabeled driver fetch), survivors
    assert(runs(labels) === Seq(Some("pipeline.keep_list"), Some("pipeline.shingles"),
      Some("dedup.cc_pairs"), None, Some("pipeline.survivors")), labels)
  }

  test("the cluster labels of the rules chain decide and fetch in one unlabelled job") {
    val labels = rulesChainLabels()
    assert(labels.count(_.isEmpty) === 1, labels)
  }

  test("building and collecting the plain chain runs at most 11 jobs") {
    // one in-row shingle-set pass: no signature groupBy, no collect_list
    // and no bench-id joins behind the pairs, one anti-join for both drop
    // lists, and the survivor md5 in the packing projection (the exploded
    // shingle table ran 21 jobs here)
    val docs = graft.Tables.t(spark, sf, "documents").filter(col("doc_id") < 80)
    val n = jobsDuring {
      Pipeline.corpusHygiene(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10)).collect()
    }
    assert(n <= 11, n)
  }

  test("building and collecting the rules chain runs at most 15 jobs") {
    // the rule gate is one codegen'd projection, and its keep list is a
    // checkpoint sized by what it stored, so both joins on it broadcast
    // at planning time (19 jobs when the keep list carried the join
    // estimate of the gated corpus and its semi join shuffled the text)
    val docs = graft.Tables.t(spark, sf, "documents").filter(col("doc_id") < 80)
    val n = jobsDuring {
      Pipeline.corpusHygiene(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10),
        rulesSources = Some(docs.select("doc_id", "source"))).collect()
    }
    assert(n <= 15, n)
  }

  test("the rules chain's keep-list semi join is a broadcast in the initial plan") {
    // the pre-AQE plan of every materialization the chain runs: the
    // semi join on the keep list broadcasts before any stage has run
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan.toString
        case p => p.toString
      })
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try rulesChainLabels()
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val semi = plans.asScala.toSeq.flatMap(_.linesIterator.filter(_.contains("LeftSemi")))
    assert(semi.nonEmpty, plans)
    assert(semi.forall(_.contains("BroadcastHashJoin")), semi.mkString("\n"))
  }

  /** The label of every job the in-plan route of a kNN-graph corpus_op
    * over the sf0.01 embeddings runs while it is built, in start order. */
  private def inPlanGraphLabels(op: String): Seq[Option[String]] =
    jobLabelsDuring(graft.jx.Jx.run(spark,
      s"""{"corpus_op": {"op": "$op", "corpus": {"from": "embeddings"}, "nlist": 16}}""",
      graft.Tables.t(spark, sf, _)))

  test("an in-plan kNN graph builds only what its readout reads") {
    val recall = inPlanGraphLabels("knn_recall")
    val clusters = inPlanGraphLabels("knn_clusters")
    // recall reads the edges alone: the membership, no CC labeling
    assert(runs(recall) === Seq(Some("sim.knn_membership")), recall)
    // clusters read the labels: the same graph build, then the CC pair
    // list and its unlabelled driver fetch
    assert(runs(clusters) === Seq(Some("sim.knn_membership"), Some("dedup.cc_pairs"), None),
      clusters)
    assert(clusters.take(recall.size) === recall, clusters)
  }

  /** The label of every job the in-plan route of a pair-graph corpus_op
    * over the sf0.01 documents runs while it is built, in start order. */
  private def inPlanPairLabels(op: String): Seq[Option[String]] =
    jobLabelsDuring(graft.jx.Jx.run(spark,
      s"""{"corpus_op": {"op": "$op", "corpus": {"from": "documents"}}}""",
      graft.Tables.t(spark, sf, _)))

  test("an in-plan pair graph labels its components only for a readout over the labels") {
    // centrality and threshold tuning read the pairs alone: the shingle
    // sets, and no CC job
    for (op <- Seq("pair_centrality", "threshold_tuning")) {
      val labels = inPlanPairLabels(op)
      assert(runs(labels).head === Some("dedup.shingle_sets"), s"$op: $labels")
      assert(!labels.flatten.exists(_.startsWith("dedup.cc_")), s"$op: $labels")
    }
    // canonical reads the labels: the same sets, then the CC pair list
    // once and its unlabelled driver fetch
    val canonical = inPlanPairLabels("canonical")
    assert(runs(canonical) === Seq(Some("dedup.shingle_sets"), Some("dedup.cc_pairs"), None),
      canonical)
  }
}
