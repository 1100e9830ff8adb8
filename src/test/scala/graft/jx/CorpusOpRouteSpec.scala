package graft.jx

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The corpus_op store-or-rebuild decision ([[Jx.storedRoute]]), table-
  * driven over every op of [[Jx.corpusOps]]. The decision only reads the
  * spec, so no Spark session is started. */
class CorpusOpRouteSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val ds = Some("/data/sf")

  // every op with a stored twin, by the plain table the twin was built from
  private val twinFrom: Map[String, String] = Seq(
    "documents" -> Seq("payload_dedup", "payload_semantic_dedup", "payload_knn",
      "payload_align", "payload_semantic_decon", "payload_decon_report",
      "mix_schedule", "ppl_buckets", "dataset_card", "anneal_schedule",
      "soft_sample", "threshold_tuning", "reweight", "split_stratified",
      "split_leakfree", "fertility", "curation_report", "dedup_profile",
      "pair_centrality", "quality_monitor", "canonical", "topic_mix",
      "forget_pairs", "forget_clusters", "forget_dict", "forget_payload",
      "forget_canonical", "forget_manifest", "forget_novelty", "forget_lines",
      "forget_audit"),
    "embeddings" -> Seq("knn_join", "probe_tuning", "sq8", "semantic_dedup",
      "decon_recall", "decon_report", "semantic_decon", "knn_diverse",
      "knn_clusters", "knn_stats", "knn_recall", "knn_centrality", "knn_coreset",
      "quantizer_refresh", "forget_ivf", "forget_knn", "forget_sq8"),
    "events" -> Seq("forget_sketch"))
    .flatMap { case (from, ops) => ops.map(_ -> from) }.toMap

  private val knnGraph = Seq("knn_diverse", "knn_clusters", "knn_stats",
    "knn_recall", "knn_centrality", "knn_coreset")
  private val payloadTau = Seq("payload_semantic_dedup", "payload_semantic_decon",
    "payload_decon_report")
  // the build knobs of each twin: (knob, its build value, another value)
  private val buildKnobs: Map[String, Seq[(String, String, String)]] = {
    val nlist = ("nlist", "16", "8")
    (knnGraph.map(_ -> Seq(nlist, ("k", "3", "5"))) ++
      payloadTau.map(_ -> Seq(nlist, ("tau", "0.999", "0.9"))) ++
      Seq("payload_knn", "knn_join", "probe_tuning", "semantic_dedup",
        "decon_recall", "decon_report", "semantic_decon", "quantizer_refresh")
        .map(_ -> Seq(nlist)) :+
      ("topic_mix" -> Seq(nlist, ("alpha", "0.5", "0.25")))).toMap
  }

  private def route(op: String, corpus: String, dataset: Option[String],
      knobs: (String, String)*): Option[String] = {
    val extra = knobs.map { case (k, v) => s""", "$k": $v""" }.mkString
    Jx.storedRoute(mapper.readTree(
      s"""{"op": "$op", "corpus": $corpus$extra}"""), dataset)
  }
  private def plain(table: String) = s"""{"from": "$table"}"""
  private def fromOf(op: String) = twinFrom.getOrElse(op, "documents")
  private val ops = Jx.corpusOps.keys.toSeq.sorted

  test("the plain twin table plus a dataset picks the stored twin, for " +
      "exactly the store-capable ops") {
    assert(twinFrom.keySet.subsetOf(ops.toSet), twinFrom.keySet -- ops)
    ops.foreach { op =>
      val expect = if (twinFrom.contains(op)) ds else None
      assert(route(op, plain(fromOf(op)), ds) === expect, op)
    }
  }

  test("no dataset, another table, or a filtered corpus picks in-plan") {
    ops.foreach { op =>
      val from = fromOf(op)
      assert(route(op, plain(from), None) === None, op)
      val other = if (from == "documents") "embeddings" else "documents"
      assert(route(op, plain(other), ds) === None, op)
      assert(route(op, s"""{"from": "$from", "where": {"lt": ["doc_id", 5]}}""",
        ds) === None, op)
      assert(route(op, s"""{"from": "$from", "limit": 5}""", ds) === None, op)
      assert(route(op, s"""{"from": {"from": "$from"}}""", ds) === None, op)
    }
  }

  test("a build knob off its build value, or nlist auto, picks in-plan; " +
      "at its build value it keeps the twin") {
    assert(buildKnobs.keySet.subsetOf(twinFrom.keySet))
    ops.filter(twinFrom.contains).foreach { op =>
      val corpus = plain(fromOf(op))
      val knobs = buildKnobs.getOrElse(op, Nil)
      knobs.foreach { case (k, build, other) =>
        assert(route(op, corpus, ds, k -> other) === None, s"$op $k=$other")
        assert(route(op, corpus, ds, k -> build) === ds, s"$op $k=$build")
      }
      if (knobs.exists(_._1 == "nlist"))
        assert(route(op, corpus, ds, "nlist" -> "\"auto\"") === None, s"$op auto")
      assert(route(op, corpus, ds, knobs.map(t => t._1 -> t._2): _*) === ds, op)
    }
  }

  test("a knob the twin was not built with does not force in-plan") {
    // the in-plan builders of these ops ignore the knob, or the stored
    // twin takes it as an argument (m, tau over embeddings, budget_pct)
    Seq("knn_join" -> ("k" -> "5"), "forget_ivf" -> ("nlist" -> "8"),
      "knn_diverse" -> ("m" -> "4"), "semantic_dedup" -> ("tau" -> "0.5"),
      "mix_schedule" -> ("budget_pct" -> "150")).foreach { case (op, knob) =>
      assert(route(op, plain(fromOf(op)), ds, knob) === ds, s"$op $knob")
    }
  }

  test("a build knob of the wrong JSON type raises the typed error naming it") {
    Seq("knn_stats" -> ("nlist" -> "\"x\""), "knn_stats" -> ("k" -> "2.5"),
      "payload_semantic_dedup" -> ("tau" -> "\"high\""),
      "topic_mix" -> ("alpha" -> "true")).foreach { case (op, (k, v)) =>
      val e = intercept[IllegalArgumentException] {
        route(op, plain(fromOf(op)), ds, k -> v)
      }
      assert(e.getMessage.contains(s"'$k'"), e.getMessage)
    }
  }
}
