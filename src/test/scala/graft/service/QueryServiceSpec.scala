package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

/** The HTTP surface end-to-end: boot on an ephemeral port, POST real jx
  * over HTTP, and assert the formatted responses — the same round trip
  * the reference's users make against ActiveData (upstream:
  * active_data/app.py). The query logic itself is JxSpec's territory;
  * this spec pins the transport: dispatch, formats, error shape,
  * liveness. */
class QueryServiceSpec extends graft.SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private lazy val logs: DataFrame = Seq(
    (1L, "mochitest", "win", 10.0),
    (2L, "mochitest", "linux", 20.0),
    (3L, "xpcshell", "win", 30.0))
    .toDF("id", "suite", "platform", "duration")

  private def withServer(f: (HttpClient, Int) => Unit): Unit = {
    val server = QueryService.start(spark, _ => logs)
    try f(HttpClient.newHttpClient(), server.getAddress.getPort)
    finally server.stop(0)
  }

  private def post(c: HttpClient, port: Int, body: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("health endpoint answers ok") {
    withServer { (c, port) =>
      val r = c.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/health")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      assert(mapper.readTree(r.body()).get("status").asText() === "ok")
    }
  }

  test("POST /query runs jx and answers the list format") {
    withServer { (c, port) =>
      val r = post(c, port, """{
        "from": "logs",
        "select": ["id", "suite"],
        "where": {"gte": ["duration", 20]},
        "sort": ["id"]}""")
      assert(r.statusCode() === 200)
      val root = mapper.readTree(r.body())
      assert(root.get("meta").get("format").asText() === "list")
      val data = root.get("data")
      assert(data.size() === 2)
      assert(data.get(0).get("id").asLong() === 2L)
      assert(data.get(1).get("suite").asText() === "xpcshell")
    }
  }

  test("POST /query answers the cube format for an edges query") {
    withServer { (c, port) =>
      val r = post(c, port, """{
        "from": "logs",
        "edges": ["suite"],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}]}""")
      assert(r.statusCode() === 200)
      val root = mapper.readTree(r.body())
      assert(root.get("meta").get("format").asText() === "cube")
      assert(root.get("edges").get(0).get("name").asText() === "suite")
      // dense domain: null part + 2 observed suites, counts align
      assert(root.get("data").get("n").size() === 3)
    }
  }

  test("the composed hygiene pipeline runs end-to-end over HTTP") {
    // the complete reference user journey: POST jx with a pipeline node,
    // get the packed survivor layout back — HTTP → jx compiler → the
    // full corpus-hygiene chain, one round trip
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (20L, "one two three four five six seven eight"),
      (21L, "one two three four five six seven eight"),
      (22L, "totally different words in this document here"))
      .toDF("doc_id", "text")
    val server = QueryService.start(spark, _ => docs)
    try {
      val r = post(HttpClient.newHttpClient(), server.getAddress.getPort, """{
        "pipeline": {
          "corpus": {"from": "docs", "where": {"gte": ["doc_id", 10]}},
          "benchmark": {"from": "docs", "where": {"lt": ["doc_id", 10]}}},
        "sort": ["doc_id"]}""")
      assert(r.statusCode() === 200)
      val data = mapper.readTree(r.body()).get("data")
      val ids = (0 until data.size()).map(data.get(_).get("doc_id").asLong())
      // 20/21 are exact near-dups → one canonical survives; 22 survives
      assert(ids.contains(22L))
      assert(!(ids.contains(20L) && ids.contains(21L)),
        s"near-dup pair both survived the pipeline: $ids")
      assert(data.get(0).has("chunk_id") && data.get(0).has("final_md5"))
    } finally server.stop(0)
  }

  test("a corpus_op runs end-to-end over HTTP") {
    // the training-data ops through the same single user surface: POST a
    // corpus_op node, get the trained BPE merge table back
    val docs = Seq(
      (1L, "abab abab abab cdcd"),
      (2L, "abab cdcd cdcd abab"))
      .toDF("doc_id", "text")
    val server = QueryService.start(spark, _ => docs)
    try {
      val r = post(HttpClient.newHttpClient(), server.getAddress.getPort, """{
        "corpus_op": {"op": "bpe_merges", "merges": 2,
                      "corpus": {"from": "docs"}},
        "sort": ["step"]}""")
      assert(r.statusCode() === 200)
      val data = mapper.readTree(r.body()).get("data")
      assert(data.size() === 2)
      // 'a b' dominates: 5×abab (2 (a,b) pairs each) beats 3×cdcd
      assert(data.get(0).get("left_sym").asText() === "a")
      assert(data.get(0).get("right_sym").asText() === "b")
      assert(data.get(0).get("n_pair").asLong() === 10L)
    } finally server.stop(0)
  }

  test("a knn_stats corpus_op over HTTP probes the stored graph artifact") {
    // start the service with a dataset dir: the plain-embeddings corpus
    // routes to the stored knn_graph artifact (the same tables the
    // sim_knn_* driver keys probe) instead of rebuilding the graph
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = post(HttpClient.newHttpClient(), server.getAddress.getPort, """{
        "corpus_op": {"op": "knn_stats", "corpus": {"from": "embeddings"}},
        "sort": ["cluster_id"]}""")
      assert(r.statusCode() === 200)
      val data = mapper.readTree(r.body()).get("data")
      assert(data.size() > 0)
      val row = data.get(0)
      Seq("cluster_id", "n_vecs", "min_degree", "max_degree", "n_edges",
        "mean_cosine").foreach(c => assert(row.has(c), s"missing column $c"))
      // the HTTP answer must be the stored-artifact readout byte-for-byte
      val direct = graft.llm.Similarity.queries("sim_knn_stats")(spark, sf)
        .collect()
      assert(data.size() === direct.length)
      assert(row.get("n_vecs").asLong() === direct.head.getAs[Long]("n_vecs"))
    } finally server.stop(0)
  }

  test("a topic_mix corpus_op over HTTP probes the stored quantizer and " +
    "answers the rebalanced mixture") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = post(HttpClient.newHttpClient(), server.getAddress.getPort, """{
        "corpus_op": {"op": "topic_mix", "corpus": {"from": "documents"}},
        "sort": ["topic"]}""")
      assert(r.statusCode() === 200)
      val data = mapper.readTree(r.body()).get("data")
      assert(data.size() > 0)
      val row = data.get(0)
      Seq("topic", "n_docs", "n_tokens", "share", "target_share",
        "sample_ratio").foreach(c => assert(row.has(c), s"missing column $c"))
      // the HTTP answer must be the stored-quantizer readout exactly
      val direct = graft.llm.Similarity.queries("text_topic_mix")(spark, sf)
        .collect()
      assert(data.size() === direct.length)
      assert(row.get("n_tokens").asLong() ===
        direct.head.getAs[Long]("n_tokens"))
    } finally server.stop(0)
  }

  test("the recall census is readable over HTTP — the ANN quality alarm " +
    "through the query surface") {
    // forward idea ab: the monitoring number an operator watches (recall
    // trending down = quantizer drifting) served by the same corpus_op
    // route, probing the stored graph artifact
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = post(HttpClient.newHttpClient(), server.getAddress.getPort, """{
        "corpus_op": {"op": "knn_recall", "corpus": {"from": "embeddings"}}}""")
      assert(r.statusCode() === 200)
      val data = mapper.readTree(r.body()).get("data")
      assert(data.size() === 1)
      val row = data.get(0)
      Seq("n_sampled", "n_true_edges", "n_found", "recall")
        .foreach(c => assert(row.has(c), s"missing column $c"))
      // the served number IS the stored-artifact census
      val direct = graft.llm.Similarity.queries("sim_knn_recall")(spark, sf)
        .head()
      assert(row.get("recall").asDouble() === direct.getAs[Double]("recall"))
      assert(row.get("n_true_edges").asLong() ===
        direct.getAs[Long]("n_true_edges"))
      // and the gate the spec holds the graph to is visible here too
      assert(row.get("recall").asDouble() >= 0.6)
    } finally server.stop(0)
  }

  test("a malformed query answers 400 with an error body, not a hang") {
    withServer { (c, port) =>
      val r = post(c, port, """{"from": "logs", "select": [{"name": "x",
        "value": "duration", "aggregate": "no_such_agg"}]}""")
      assert(r.statusCode() === 400)
      assert(mapper.readTree(r.body()).has("error"))
    }
  }

  test("a rejected query's error body parses back to its message, quotes, " +
    "backslashes and newlines included") {
    withServer { (c, port) =>
      val format = "a \"quoted\" \\ back\nslash"
      val r = post(c, port, mapper.writeValueAsString(mapper.createObjectNode()
        .put("from", "logs").put("format", format)))
      assert(r.statusCode() === 400)
      assert(mapper.readTree(r.body()).get("error").asText() ===
        s"unsupported format: $format")
    }
  }

  test("GET /query is rejected with 405") {
    withServer { (c, port) =>
      val r = c.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 405)
    }
  }

  // ---- /dashboard (the persisted-sketch-store readout) ----

  private val sf = "/root/testdata/sf0.001"

  private def postPath(c: HttpClient, port: Int, path: String,
      body: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /dashboard answers a day window from the sketch store, cube format") {
    val server = QueryService.start(spark, _ => spark.emptyDataFrame,
      dataset = Some(sf))
    try {
      val c = HttpClient.newHttpClient()
      val r = postPath(c, server.getAddress.getPort, "/dashboard",
        """{"from_day": "2024-01-05", "to_day": "2024-01-12"}""")
      assert(r.statusCode() === 200, r.body())
      val root = mapper.readTree(r.body())
      assert(root.get("meta").get("format").asText() === "cube")
      assert(root.get("edges").get(0).get("name").asText() === "event_type")
      // the served n must equal the exact raw-events count for the same
      // window, per event type — the re-merge over pruned partials is
      // count-lossless
      val exact = graft.Tables.t(spark, sf, "events")
        .filter(org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.col("ts"), "yyyy-MM-dd")
          .between("2024-01-05", "2024-01-12"))
        .groupBy("event_type").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val parts = root.get("edges").get(0).get("domain").get("partitions")
      val ns = root.get("data").get("n")
      val served = (0 until parts.size())
        .map(i => parts.get(i).get("value").asText() -> ns.get(i).asLong()).toMap
      assert(served === exact, s"served $served vs exact $exact")
    } finally server.stop(0)
  }

  test("POST /dashboard list format carries the estimate columns") {
    val server = QueryService.start(spark, _ => spark.emptyDataFrame,
      dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"format": "list"}""")
      assert(r.statusCode() === 200, r.body())
      val row = mapper.readTree(r.body()).get("data").get(0)
      assert(row.has("event_type") && row.has("n") &&
        row.has("users_est") && row.has("p50_est"))
    } finally server.stop(0)
  }

  test("the dashboard ann view serves recall, balance, and drift from " +
    "the stored index artifacts") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"view": "ann"}""")
      assert(r.statusCode() === 200)
      val panel = mapper.readTree(r.body())
      Seq("recall", "balance", "drift", "tuning", "range").foreach(s =>
        assert(panel.has(s), s"missing panel section $s"))
      // the tuning section mirrors sim_probe_tuning: 4 depths, recall
      // monotone, byte-identical first row to the driver key
      val tun = panel.get("tuning").get("data")
      assert(tun.size() === 4)
      val tunDirect = graft.llm.Similarity
        .queries("sim_probe_tuning")(spark, sf).collect()
      assert(tun.get(0).get("recall").asDouble() ===
        tunDirect.head.getAs[Double]("recall"))
      Seq("nprobe", "n_cand", "n_true", "n_found", "recall").foreach(c =>
        assert(tun.get(0).has(c), s"missing tuning column $c"))
      // the range section is the SQ8 per-dim monitor, 64 rows
      assert(panel.get("range").get("data").size() === 64)
      // each section is its driver key's frame byte-for-byte
      val recall = panel.get("recall").get("data").get(0)
      val direct = graft.llm.Similarity.queries("sim_knn_recall")(spark, sf)
        .head()
      assert(recall.get("recall").asDouble() === direct.getAs[Double]("recall"))
      val balance = panel.get("balance").get("data")
      assert(balance.size() ===
        graft.llm.Similarity.queries("sim_ivf_census")(spark, sf).count())
      val drift = panel.get("drift").get("data")
      assert(drift.size() > 0)
      val d0 = drift.get(0)
      Seq("cid", "n_before", "n_after", "n_in", "n_out", "shift")
        .foreach(c => assert(d0.has(c), s"missing drift column $c"))
    } finally server.stop(0)
  }

  test("the dashboard search view serves the streamed dictionary, the " +
    "BM25 top-k, and the chunk manifest byte-identical to the driver keys") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"view": "search"}""")
      assert(r.statusCode() === 200)
      val panel = mapper.readTree(r.body())
      Seq("dictionary", "topk", "chunks")
        .foreach(s => assert(panel.has(s), s"missing panel section $s"))
      // the dictionary section is the stream-maintained store's merge —
      // byte-identical to the stream_df_store driver key (which itself
      // carries text_inverted_index's oracle)
      val dict = panel.get("dictionary").get("data")
      val dictDirect = graft.streaming.Streams
        .queries("stream_df_store")(spark, sf).collect()
      assert(dict.size() === dictDirect.length)
      assert(dict.get(0).get("w").asText() ===
        dictDirect.head.getAs[String]("w"))
      assert(dict.get(0).get("cf").asLong() ===
        dictDirect.head.getAs[Long]("cf"))
      Seq("w", "df", "cf", "max_tf", "top_doc").foreach(c =>
        assert(dict.get(0).has(c), s"missing dictionary column $c"))
      // the topk section is text_bm25_topk's frame byte-for-byte
      val topk = panel.get("topk").get("data")
      val topkDirect = graft.llm.TextOps
        .queries("text_bm25_topk")(spark, sf).collect()
      assert(topk.size() === topkDirect.length)
      assert(topk.get(0).get("doc_id").asLong() ===
        topkDirect.head.getAs[Long]("doc_id"))
      assert(topk.get(0).get("score").asDouble() ===
        topkDirect.head.getAs[Double]("score"))
      // scores arrive rank-ordered (ties broken by doc_id upstream)
      (1 until topk.size()).foreach { i =>
        assert(topk.get(i - 1).get("score").asDouble() >=
          topk.get(i).get("score").asDouble(), "topk not rank-ordered")
      }
    } finally server.stop(0)
  }

  test("the dashboard compliance view serves the raw forget report and " +
    "the three forgotten stores byte-identical to the driver keys") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"view": "compliance"}""")
      assert(r.statusCode() === 200)
      val panel = mapper.readTree(r.body())
      Seq("raw", "clusters", "lists", "dictionary", "feed",
          "release", "asof", "sketches", "audit")
        .foreach(s => assert(panel.has(s), s"missing panel section $s"))
      // the audit section: every store row served with zero tombstone
      // references — the panel's bottom line
      val audit = panel.get("audit").get("data")
      assert(audit.size() === 7)
      (0 until audit.size()).foreach { i =>
        assert(audit.get(i).get("tomb_refs").asLong() === 0L,
          s"audit row $i has tomb_refs != 0: ${audit.get(i)}")
      }
      // the sketches section is the USER-domain forget (T13m): every
      // pin column served true, byte-identical to agg_forget_sketch
      val sk = panel.get("sketches").get("data")
      val skDirect = graft.llm.Forget
        .queries("agg_forget_sketch")(spark, sf).collect()
      assert(sk.size() === skDirect.length && sk.size() > 0)
      assert(sk.get(0).get("range_complete").asBoolean() &&
        sk.get(0).get("p50_ok").asBoolean() && sk.get(0).get("hll_ok").asBoolean())
      // the lists section is sim_forget_ivf's frame byte-for-byte: no
      // tombstoned vector (vec_id % 37 == 0) may survive in any list
      val lists = panel.get("lists").get("data")
      val listsDirect = graft.llm.Forget
        .queries("sim_forget_ivf")(spark, sf).collect()
      assert(lists.size() === listsDirect.length)
      assert(lists.get(0).get("key_sum").asLong() ===
        listsDirect.head.getAs[Long]("key_sum"))
      // the dictionary section equals the one-shot purged build — the
      // store-after-forget == rebuild-from-purged gate, served
      val dict = panel.get("dictionary").get("data")
      val purged = graft.llm.TextOps.invertedIndexOf(
        graft.Tables.t(spark, sf, "documents")
          .filter(org.apache.spark.sql.functions.col("doc_id") % 37 =!= 0))
        .collect()
      assert(dict.size() === purged.length)
      assert(dict.get(0).get("w").asText() === purged.head.getAs[String]("w"))
      assert(dict.get(0).get("cf").asLong() === purged.head.getAs[Long]("cf"))
    } finally server.stop(0)
  }

  test("the dashboard quality view serves the per-source monitor and the " +
    "topic mixture from the stores") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"view": "quality"}""")
      assert(r.statusCode() === 200)
      val panel = mapper.readTree(r.body())
      Seq("sources", "mix", "report", "tiers", "rules", "hygiene",
        "funnel").foreach(s => assert(panel.has(s), s"missing panel section $s"))
      // the hygiene section is text_hygiene_report's frame byte-for-byte
      val hyg = panel.get("hygiene").get("data")
      val hygDirect = graft.llm.TextOps
        .queries("text_hygiene_report")(spark, sf).collect()
      assert(hyg.size() === hygDirect.length)
      assert(hyg.get(0).get("rule_keep_pm").asLong() ===
        hygDirect.head.getAs[Long]("rule_keep_pm"))
      Seq("source", "n_docs", "rule_keep_pm", "boiler_rm_pm", "n_secret_docs")
        .foreach(c => assert(hyg.get(0).has(c), s"missing hygiene column $c"))
      // the rules section re-merges the streamed rule store and is
      // byte-identical to the stream_rule_store driver key
      val rules = panel.get("rules").get("data")
      val rulesDirect = graft.streaming.Streams
        .queries("stream_rule_store")(spark, sf).collect()
      assert(rules.size() === rulesDirect.length)
      assert(rules.get(0).get("n_keep").asLong() ===
        rulesDirect.head.getAs[Long]("n_keep"))
      Seq("source", "n_docs", "f_wc", "f_sym", "f_bullet", "n_keep").foreach(c =>
        assert(rules.get(0).has(c), s"missing rules column $c"))
      // the tiers section re-ranks the streamed LM-score store and is
      // byte-identical to the stream_ppl_store driver key
      val tiers = panel.get("tiers").get("data")
      val tiersDirect = graft.streaming.Streams
        .queries("stream_ppl_store")(spark, sf).collect()
      assert(tiers.size() === tiersDirect.length)
      assert(tiers.get(0).get("mean_nll").asDouble() ===
        tiersDirect.head.getAs[Double]("mean_nll"))
      Seq("source", "bucket", "label", "n_docs", "mean_nll").foreach(c =>
        assert(tiers.get(0).has(c), s"missing tiers column $c"))
      // the funnel section carries the 4-stage curation audit
      val fun = panel.get("funnel").get("data")
      assert(fun.size() === 4)
      assert(fun.get(0).get("stage_name").asText() === "raw")
      // the report section names the dup burden alongside quality
      val rep0 = panel.get("report").get("data").get(0)
      Seq("source", "n_near_dup", "dup_rate", "mean_quality")
        .foreach(c => assert(rep0.has(c), s"missing report column $c"))
      // each section is its driver key's frame byte-for-byte
      val sources = panel.get("sources").get("data")
      val directQ = graft.streaming.Streams
        .queries("stream_quality_store")(spark, sf).collect()
      assert(sources.size() === directQ.length)
      assert(sources.get(0).get("mean_quality").asDouble() ===
        directQ.head.getAs[Double]("mean_quality"))
      val mix = panel.get("mix").get("data")
      assert(mix.size() ===
        graft.llm.Similarity.queries("text_topic_mix")(spark, sf).count())
      Seq("topic", "share", "target_share", "sample_ratio")
        .foreach(c => assert(mix.get(0).has(c), s"missing mix column $c"))
    } finally server.stop(0)
  }

  test("the dashboard payload view serves the per-source payload health " +
    "and the pair-graph pressure summary") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"view": "payload"}""")
      assert(r.statusCode() === 200)
      val panel = mapper.readTree(r.body())
      Seq("sources", "pairs", "packing", "pack_tuning").foreach(s =>
        assert(panel.has(s), s"missing panel section $s"))
      // the interleaved ctx curve mirrors mm_pack_tuning
      assert(panel.get("pack_tuning").get("data").size() === 4)
      // the interleaved-shard geometry mirrors mm_pack_manifest
      val geom = panel.get("packing").get("data")
      val geomDirect = graft.llm.Multimodal
        .queries("mm_pack_manifest")(spark, sf).collect()
      assert(geom.size() === geomDirect.length)
      assert(geom.get(0).get("n_chunks").asLong() ===
        geomDirect.head.getAs[Long]("n_chunks"))
      // each section is its driver key's frame byte-for-byte
      val sources = panel.get("sources").get("data")
      val direct = graft.llm.Multimodal
        .queries("mm_quality_by_source")(spark, sf).collect()
      assert(sources.size() === direct.length)
      assert(sources.get(0).get("keep_rate").asDouble() ===
        direct.head.getAs[Double]("keep_rate"))
      val pairs = panel.get("pairs").get("data")
      assert(pairs.size() === 1)
      Seq("n_pairs", "n_docs", "mean_jaccard")
        .foreach(c => assert(pairs.get(0).has(c), s"missing pairs column $c"))
    } finally server.stop(0)
  }

  test("the dashboard plan view serves the mixture schedule, fertility, " +
    "and drift from the stores") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"view": "plan"}""")
      assert(r.statusCode() === 200)
      val panel = mapper.readTree(r.body())
      Seq("schedule", "fertility", "drift", "order_head", "mix_audit",
        "epoch_budget", "packing", "pack_tuning").foreach(s =>
        assert(panel.has(s), s"missing panel section $s"))
      // the ctx curve mirrors text_pack_tuning: 4 candidate sizes
      assert(panel.get("pack_tuning").get("data").size() === 4)
      // the epoch budget mirrors text_epoch_budget byte-for-byte
      val eb = panel.get("epoch_budget").get("data")
      val ebDirect = graft.llm.TextOps
        .queries("text_epoch_budget")(spark, sf).collect()
      assert(eb.size() === ebDirect.length)
      assert(eb.get(0).get("fill_permille").asLong() ===
        ebDirect.head.getAs[Long]("fill_permille"))
      // the mix audit mirrors text_order_audit: per (epoch, shard) TV
      // distance vs the epoch mix, byte-identical to the driver key
      val aud = panel.get("mix_audit").get("data")
      val audDirect = graft.llm.TextOps
        .queries("text_order_audit")(spark, sf).collect()
      assert(aud.size() === audDirect.length)
      assert(aud.get(0).get("tv_mix").asDouble() ===
        audDirect.head.getAs[Double]("tv_mix"))
      Seq("epoch", "shard", "n_docs", "n_tokens", "n_sources", "tv_mix")
        .foreach(c => assert(aud.get(0).has(c), s"missing audit column $c"))
      // the executable-order page mirrors text_train_order's head
      val ord = panel.get("order_head").get("data")
      val ordDirect = graft.llm.TextOps
        .queries("text_train_order")(spark, sf).collect()
      assert(ord.size() === ordDirect.length)
      assert(ord.get(0).get("pos").asInt() ===
        ordDirect.head.getAs[Int]("pos"))
      Seq("doc_id", "epoch", "shard", "pos").foreach(c =>
        assert(ord.get(0).has(c), s"missing order column $c"))
      val packing = panel.get("packing").get("data")
      assert(packing.size() ===
        graft.llm.TextOps.queries("text_pack_manifest")(spark, sf).count())
      Seq("shard", "n_chunks", "last_fill", "content_fp").foreach(c =>
        assert(packing.get(0).has(c), s"missing packing column $c"))
      // each section is its driver key's frame byte-for-byte
      val sched = panel.get("schedule").get("data")
      val direct = graft.llm.TextOps
        .queries("text_mix_schedule")(spark, sf).collect()
      assert(sched.size() === direct.length)
      assert(sched.get(0).get("scheduled_tok").asLong() ===
        direct.head.getAs[Long]("scheduled_tok"))
      Seq("source", "n_tok", "weight_pct", "target_tok", "epochs",
        "deficit_tok").foreach(c =>
        assert(sched.get(0).has(c), s"missing schedule column $c"))
      val fert = panel.get("fertility").get("data")
      assert(fert.size() ===
        graft.llm.TextOps.queries("text_fertility")(spark, sf).count())
      Seq("lang", "fertility", "chars_per_tok")
        .foreach(c => assert(fert.get(0).has(c), s"missing fertility column $c"))
    } finally server.stop(0)
  }

  test("the dashboard decon view serves the per-eval-item triage and the " +
    "corpus drop list") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"view": "decon"}""")
      assert(r.statusCode() === 200)
      val panel = mapper.readTree(r.body())
      Seq("items", "flagged", "recall").foreach(s =>
        assert(panel.has(s), s"missing panel section $s"))
      assert(panel.get("recall").get("data").get(0).get("recall").asDouble() >= 0.6)
      // each section is its driver key's frame byte-for-byte
      val items = panel.get("items").get("data")
      val direct = graft.llm.Similarity
        .queries("sim_decon_report")(spark, sf).collect()
      assert(items.size() === direct.length)
      assert(items.get(0).get("n_contaminated").asInt() ===
        direct.head.getAs[Int]("n_contaminated"))
      Seq("bench_id", "n_contaminated", "worst_vec", "max_cosine").foreach(c =>
        assert(items.get(0).has(c), s"missing items column $c"))
      val flagged = panel.get("flagged").get("data")
      assert(flagged.size() ===
        graft.llm.Similarity.queries("sim_semantic_decon")(spark, sf).count())
    } finally server.stop(0)
  }

  test("the dashboard card view serves the per-source dataset card and the " +
    "anneal plan") {
    val sf = "/root/testdata/sf0.001"
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"view": "card"}""")
      assert(r.statusCode() === 200)
      val panel = mapper.readTree(r.body())
      Seq("sources", "anneal").foreach(s =>
        assert(panel.has(s), s"missing panel section $s"))
      // each section is its driver key's frame byte-for-byte
      val card = panel.get("sources").get("data")
      val direct = graft.llm.TextOps
        .queries("text_dataset_card")(spark, sf).collect()
      assert(card.size() === direct.length)
      assert(card.get(0).get("n_tokens").asLong() ===
        direct.head.getAs[Long]("n_tokens"))
      Seq("source", "n_docs", "n_tokens", "mean_quality", "dup_rate",
        "top_lang", "top_lang_share", "n_contam", "sel_permille").foreach(c =>
        assert(card.get(0).has(c), s"missing card column $c"))
      val anneal = panel.get("anneal").get("data")
      assert(anneal.size() ===
        graft.llm.TextOps.queries("text_anneal_schedule")(spark, sf).count())
      assert(anneal.get(0).get("bulk_tok").asLong() ===
        graft.llm.TextOps.queries("text_anneal_schedule")(spark, sf)
          .collect().head.getAs[Long]("bulk_tok"))
    } finally server.stop(0)
  }

  test("a malformed dashboard day answers 400; without a dataset the route is absent") {
    val server = QueryService.start(spark, _ => spark.emptyDataFrame,
      dataset = Some(sf))
    try {
      val r = postPath(HttpClient.newHttpClient(), server.getAddress.getPort,
        "/dashboard", """{"from_day": "not-a-day"}""")
      assert(r.statusCode() === 400)
      assert(mapper.readTree(r.body()).has("error"))
    } finally server.stop(0)
    val bare = QueryService.start(spark, _ => spark.emptyDataFrame)
    try {
      val r = postPath(HttpClient.newHttpClient(), bare.getAddress.getPort,
        "/dashboard", """{}""")
      assert(r.statusCode() === 404)
    } finally bare.stop(0)
  }

  test("the dashboard merge prunes the store scan to the requested day partitions") {
    val df = graft.operators.Aggregates.sketchDashboardFrame(
      spark, sf, "2024-01-05", "2024-01-12")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"store scan is not partition-pruned by day:\n$plan")
    // the pruned scan must touch at most the 8 requested day partitions
    // (inputFiles is pre-pruning — SinksSpec gotcha — so count the scan's
    // actually-selected partition directories, descending through AQE
    // stage wrappers to reach the physical scan)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val counts = scala.collection.mutable.Buffer[Int]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        counts += f.selectedPartitions.partitionCount
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(counts.exists(n => n > 0 && n <= 8),
      s"expected 1..8 day partitions read, got $counts")
  }

  test("concurrent mixed /query + /dashboard bursts answer byte-identically " +
      "to the serial responses (executor pool + FAIR scheduler pool)") {
    val sf = "/root/testdata/sf0.001"
    // the spec session runs spark.scheduler.mode=FAIR (SparkSpec), so the
    // service's per-handler scheduler-pool tag is live, not inert
    assert(spark.sparkContext.getConf.get("spark.scheduler.mode") === "FAIR")
    val server = QueryService.start(spark,
      name => graft.Tables.t(spark, sf, name), dataset = Some(sf))
    try {
      val port = server.getAddress.getPort
      val bodies = Seq(
        ("/query", """{"from": "documents", "groupby": ["source"],
          "select": [{"name": "n", "aggregate": "count"}],
          "sort": ["source"]}"""),
        ("/query", """{"from": "documents", "where": {"eq": {"lang": "en"}},
          "select": [{"name": "n", "aggregate": "count"}]}"""),
        ("/dashboard", """{"view": "payload"}"""),
        ("/dashboard", """{"from_day": "2024-01-05", "to_day": "2024-01-12"}"""))
      // serial baselines first (also warms the payload stores, so the
      // concurrent burst exercises cache + probe paths, not first-build)
      val c = HttpClient.newHttpClient()
      val serial = bodies.map { case (p, b) =>
        val r = postPath(c, port, p, b)
        assert(r.statusCode() === 200, s"$p: ${r.body()}")
        r.body()
      }
      // 16 concurrent requests (4 client threads × the 4 bodies), each
      // response must be byte-identical to its serial twin
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futs = (0 until 16).map { i =>
          val (p, b) = bodies(i % bodies.size)
          pool.submit(new java.util.concurrent.Callable[(Int, String)] {
            def call(): (Int, String) = {
              val r = postPath(HttpClient.newHttpClient(), port, p, b)
              (i % bodies.size, r.body())
            }
          })
        }
        futs.foreach { f =>
          val (idx, body) = f.get(120, java.util.concurrent.TimeUnit.SECONDS)
          assert(body === serial(idx),
            s"concurrent response diverged from serial for body $idx")
        }
      } finally pool.shutdownNow()
    } finally server.stop(0)
  }
}
