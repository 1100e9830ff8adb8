package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's HTTP query surface, re-expressed over the jx compiler
  * (upstream: active_data/app.py — a Flask app accepting a jx JSON query
  * on POST /query and answering in the requested format). This closes
  * the last user-facing gap: the reference's users don't import a
  * library, they POST jx to a service; everything they POST compiles
  * through [[graft.jx.Jx.runFormatted]] onto the same oracle-gated
  * operator inventory.
  *
  * Deliberately thin and dependency-free (the JDK's built-in
  * HttpServer): the engine stays the product — the service is one
  * dispatch layer, no query logic of its own. The Spark DRIVER hosts
  * it; execution still fans out over the cluster, and the response
  * collect is the already-aggregated result set (the same
  * response-formatting boundary [[graft.jx.Jx.listJson]] documents).
  * Concurrency (r16 — previously documented as "config, not rewrite",
  * now code): the server runs on a BOUNDED daemon pool
  * (`setExecutor`), every handler tags its thread with a Spark
  * scheduler pool (`spark.scheduler.pool` local property — under
  * `spark.scheduler.mode=FAIR`, set at session build, service jobs
  * share the cluster fairly instead of convoying behind a long scan;
  * a no-op under FIFO), the handlers themselves are stateless, the
  * store-building path ([[graft.llm.Artifacts.buildOnce]]) is
  * JVM-locked per artifact so two concurrent first-requests build once,
  * and the named dashboard panels are cached per (dataset, view) after
  * first render — the panels are deterministic per session/dataset
  * (stores are build-once), so a dashboard refresh costs one map
  * lookup, not a re-scan (cache lifetime = session lifetime; a
  * production deployment keys on the store version instead).
  * QueryServiceSpec fires concurrent mixed /query + /dashboard bursts
  * and pins byte-identity with the serial responses.
  *
  * Endpoints:
  *  - `POST /query`   — body: a jx JSON query; 200 with the jx-formatted
  *    response (list/table/cube per the query's `format`), 400 with
  *    `{"error": …}` on a bad query.
  *  - `POST /dashboard` — (when started with a `dataset`) body:
  *    `{"from_day": "YYYY-MM-DD", "to_day": "YYYY-MM-DD", "format":
  *    "cube"|"list"|"table"}`; answers the jx-formatted per-event-type
  *    readout from the PERSISTED daily sketch store
  *    ([[graft.operators.Aggregates.sketchDashboardFrame]]) — every
  *    aggregate is a KB-scale sketch re-merge over day-pruned partials,
  *    never a raw-events scan; the dashboard refresh cost is independent
  *    of corpus size. With `{"view": "ann"}` it answers the ANN health
  *    panel (recall / balance / drift) from the stored index artifacts;
  *    with `{"view": "quality"}` the curation health panel (per-source
  *    quality monitor + topic-mixture rebalance) from the streamed
  *    quality store and the stored quantizer.
  *  - `GET  /health`  — `{"status":"ok"}` liveness probe.
  */
object QueryService {

  /** Start the service on `port` (0 = ephemeral; read the bound port off
    * the returned server). `tables` resolves jx `from` names, exactly as
    * for [[graft.jx.Jx.run]]. `dataset` (a testdata sf directory) enables
    * the `/dashboard` endpoint, which keys the sketch store to that
    * corpus. Caller owns the server lifecycle. */
  def start(spark: SparkSession, tables: String => DataFrame,
      port: Int = 0, dataset: Option[String] = None): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // Bounded daemon pool: requests execute concurrently instead of
    // serializing on the dispatch thread; daemon threads so a forgotten
    // server never blocks JVM exit (the caller owns stop()).
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => {
        val th = new Thread(r, "graft-service")
        th.setDaemon(true)
        th
      }))
    // Tag this handler thread's Spark jobs with the service scheduler
    // pool: under FAIR mode concurrent requests share executors fairly
    // (no convoy behind one long scan); a harmless no-op under FIFO.
    def pooled[T](f: => T): T = {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-service")
      try f
      finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    }
    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, """{"status":"ok"}"""))
    dataset.foreach { d =>
      server.createContext("/dashboard", (ex: HttpExchange) =>
        if (ex.getRequestMethod != "POST")
          respond(ex, 405, """{"error":"POST a dashboard request"}""")
        else {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          try respond(ex, 200, pooled(dashboardJson(spark, d, body)))
          catch {
            case e: Exception =>
              respond(ex, 400, errorBody(e))
          }
        })
    }
    server.createContext("/query", (ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST")
        respond(ex, 405, """{"error":"POST a jx query"}""")
      else {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        try respond(ex, 200, pooled(graft.jx.Jx.runFormatted(spark, body, tables, dataset)))
        catch {
          case e: Exception =>
            respond(ex, 400, errorBody(e))
        }
      })
    server.start()
    server
  }

  /** Shared by the pooled handlers (thread-safe once built). */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Named-view panel cache: the six dashboard panels are deterministic
    * per (session, dataset) — every section probes build-once stores —
    * so they are rendered once and served from memory afterwards.
    * computeIfAbsent also ensures two CONCURRENT first-requests for the
    * same panel render it once, not twice. */
  private val panelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Serve one dashboard request: parse the day window, merge the stored
    * partials, serialize in the requested jx format (`cube` default —
    * event_type edge, the three readout aggregates as values).
    *
    * `{"view": "ann"}` answers the ANN HEALTH PANEL instead: the three
    * monitoring numbers an index operator watches, each a probe of the
    * stored artifacts (never a rebuild) — `recall` (the bucketed graph's
    * recall census vs brute force, the quality alarm), `balance` (the
    * per-list IVF census, the skew alarm), and `drift` (the one-step
    * quantizer-refresh report, the re-train alarm). Each section is the
    * byte-identical frame of its driver key (sim_knn_recall /
    * sim_ivf_census / sim_quantizer_refresh), so the panel inherits
    * their oracles. */
  private def dashboardJson(spark: SparkSession, dataset: String,
      body: String): String = {
    val q = mapper.readTree(if (body.trim.isEmpty) "{}" else body)
    val view = Option(q.get("view")).map(_.asText())
    if (view.exists(panelViews.contains))
      return panelCache.computeIfAbsent((dataset, view.get),
        _ => panelJson(spark, dataset, view.get))
    def day(field: String, dflt: String): String = {
      val v = Option(q.get(field)).map(_.asText()).getOrElse(dflt)
      require(v.matches("\\d{4}-\\d{2}-\\d{2}"), s"$field must be YYYY-MM-DD")
      v
    }
    val df = graft.operators.Aggregates.sketchDashboardFrame(
      spark, dataset, day("from_day", "0000-01-01"), day("to_day", "9999-12-31"))
    Option(q.get("format")).map(_.asText()).getOrElse("cube") match {
      case "list"  => graft.jx.Jx.listJson(df)
      case "table" => graft.jx.Jx.tableJson(df)
      case "cube"  => graft.jx.Jx.cubeJson(df, Seq("event_type"),
        Seq("n", "users_est", "p50_est"))
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }
  }

  /** The named panel views served through [[panelCache]]; the day-window
    * sketch dashboard stays uncached (it is already a KB-scale
    * day-pruned store probe, and its answer varies with the request's
    * day window and format). */
  private val panelViews =
    Set("ann", "payload", "plan", "decon", "card", "quality", "search",
      "compliance")

  /** Render one named panel (first request per (dataset, view) only —
    * [[panelCache]] serves every subsequent refresh). */
  private def panelJson(spark: SparkSession, dataset: String,
      view: String): String = {
    if (view == "ann") {
      def section(key: String): String =
        graft.jx.Jx.listJson(graft.llm.Similarity.queries(key)(spark, dataset))
      // `range` is the SQ8 scalar quantizer's per-dim [mn,mx] monitor
      // (stream_sq8_stats' merged store — clamp pressure shows up here
      // before it degrades recall)
      return s"""{"recall":${section("sim_knn_recall")},""" +
        s""""balance":${section("sim_ivf_census")},""" +
        s""""drift":${section("sim_quantizer_refresh")},""" +
        // the nprobe cost/recall curve (sim_probe_tuning's frame verbatim
        // — the panel inherits its oracle): the knob-setting readout
        s""""tuning":${section("sim_probe_tuning")},""" +
        s""""range":${graft.jx.Jx.listJson(
          graft.streaming.Streams.queries("stream_sq8_stats")(spark, dataset))}}"""
    }
    // {"view": "quality"}: the CURATION HEALTH PANEL — `sources` is the
    // per-source quality monitor read from the streamed partial store
    // (stream_quality_store's frame), `mix` the topic-mixture rebalance
    // readout over the stored quantizer (text_topic_mix's frame); both
    // sections are byte-identical to their driver keys, so the panel
    // inherits their oracles, and both are KB-scale store probes.
    // {"view": "payload"}: the MULTIMODAL HEALTH PANEL — `sources` is
    // the per-source payload quality/keep-rate rollup, `pairs` the
    // near-dup-pressure summary of the stored payload pair graph; both
    // sections are byte-identical to their driver keys
    // (mm_quality_by_source / mm_dedup_stats), so the panel inherits
    // their oracles, and the pairs section is a KB-scale store probe.
    if (view == "payload") {
      return s"""{"sources":${graft.jx.Jx.listJson(
          graft.llm.Multimodal.queries("mm_quality_by_source")(spark, dataset))},""" +
        s""""pairs":${graft.jx.Jx.listJson(
          graft.llm.Multimodal.queries("mm_dedup_stats")(spark, dataset))},""" +
        // the interleaved-shard chunk geometry (mm_pack_manifest's frame
        // verbatim — oracle inherited)
        s""""packing":${graft.jx.Jx.listJson(
          graft.llm.Multimodal.queries("mm_pack_manifest")(spark, dataset))},""" +
        // the interleaved ctx cost curve (mm_pack_tuning's frame verbatim)
        s""""pack_tuning":${graft.jx.Jx.listJson(
          graft.llm.Multimodal.queries("mm_pack_tuning")(spark, dataset))},""" +
        // per-eval-item payload contamination triage (mm_decon_report's
        // frame verbatim — the panel inherits its oracle)
        s""""decon":${graft.jx.Jx.listJson(
          graft.llm.Multimodal.queries("mm_decon_report")(spark, dataset))}}"""
    }
    // {"view": "plan"}: the MIXTURE-PLANNING PANEL — `schedule` is the
    // data-constrained repeat-factor schedule planned off the streamed
    // quality monitor's exact token sums (text_mix_schedule's frame),
    // `fertility` the per-language tokenizer cost off the stored BPE
    // vocab (text_fertility's frame), `drift` the per-source KL audit;
    // all three byte-identical to their driver keys, so the panel
    // inherits their oracles.
    if (view == "plan") {
      return s"""{"schedule":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_mix_schedule")(spark, dataset))},""" +
        s""""fertility":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_fertility")(spark, dataset))},""" +
        s""""drift":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_source_kl")(spark, dataset))},""" +
        // the schedule made executable: the first page of the
        // deterministic (epoch, shard, position) reading order plus the
        // trainer-facing chunk geometry — text_train_order's and
        // text_pack_manifest's frames verbatim, oracles inherited
        s""""order_head":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_train_order")(spark, dataset))},""" +
        // the trainer-side proof the emitted order is well-mixed: per
        // (epoch, shard) total-variation distance vs the epoch mix —
        // text_order_audit's frame verbatim, oracle inherited
        s""""mix_audit":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_order_audit")(spark, dataset))},""" +
        // the repeat-factor decomposition: per (source, epoch) token
        // mass and fill — text_epoch_budget's frame verbatim
        s""""epoch_budget":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_epoch_budget")(spark, dataset))},""" +
        s""""packing":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_pack_manifest")(spark, dataset))},""" +
        // the ctx knob's closed-form cost curve (text_pack_tuning's
        // frame verbatim — oracle inherited)
        s""""pack_tuning":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_pack_tuning")(spark, dataset))}}"""
    }
    // {"view": "decon"}: the EVAL-INTEGRITY PANEL — `items` is the
    // per-bench-item contamination triage (every eval item rowed,
    // zero-hit items visible; sim_decon_report's frame), `flagged` the
    // corpus-side drop list (sim_semantic_decon's frame); both probe the
    // stored quantizer + lists and are byte-identical to their driver
    // keys, so the panel inherits their oracles.
    if (view == "decon") {
      return s"""{"items":${graft.jx.Jx.listJson(
          graft.llm.Similarity.queries("sim_decon_report")(spark, dataset))},""" +
        s""""flagged":${graft.jx.Jx.listJson(
          graft.llm.Similarity.queries("sim_semantic_decon")(spark, dataset))},""" +
        s""""recall":${graft.jx.Jx.listJson(
          graft.llm.Similarity.queries("sim_decon_recall")(spark, dataset))}}"""
    }
    // {"view": "card"}: the DATASET CARD — the Datasheets-for-Datasets
    // release readout (volume, quality, dup rate, language, decon hits,
    // classifier pass per-mille per source), plus the two-phase anneal
    // plan built on the same pass rates; both sections byte-identical to
    // their driver keys (text_dataset_card / text_anneal_schedule), so
    // the panel inherits their full-replay oracles.
    if (view == "card") {
      return s"""{"sources":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_dataset_card")(spark, dataset))},""" +
        s""""anneal":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_anneal_schedule")(spark, dataset))}}"""
    }
    if (view == "quality") {
      return s"""{"sources":${graft.jx.Jx.listJson(
          graft.streaming.Streams.queries("stream_quality_store")(spark, dataset))},""" +
        s""""mix":${graft.jx.Jx.listJson(
          graft.llm.Similarity.queries("text_topic_mix")(spark, dataset))},""" +
        s""""report":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_curation_report")(spark, dataset))},""" +
        // per-source perplexity tiers re-ranked from the streamed
        // LM-score store (stream_ppl_store's frame verbatim — the panel
        // inherits text_ppl_buckets' oracle through it)
        s""""tiers":${graft.jx.Jx.listJson(
          graft.streaming.Streams.queries("stream_ppl_store")(spark, dataset))},""" +
        // per-source Gopher/C4 rule-failure profile from the streamed
        // rule store (stream_rule_store's frame verbatim — the panel
        // inherits text_rule_profile's oracle through it)
        s""""rules":${graft.jx.Jx.listJson(
          graft.streaming.Streams.queries("stream_rule_store")(spark, dataset))},""" +
        // the per-source hygiene capstone (rule keep rate, boilerplate
        // removal rate, secret-doc count — text_hygiene_report verbatim)
        s""""hygiene":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_hygiene_report")(spark, dataset))},""" +
        s""""funnel":${graft.jx.Jx.listJson(
          graft.llm.Pipeline.queries("pipeline_funnel")(spark, dataset))}}"""
    }
    // {"view": "search"}: the KEYWORD-SEARCH PANEL (r16 X13) —
    // `dictionary` is the stream-maintained inverted-index term table
    // (stream_df_store's merged frame: the panel inherits
    // text_inverted_index's oracle THROUGH the store), `topk` the BM25
    // ranking for the standing query, `chunks` the retrieval-chunk
    // manifest head; all byte-identical to their driver keys.
    if (view == "search") {
      return s"""{"dictionary":${graft.jx.Jx.listJson(
          graft.streaming.Streams.queries("stream_df_store")(spark, dataset))},""" +
        s""""topk":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_bm25_topk")(spark, dataset))},""" +
        s""""chunks":${graft.jx.Jx.listJson(
          graft.llm.TextOps.queries("text_chunk_overlap")(spark, dataset))}}"""
    }
    // {"view": "compliance"}: the FORGET/GDPR PANEL (r17 T13) — `raw` is
    // the raw-table tombstone report (etl_forget's frame), `clusters` /
    // `lists` / `dictionary` the three STORED artifacts after the forget
    // pass (dedup_forget_clusters / sim_forget_ivf / text_forget_dict
    // verbatim — store-after-forget == rebuild-from-purged, so the panel
    // inherits all four oracles). The page a compliance owner reads to
    // confirm a delete reached the indexes, not just the tables.
    if (view == "compliance") {
      return s"""{"raw":${graft.jx.Jx.listJson(
          graft.etl.Transforms.queries("etl_forget")(spark, dataset))},""" +
        s""""clusters":${graft.jx.Jx.listJson(
          graft.llm.Forget.queries("dedup_forget_clusters")(spark, dataset))},""" +
        s""""lists":${graft.jx.Jx.listJson(
          graft.llm.Forget.queries("sim_forget_ivf")(spark, dataset))},""" +
        s""""dictionary":${graft.jx.Jx.listJson(
          graft.llm.Forget.queries("text_forget_dict")(spark, dataset))},""" +
        // the STREAMED feed's converged dictionary (ST27 — tombstones
        // arriving over time must land in the same purged state)
        s""""feed":${graft.jx.Jx.listJson(
          graft.streaming.Streams.queries("stream_forget_store")(spark, dataset))},""" +
        // r18 trainer-facing completions: the release manifest the
        // trainer consumes (T13h) and the as-of view an auditor asks for
        // ("what did the index hold before batch k?", ST27b) — both
        // byte-identical to their driver keys
        s""""release":${graft.jx.Jx.listJson(
          graft.llm.Forget.queries("pipeline_forget_release")(spark, dataset))},""" +
        s""""asof":${graft.jx.Jx.listJson(
          graft.streaming.Streams.queries("stream_forget_asof")(spark, dataset))},""" +
        // T13m: the USER-domain forget — the dashboard's own sketch
        // store after a GDPR user delete (count exact vs purged raw,
        // p50/HLL in band), byte-identical to `agg_forget_sketch`
        s""""sketches":${graft.jx.Jx.listJson(
          graft.llm.Forget.queries("agg_forget_sketch")(spark, dataset))},""" +
        // T13n: the per-store AUDIT table the compliance owner files —
        // surviving row counts + zero tombstone references, scanned
        // from the forgotten artifacts themselves
        s""""audit":${graft.jx.Jx.listJson(
          graft.llm.Forget.queries("etl_forget_audit")(spark, dataset))}}"""
    }
    throw new IllegalArgumentException(s"unknown view: $view")
  }

  /** The 400 body `{"error": <message>}`. */
  private def errorBody(e: Exception): String =
    mapper.writeValueAsString(mapper.createObjectNode()
      .put("error", Option(e.getMessage).getOrElse("query failed")))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}
