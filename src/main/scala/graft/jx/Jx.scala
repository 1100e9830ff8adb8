package graft.jx

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.JxFunctions
import graft.operators.Common.Q

/** jx JSON query compiler — the reference's user-facing query language
  * (upstream: jx_base/query.py normalizes the JSON into a QueryOp of
  * Expressions; jx_python/jx.py interprets it row-at-a-time; and
  * jx_elasticsearch translates it to ES aggregations). Here the SAME
  * normalized pipeline compiles to ONE declarative DataFrame plan —
  * filter → edges/groupby aggregate → window → sort → limit — so Catalyst
  * optimizes the whole query and nothing is interpreted per row.
  *
  * Supported surface (SURVEY.md §2.2/§2.4/§2.5 — the subset the upstream
  * docs exercise; each op maps onto the operator inventory this repo
  * already oracle-verifies one by one):
  *
  *  - `from`: table name, resolved by the caller-supplied resolver
  *  - `where`: op-tree — and/or/not, eq/ne (null-safe), gt/gte/lt/lte,
  *    in, missing/exists, prefix/suffix/find/between, arithmetic
  *    add/sub/mult/div (null-skipping), floor/abs, coalesce, case,
  *    length/lower/upper/trim, concat, literal
  *  - `select`: "." (all), a field, or a list of {name, value, aggregate};
  *    aggregates: count sum min max average cardinality median union
  *  - `groupby`: sparse grouping; `edges`: DENSE grouping — every domain
  *    part appears (distinct values ∪ the jx null part), empty cells
  *    materialized with count 0
  *  - `window`: [{name, value, aggregate, edges, sort, range{min,max}}] —
  *    rows-frame running/sliding aggregates per partition
  *  - `sort`: field | {value, sort: "desc"} | list; `limit`: int
  *
  * jx convention: bare strings in expression positions are VARIABLES
  * (column paths); literals are written {"literal": v} (numbers/booleans
  * in operator arguments are taken literally). The object shorthand
  * {"eq": {"f": 1}} is accepted alongside the array form
  * {"eq": ["f", {"literal": 1}]}.
  */
object Jx {

  private val mapper = new ObjectMapper()

  /** The reference's `format: "cube"` RESULT serialization (upstream:
    * jx_python/cubes / mo_collections/matrix.py — ActiveData's datacube
    * response: per-edge domain headers plus one dense n-d value matrix
    * per aggregate, cells aligned to the cross product of the domains).
    *
    * Takes the DENSE result frame a jx edges query produces (edge
    * columns + aggregate columns, every domain combination present) and
    * nests it. This is a formatting layer over an already-aggregated
    * cube — the collect is the result set itself (small by construction:
    * Π |domain| cells), not a data pass; all heavy lifting stayed
    * distributed in [[run]]. Edge parts sort nulls-first, matching the
    * dense-join's null part placement. */
  def cubeJson(df: DataFrame, edgeNames: Seq[String], aggNames: Seq[String]): String =
    cubeJsonWithDomains(df, edgeNames.map((_, "set")), aggNames)

  /** [[cubeJson]] with each edge's domain TYPE carried into its header
    * (a range edge reports `domain.type: "range"`, not a generic set) —
    * partitions still come from the dense result frame, which already
    * materializes every domain part by construction. */
  def cubeJsonWithDomains(df: DataFrame, edges: Seq[(String, String)],
      aggNames: Seq[String]): String = {
    val edgeNames = edges.map(_._1)
    // formatting-layer guard: the cube is dense (Π |domain| cells) and
    // the HTTP surface accepts arbitrary edges, so refuse to pull a
    // result set that is no longer "response-sized" onto the driver
    // instead of OOMing it — the caller should bound the edge domains
    // (limit / explicit domain) and retry
    val maxCells = 100000
    val rows = df.limit(maxCells + 1).collect()
    require(rows.length <= maxCells,
      s"cube result exceeds $maxCells cells; bound the edge domains")
    val schema = df.schema
    val edgeIdx = edgeNames.map(schema.fieldIndex)
    val aggIdx = aggNames.map(schema.fieldIndex)
    // per-edge domains in null-first order (null = the jx null part)
    val ordering: Ordering[Any] = Ordering.fromLessThan {
      case (null, _) => true
      case (_, null) => false
      case (a: java.lang.Comparable[_], b) =>
        a.asInstanceOf[java.lang.Comparable[Any]].compareTo(b) < 0
      case (a, b) => a.toString < b.toString
    }
    val domains: Seq[Seq[Any]] = edgeIdx.map(i =>
      rows.map(_.get(i)).distinct.sorted(ordering).toSeq)
    val pos: Seq[Map[Any, Int]] = domains.map(_.zipWithIndex.toMap)

    val root = mapper.createObjectNode()
    root.putObject("meta").put("format", "cube")
    val edgesArr = root.putArray("edges")
    edges.zip(domains).foreach { case ((name, domType), parts) =>
      val e = edgesArr.addObject()
      e.put("name", name)
      val dom = e.putObject("domain")
      dom.put("type", domType)
      val ps = dom.putArray("partitions")
      parts.foreach { v =>
        val p = ps.addObject()
        putValue(p, "value", v)
      }
    }
    val data = root.putObject("data")
    aggNames.zip(aggIdx).foreach { case (aggName, ai) =>
      // dense n-d matrix as nested arrays, first edge outermost
      val cellMap: Map[List[Int], Any] = rows.map { r =>
        edgeIdx.zipWithIndex.map { case (ei, d) => pos(d)(r.get(ei)) }.toList -> r.get(ai)
      }.toMap
      def build(dim: Int, coords: List[Int]): com.fasterxml.jackson.databind.JsonNode =
        if (dim == edgeIdx.length) valueNode(cellMap.getOrElse(coords, null))
        else {
          val arr = mapper.createArrayNode()
          domains(dim).indices.foreach(i => arr.add(build(dim + 1, coords :+ i)))
          arr
        }
      val _ = data.set[com.fasterxml.jackson.databind.JsonNode](aggName, build(0, Nil))
    }
    mapper.writeValueAsString(root)
  }

  /** The reference's `format: "list"` response shape (upstream:
    * jx_python/jx.py format layer): one JSON object per row,
    * {"meta": {"format": "list"}, "data": [{col: value, …}, …]}.
    * Like [[cubeJson]], this is a serialization layer over the FINAL
    * result frame (already aggregated/limited by [[run]]) — the collect
    * is the response body itself, not a data pass. Row order is the
    * frame's order (the jx sort). */
  def listJson(df: DataFrame): String = {
    val names = df.schema.fieldNames
    val root = mapper.createObjectNode()
    root.putObject("meta").put("format", "list")
    val data = root.putArray("data")
    df.collect().foreach { r =>
      val o = data.addObject()
      names.zipWithIndex.foreach { case (n, i) => putValue(o, n, r.get(i)) }
    }
    mapper.writeValueAsString(root)
  }

  /** The reference's `format: "table"` response shape: column header once,
    * then positional value rows — {"meta": {"format": "table"},
    * "header": [col, …], "data": [[v, …], …]}. Same serialization-layer
    * contract as [[listJson]]. */
  def tableJson(df: DataFrame): String = {
    val names = df.schema.fieldNames
    val root = mapper.createObjectNode()
    root.putObject("meta").put("format", "table")
    val header = root.putArray("header")
    names.foreach(header.add)
    val data = root.putArray("data")
    df.collect().foreach { r =>
      val row = data.addArray()
      names.indices.foreach(i => row.add(valueNode(r.get(i))))
    }
    mapper.writeValueAsString(root)
  }

  private def valueNode(v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
    case null => mapper.nullNode()
    case b: java.lang.Boolean => mapper.getNodeFactory.booleanNode(b)
    case n: java.lang.Long => mapper.getNodeFactory.numberNode(n.longValue())
    case n: java.lang.Integer => mapper.getNodeFactory.numberNode(n.intValue())
    case n: java.lang.Double => mapper.getNodeFactory.numberNode(n.doubleValue())
    case s => mapper.getNodeFactory.textNode(s.toString)
  }

  private def putValue(o: com.fasterxml.jackson.databind.node.ObjectNode,
      field: String, v: Any): Unit = {
    val _ = o.set[com.fasterxml.jackson.databind.JsonNode](field, valueNode(v))
  }

  /** [[run]] + the response serialization the reference's HTTP layer
    * performs, dispatched on the query's `format` field (upstream:
    * jx_python/jx.py format switch): "cube" (default when the query has
    * edges — the datacube identity), "table", or "list" (default
    * otherwise: a row-shaped query has no domain headers to build).
    * Returns the JSON response body. */
  def runFormatted(spark: SparkSession, json: String,
      tables: String => DataFrame,
      dataset: Option[String] = None): String = {
    val q = mapper.readTree(json)
    val df = run(spark, json, tables, dataset)
    val edgeNames = opt(q, "edges").map(arr).getOrElse(Nil).map(edgeName)
    val default = if (edgeNames.nonEmpty) "cube" else "list"
    opt(q, "format").map(_.asText()).getOrElse(default) match {
      case "list"  => listJson(df)
      case "table" => tableJson(df)
      case "cube" =>
        require(edgeNames.nonEmpty, "format:cube needs edges")
        val aggs = selectList(q).filter(_.aggregate.isDefined).map(_.name)
        val edgeDoms = opt(q, "edges").map(arr).getOrElse(Nil).map { e =>
          val dt = (if (e.isTextual) None else opt(e, "domain"))
            .flatMap(d => opt(d, "type")).map(_.asText()).getOrElse("set")
          (edgeName(e), dt)
        }
        cubeJsonWithDomains(df, edgeDoms, if (aggs.nonEmpty) aggs else Seq("count"))
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** Compile and run a jx JSON query. `tables` resolves the `from` name.
    * A dotted `from` ("perf.suites.subtests") unnests each array segment —
    * the jx data model makes the unnest part of the FROM clause (upstream:
    * jx_base/query.py deep-from normalization): each element of the
    * terminal array becomes a row, addressable under the segment name
    * (select "subtests.value"), with parent columns still in scope. */
  def run(spark: SparkSession, json: String, tables: String => DataFrame,
      dataset: Option[String] = None): DataFrame =
    runNode(spark, mapper.readTree(json), tables, dataset)

  private def runNode(spark: SparkSession, q: JsonNode,
      tables: String => DataFrame,
      dataset: Option[String] = None): DataFrame = {
    // `pipeline` in from-position: the composed corpus-hygiene chain
    // (normalize → redact → near-dup drop → decontaminate → pack) as a
    // first-class jx query type, so the reference's users reach the
    // engine's flagship pipeline through the SAME front-end they speak
    // everywhere else (upstream analog: jx is ActiveData's single user
    // surface). The corpus/benchmark inputs are themselves full jx
    // queries, and the usual tail (where/select/sort/limit/window)
    // applies over the packed survivor frame — one composed plan.
    val base = (opt(q, "pipeline"), opt(q, "corpus_op")) match {
      case (Some(p), _) => runPipeline(spark, p, tables, dataset)
      case (None, Some(c)) => runCorpusOp(spark, c, tables, dataset)
      case _ =>
        val fromNode = req(q, "from")
        // nested FROM: a jx query in from-position runs first and becomes
        // the base frame (upstream: jx_base/query.py accepts a QueryOp as
        // `from`). Compiles to one composed plan — Catalyst sees through
        // the nesting, so filters on the outer query still push into the
        // inner one's scan.
        if (fromNode.isObject) runNode(spark, fromNode, tables, dataset)
        else resolveFrom(fromNode.asText(), tables)
    }
    val filtered = opt(q, "where").map(w => base.filter(expr(w))).getOrElse(base)

    val selects = selectList(q)
    val aggs = selects.filter(_.aggregate.isDefined)
    val edges = opt(q, "edges").map(arr).getOrElse(Nil).map(parseEdge)
    val groupby = opt(q, "groupby").map(n =>
      if (n.isTextual) Seq(n.asText()) else arr(n).map(_.asText())).getOrElse(Nil)

    val projected =
      if (edges.nonEmpty) denseEdges(filtered, edges, aggs)
      else if (groupby.nonEmpty || aggs.nonEmpty) sparseGroup(filtered, groupby, aggs)
      else selects match {
        case Nil => filtered
        case ss => filtered.select(ss.flatMap { s =>
          // jx leaves select: "a.*" expands a struct to its fields under
          // dotted leaf names ("a.b"), the reference's flattened-document
          // convention (upstream: mo_dots leaves)
          if (s.valueNode.isEmpty && s.value.endsWith(".*")) {
            val parent = s.value.dropRight(2)
            val fields = filtered.select(col(parent)).schema.head.dataType
              .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
            fields.toSeq.map(f => col(s"$parent.$f").as(s"$parent.$f"))
          } else Seq(selValue(s).as(s.name))
        }: _*)
      }

    val windowed = opt(q, "window").map(ws => applyWindows(projected, arr(ws)))
      .getOrElse(projected)

    val sorted = opt(q, "sort").map { sn =>
      val keys = (if (sn.isArray) arr(sn) else Seq(sn)).map {
        case t if t.isTextual => asc_nulls_first(t.asText())
        case o =>
          val c = col(req(o, "value").asText())
          if (opt(o, "sort").exists(_.asText() == "desc")) c.desc_nulls_last
          else c.asc_nulls_first
      }
      windowed.orderBy(keys: _*)
    }.getOrElse(windowed)

    opt(q, "limit").map(n => sorted.limit(n.asInt())).getOrElse(sorted)
  }

  /** Compile a {"pipeline": {...}} node into [[graft.llm.Pipeline
    * .corpusHygiene]]. Spec keys: `corpus` and `benchmark` (jx queries,
    * required), `jaccard_threshold`, `min_overlap`, `context`, `shards`,
    * `trim_spans` (optional knobs, defaulting to the library defaults).
    * Output schema is the hygiene pipeline's packed survivor layout:
    * (doc_id, shard, n_tok, chunk_id, chunk_offset, final_md5). */
  /** The STANDARD corpus/benchmark split ({documents, doc_id ≥ 10} /
    * {documents, doc_id < 10}) — exactly the frames the stored
    * `hygiene_survivors` artifact was built from, so a pipeline query
    * over this shape may ride the store instead of re-running the whole
    * hygiene chain in-plan (the corpus_op store-routing contract; r17
    * verdict flagged jx_order at 2× its store-probing twin for exactly
    * this reason). Shape-checked structurally, not by string compare. */
  private def isStdSplit(corpus: JsonNode, bench: JsonNode): Boolean = {
    def shape(n: JsonNode, cmp: String): Boolean =
      n.isObject && n.size() == 2 &&
        opt(n, "from").exists(f => f.isTextual && f.asText() == "documents") &&
        opt(n, "where").exists { w =>
          w.isObject && w.size() == 1 && w.has(cmp) && {
            val a = w.get(cmp)
            a.isArray && a.size() == 2 && a.get(0).asText() == "doc_id" &&
              a.get(1).isIntegralNumber && a.get(1).asInt() == 10
          }
        }
    shape(corpus, "gte") && shape(bench, "lt")
  }

  private def runPipeline(spark: SparkSession, p: JsonNode,
      tables: String => DataFrame,
      dataset: Option[String] = None): DataFrame = {
    val stdStore = dataset.filter(_ =>
      isStdSplit(req(p, "corpus"), req(p, "benchmark")) &&
        opt(p, "shards").forall(_.asInt() == 16))
    // `"release": true` switches the output from the packed survivor
    // layout to the trainer-facing RELEASE manifest (survivors →
    // classifier gate → split/shard rollup, Pipeline.corpusRelease) —
    // the corpus query must then also carry `source`
    if (opt(p, "release").exists(_.asBoolean())) {
      // `"forget": true` on the release path → the post-GDPR manifest
      // (curation decisions frozen, tombstoned members purged before the
      // rollup) — the T13h store-side algebra at the standard split, the
      // in-plan frozen-decision purged rollup otherwise
      val forget = opt(p, "forget").exists(_.asBoolean())
      stdStore match {
        case Some(d) if forget => graft.llm.Forget.pipelineForgetRelease(spark, d)
        case Some(d) => graft.llm.Pipeline.queries("pipeline_corpus_release")(spark, d)
        case None =>
          val rel =
            if (forget) graft.llm.Pipeline.corpusReleaseForgotten _
            else graft.llm.Pipeline.corpusRelease _
          rel(runNode(spark, req(p, "corpus"), tables, dataset),
            runNode(spark, req(p, "benchmark"), tables, dataset),
            opt(p, "shards").map(_.asInt()).getOrElse(16))
      }
    }
    // `"order": true` → the trainer-facing READING ORDER over the
    // hygiene survivors (corpus must carry `source`); standard split +
    // dataset rides the stored survivor artifact (identical result —
    // the store IS corpusSurvivors of these frames)
    else if (opt(p, "order").exists(_.asBoolean())) stdStore match {
      case Some(d) => graft.llm.Pipeline.queries("pipeline_corpus_order")(spark, d)
      case None => graft.llm.Pipeline.corpusOrder(
        runNode(spark, req(p, "corpus"), tables, dataset),
        runNode(spark, req(p, "benchmark"), tables, dataset))
    }
    else {
      val corpus = runNode(spark, req(p, "corpus"), tables, dataset)
      // `"ensemble": true` composes the X4w 2-of-3 multi-filter vote in
      // front of the chain — the corpus query must then carry `source`
      graft.llm.Pipeline.corpusHygiene(
        corpus,
        runNode(spark, req(p, "benchmark"), tables, dataset),
        jaccardThreshold = opt(p, "jaccard_threshold").map(_.asDouble()).getOrElse(0.5),
        minOverlap = opt(p, "min_overlap").map(_.asInt()).getOrElse(3),
        ctx = opt(p, "context").map(_.asLong()).getOrElse(2048L),
        nShards = opt(p, "shards").map(_.asLong()).getOrElse(8L),
        trimSpans = opt(p, "trim_spans").exists(_.asBoolean()),
        ensembleSources =
          if (opt(p, "ensemble").exists(_.asBoolean()))
            Some(corpus.select("doc_id", "source"))
          else None,
        // `"tiered": true` composes the X4aa CCNet perplexity-tier gate
        // in front instead — the corpus query must then carry `source`
        tieredSources =
          if (opt(p, "tiered").exists(_.asBoolean()))
            Some(corpus.select("doc_id", "source"))
          else None,
        // `"rules": true` composes the X4af Gopher/C4 rule-table gate
        // in front instead — the corpus query must then carry `source`
        rulesSources =
          if (opt(p, "rules").exists(_.asBoolean()))
            Some(corpus.select("doc_id", "source"))
          else None)
    }
  }

  /** Compile a {"corpus_op": {...}} node: the corpus-level training-data
    * operators reached through jx, the same single-user-surface story as
    * `pipeline` (upstream analog: jx is ActiveData's only query language).
    * Spec keys: `op` (a key of [[corpusOps]]), `corpus` (a jx query) and
    * the op's knobs. The builders are the Column-API library entry
    * points, so the jx front end lands on the exact decision sets the
    * oracles pin. A knob the chosen route never reads is rejected, not
    * answered as if it were absent. */
  private def runCorpusOp(spark: SparkSession, c: JsonNode,
      tables: String => DataFrame, dataset: Option[String]): DataFrame = {
    val name = req(c, "op").asText()
    val op = corpusOps.getOrElse(name,
      throw new IllegalArgumentException(s"unknown corpus_op: $name"))
    val call = new Call(spark, c, runNode(spark, req(c, "corpus"), tables, dataset), tables)
    val out = (storedRoute(c, dataset), op.inPlan) match {
      case (Some(d), _) =>
        // the twin was built at its build knobs, which the request matched
        op.build.foreach { case (k, v) => call.read(k, v) }
        op.stored.get(call, d)
      case (None, Some(build)) => build(call)
      case (None, None) => throw new IllegalArgumentException(
        s"$name reads the dataset's stored artifacts; run it with a dataset " +
          s"and the plain ${op.from} corpus")
    }
    val unread = c.fieldNames.asScala.filterNot(f => f == "op" || f == "corpus" || call.seen(f))
    if (unread.nonEmpty) throw new IllegalArgumentException(
      s"corpus_op $name does not read ${unread.map(k => s"knob '$k'").mkString(", ")}")
    out
  }

  /** The store-or-rebuild decision: the dataset dir to read the op's
    * stored twin from, or None to build in-plan. The twin answers only
    * the request it was built for: the corpus is exactly {"from": <the
    * twin's table>}, a dataset was given, and every build knob is absent
    * or at its build value. A session then reuses the stored keys'
    * build-once tables instead of rebuilding quantizer, graph or pair
    * chain per query. */
  private[jx] def storedRoute(c: JsonNode, dataset: Option[String]): Option[String] = {
    val op = corpusOps(req(c, "op").asText())
    val corpus = req(c, "corpus")
    val knobs = new Knobs(c)
    dataset.filter(_ => op.stored.isDefined &&
      corpus.isObject && corpus.size() == 1 &&
      opt(corpus, "from").exists(f => f.isTextual && f.asText() == op.from) &&
      op.build.forall { case (k, v) => knobs.read(k, v) == v })
  }

  /** Typed knob readers over a corpus_op spec: a knob of the wrong JSON
    * type is an IllegalArgumentException naming it, never a silent 0.
    * Every knob name asked for is recorded in `seen`. */
  private[jx] class Knobs(c: JsonNode) {
    val seen = scala.collection.mutable.Set[String]()
    private def knob[A](name: String, default: A, ok: JsonNode => Boolean,
        read: JsonNode => A): A = { seen += name; opt(c, name) }.map { n =>
      if (!ok(n)) throw new IllegalArgumentException(
        s"corpus_op knob '$name' has the wrong JSON type: $n")
      read(n)
    }.getOrElse(default)
    def long(name: String, default: Long): Long =
      knob(name, default, _.isIntegralNumber, _.asLong())
    def int(name: String, default: Int): Int =
      knob(name, default, _.isIntegralNumber, _.asInt())
    def double(name: String, default: Double): Double =
      knob(name, default, _.isNumber, _.asDouble())
    def text(name: String, default: String): String =
      knob(name, default, _.isTextual, _.asText())
    /** `"auto"` selects the size-derived list count (the library default
      * [[graft.llm.Similarity.AutoNlist]]); an integer pins it. */
    def nlist(default: Int = 16): Int = knob("nlist", default,
      n => n.isIntegralNumber || (n.isTextual && n.asText() == "auto"),
      n => if (n.isTextual) graft.llm.Similarity.AutoNlist else n.asInt())
    /** `name` read with the type of its build value `v`. */
    def read(name: String, v: Any): Any = v match {
      case b: Double => double(name, b)
      case b: Int => if (name == "nlist") nlist(b) else int(name, b)
    }
  }

  /** What a builder sees: the knobs, the session, the caller's table
    * resolver and the corpus frame (compiled only if a builder reads it). */
  private[jx] final class Call(val spark: SparkSession, c: JsonNode,
      corpus: => DataFrame, val tables: String => DataFrame) extends Knobs(c) {
    lazy val docs: DataFrame = corpus
  }

  /** One corpus_op: its in-plan builder (None for an op that exists only
    * over stored data) and its optional stored twin, built once from the
    * plain `from` table at the `build` knob values. */
  private[jx] final case class CorpusOp(from: String, build: Seq[(String, Any)],
      inPlan: Option[Call => DataFrame], stored: Option[(Call, String) => DataFrame])

  private def op(inPlan: Call => DataFrame) = CorpusOp("", Nil, Some(inPlan), None)
  private def on(inPlan: DataFrame => DataFrame) = op(c => inPlan(c.docs))
  private def twin(from: String, build: (String, Any)*)(inPlan: Call => DataFrame)(
      stored: (Call, String) => DataFrame) = CorpusOp(from, build, Some(inPlan), Some(stored))
  private def probe(q: => Q): (Call, String) => DataFrame =
    (c, d) => q(c.spark, d)
  private def plainTwin(from: String, inPlan: DataFrame => DataFrame,
      stored: => Q) = twin(from)(c => inPlan(c.docs))(probe(stored))
  private def storeOnly(stored: => Q) = CorpusOp("documents", Nil, None, Some(probe(stored)))

  /** Every corpus_op, by name. */
  private[jx] lazy val corpusOps: Map[String, CorpusOp] = {
    import graft.llm.{Dedup, Forget, Multimodal => MM, Similarity => Sim, TextOps => TO}
    import graft.llm.Similarity.{Ivf, KnnGraph}
    import graft.llm.Dedup.PairGraph
    import graft.streaming.Streams
    import graft.etl.Transforms
    def budgeted(f: (DataFrame, Long, Long, Long) => DataFrame) = op(c => f(c.docs,
      c.long("budget_pct", 200L), c.long("max_epochs", 4L), c.long("n_shards", 8L)))
    // The IVF and kNN-graph twins: one analysis over the index (graph),
    // built in-plan from the corpus (its rows for embeddings, its payload
    // embeddings for documents) or opened from the family's store. `use`
    // reads its own knobs before the index is built.
    def ivfTwin(from: String, build: (String, Any)*)(use: Call => Ivf => DataFrame) = {
      val payload = from == "documents"
      twin(from, ("nlist" -> 16) +: build: _*) { c =>
        val (f, nlist) = (use(c), c.nlist())
        f(Ivf.of(if (payload) MM.payloadVecsOf(c.docs) else c.docs, nlist))
      } { (c, d) =>
        use(c)(if (payload) Ivf.stored(c.spark, d, "mm_quantizer")(MM.mmVecsOf(c.spark, d))
          else Ivf.stored(c.spark, d)())
      }
    }
    def tauTwin(from: String, tau: Double, build: (String, Any)*)(f: (Ivf, Double) => DataFrame) =
      ivfTwin(from, build: _*) { c => val v = c.double("tau", tau); f(_, v) }
    def graphTwin(use: Call => KnnGraph => DataFrame) =
      twin("embeddings", "nlist" -> 16, "k" -> 3)(c =>
        use(c)(KnnGraph.of(c.docs, c.nlist(), c.int("k", 3))))((c, d) =>
        use(c)(KnnGraph.stored(c.spark, d)))
    // The MinHash pair-graph twins: one analysis over the pair graph,
    // built in-plan from the corpus or opened from the minhash_pairs
    // store; the forget twins read the graph with the tombstoned docs
    // forgotten, in-plan or from the forgotten store.
    def pairTwin(use: PairGraph => DataFrame) =
      twin("documents")(c => use(PairGraph.of(c.docs)))((c, d) =>
        use(PairGraph.stored(c.spark, d)))
    def forgetTwin(use: PairGraph => DataFrame) =
      twin("documents")(c => use(Forget.forgotten(PairGraph.of(c.docs))))((c, d) =>
        use(Forget.forgottenPairGraph(c.spark, d)))
    // the streamed quality monitor keeps the exact per-source token sums
    // the schedulers plan from, so the stored twins scan no corpus
    def tokenSums(c: Call, d: String) =
      Streams.queries("stream_quality_store")(c.spark, d)
        .select(col("source"), col("n_tokens").as("n_tok"), col("n_docs"))
    Map(
      "quality_gate" -> on(TO.qualityFilterOf(_)),
      "payload_quality" -> on(MM.qualityReport(_)),
      "payload_pack_manifest" -> op(c => TO.packMergeFrom(
        MM.mmPackPartialsOf(c.docs, nShards = c.long("n_shards", 8L)),
        ctx = c.long("ctx", 2048L))),
      "payload_pack" -> op(c => MM.mmPackOf(c.docs, ctx = c.long("ctx", 2048L),
        nShards = c.long("n_shards", 8L)).orderBy("doc_id").limit(300)),
      "payload_pack_tuning" -> op(c =>
        MM.mmPackTuningOf(c.docs, nShards = c.long("n_shards", 8L))),
      "payload_dedup" -> plainTwin("documents", MM.dedupPairsOf(_), MM.queries("mm_dedup")),
      "payload_semantic_dedup" -> tauTwin("documents", 0.999, "tau" -> 0.999)(Sim.semanticDedup),
      "payload_knn" -> ivfTwin("documents")(_ => Sim.knnJoin(_)),
      // the text tower is the standard embeddings table
      "payload_align" -> twin("documents") { c =>
        val (docs, text) = (c.docs, resolveFrom("embeddings", c.tables))
        MM.textAlignFrom(MM.payloadVecsOf(docs), text, docs)
      }(probe(MM.queries("mm_text_align"))),
      "payload_semantic_decon" ->
        tauTwin("documents", 0.999, "tau" -> 0.999)(Sim.semanticDecon(_, _)),
      "payload_decon_report" -> tauTwin("documents", 0.999, "tau" -> 0.999)(Sim.deconReport),
      "source_kl" -> on(TO.sourceKlOf(_)),
      "mix_schedule" -> twin("documents")(c => TO.mixScheduleOf(c.docs,
        c.long("budget_pct", 200L), c.long("max_epochs", 4L)))((c, d) =>
        TO.mixScheduleFromTok(tokenSums(c, d).drop("n_docs"),
          c.long("budget_pct", 200L), c.long("max_epochs", 4L))),
      "anneal_order" -> op(c => TO.annealOrderOf(c.docs,
        bulkPct = c.long("bulk_pct", 160L), annealPct = c.long("anneal_pct", 40L),
        maxEpochs = c.long("max_epochs", 4L), nShards = c.long("n_shards", 8L))),
      "curriculum_order" -> budgeted(TO.curriculumOrderOf),
      "train_order" -> budgeted(TO.trainOrderOf),
      "order_audit" -> budgeted(TO.orderAuditOf),
      "epoch_budget" -> budgeted(TO.epochBudgetOf),
      "pack_tuning" -> op(c => TO.packTuningOf(c.docs, nShards = c.long("n_shards", 8L))),
      // the stored twin scores against the frozen bigram LM (the tables
      // the streamed score store probes) instead of training one
      "ppl_buckets" -> twin("documents")(c => TO.pplBucketsOf(c.docs)) { (c, d) =>
        val (ab, ctx, v) = TO.bigramLmStored(c.spark, d)
        TO.pplTiersFrom(TO.bigramNllAgainstLm(c.docs, ab, ctx, v))
      },
      // the card's dup and decon columns need the stored pair-graph and
      // bench conventions, so it is defined over the standard dataset only
      "dataset_card" -> storeOnly(TO.queries("text_dataset_card")),
      // two monitors, one planner: the classifier monitor adds the exact
      // pass counts the anneal phase plans from
      "anneal_schedule" -> twin("documents")(c => TO.annealScheduleOf(c.docs,
        c.long("bulk_pct", 160L), c.long("anneal_pct", 40L), c.long("max_epochs", 4L)))(
        (c, d) => TO.annealScheduleFromParts(tokenSums(c, d).join(
          Streams.queries("stream_classifier_store")(c.spark, d)
            .select(col("source"), col("n_sel")), Seq("source")),
          c.long("bulk_pct", 160L), c.long("anneal_pct", 40L), c.long("max_epochs", 4L))),
      "novelty" -> on(TO.ngramNoveltyOf(_)),
      "rule_filter" -> on(TO.ruleFilterOf(_)),
      "rule_profile" -> on(TO.ruleProfileOf(_)),
      "line_dedup" -> on(TO.lineDedupOf(_)),
      "secret_scan" -> on(TO.secretScanOf(_)),
      "hygiene_report" -> on(TO.hygieneReportOf(_)),
      "novelty_curve" -> on(TO.noveltyCurveOf(_)),
      "novelty_sources" -> on(TO.noveltySourcesOf(_)),
      "soft_sample" -> pairTwin(Dedup.softSample),
      "threshold_tuning" -> pairTwin(Dedup.thresholdTuning),
      "reweight" -> pairTwin(Dedup.reweight),
      "split_stratified" -> pairTwin(Dedup.splitStratified),
      "split_leakfree" -> pairTwin(Dedup.splitLeakfree),
      "quality_classifier" -> on(TO.qualityClassifierOf(_)),
      "quality_calibration" -> on(TO.qualityCalibrationOf(_)),
      "quality_ensemble" -> on(TO.qualityEnsembleOf(_)),
      // in-plan, the BPE vocabulary is trained from the corpus subquery itself
      "fertility" -> plainTwin("documents",
        d => TO.fertilityOf(d, TO.fertilityVocabOf(d)), TO.queries("text_fertility")),
      "knn_join" -> ivfTwin("embeddings")(_ => Sim.knnJoin(_)),
      "probe_tuning" -> ivfTwin("embeddings")(_ => Sim.probeTuning(_)),
      "sq8" -> plainTwin("embeddings", Sim.sq8TopkOf(_), Sim.queries("sim_sq8")),
      "token_budget" -> op(c =>
        TO.tokenBudgetOf(c.docs, c.long("quota", 300L), c.long("shards", 4L))),
      "bpe_merges" -> op(c => TO.bpeMergesOf(c.docs, c.int("merges", 3))),
      "semantic_dedup" -> tauTwin("embeddings", 0.35)(Sim.semanticDedup),
      "decon_recall" -> tauTwin("embeddings", 0.35)(Sim.deconRecall),
      "decon_report" -> tauTwin("embeddings", 0.35)(Sim.deconReport),
      "semantic_decon" -> tauTwin("embeddings", 0.35)(Sim.semanticDecon(_, _)),
      "overlap" -> op(c => Dedup.corpusOverlapOf(c.docs, c.int("k", 128))),
      "dsir" -> op(c => TO.dsirOf(c.docs, c.text("target_lang", "en"), c.int("buckets", 128))),
      "shard_manifest" -> op(c => TO.shardManifest(c.docs, c.int("shards", 16))),
      "pack_manifest" -> op(c =>
        TO.packManifest(c.docs, c.long("context", 2048L), c.long("shards", 8L))),
      "knn_diverse" -> graphTwin { c => val m = c.int("m", 2); Sim.knnDiverse(_, m) },
      "knn_clusters" -> graphTwin(_ => Sim.knnClusters),
      "knn_stats" -> graphTwin(_ => Sim.knnStats),
      "knn_recall" -> graphTwin(_ => Sim.knnRecall(_)),
      "knn_centrality" -> graphTwin(_ => Sim.knnCentrality),
      "knn_coreset" -> graphTwin { c => val m = c.int("m", 2); Sim.knnCoreset(_, m) },
      "quantizer_refresh" -> ivfTwin("embeddings")(_ => Sim.quantizerRefresh),
      "ivf_delta" -> op(c => Sim.ivfDeltaOf(c.docs, c.nlist(32))),
      // the even/odd split is the dedup_pairs_delta key's own split;
      // the delta's exactness claim does not depend on the corpus
      "pairs_delta" -> on(d => Dedup.pairsReadout(Dedup.pairsDeltaOf(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 =!= 0)))),
      // the report summarizes the stored decision sets (pair-graph drop
      // list, quality monitor); a corpus subquery has none to summarize
      "curation_report" -> storeOnly(TO.queries("text_curation_report")),
      "dedup_profile" -> pairTwin(Dedup.profile),
      "pair_centrality" -> pairTwin(Dedup.pairCentrality),
      "quality_monitor" -> plainTwin("documents",
        d => TO.qualityMergeFrom(TO.qualityPartialsOf(d)),
        Streams.queries("stream_quality_store")),
      "canonical" -> pairTwin(Dedup.canonical),
      // the corpus is the documents being mixed; the topics come from a
      // quantizer over the embeddings table
      "topic_mix" -> twin("documents", "nlist" -> 16, "alpha" -> 0.5)(c =>
        Sim.topicMixOf(c.docs, Ivf.of(c.tables("embeddings"), c.nlist()).assign,
          c.double("alpha", 0.5)))(probe(Sim.textTopicMix)),
      "inverted_index" -> on(TO.invertedIndexOf(_)),
      "bm25" -> on(TO.bm25Of(_)),
      "chunks" -> on(TO.chunkHashesOf(_)),
      "funnel" -> on(Transforms.funnelOf(_)),
      "sessions" -> on(Transforms.sessionsOf(_)),
      "transitions" -> on(Transforms.transitionsOf(_)),
      "zorder" -> on(Transforms.zorderOf(_)),
      "hybrid_search" -> op(c => Sim.hybridSearchOf(c.docs, c.tables("embeddings"))),
      // forget propagation: the stored twins are the FORGOTTEN stores, and
      // the in-plan builders are the rebuild-from-purged the store gate
      // pins equal to them
      "forget_pairs" -> forgetTwin(g => Dedup.pairsReadout(g.pairs)),
      "forget_clusters" -> forgetTwin(Dedup.clusters),
      "forget_ivf" -> plainTwin("embeddings", Forget.forgetIvfOf(_), Forget.simForgetIvf),
      "forget_dict" -> plainTwin("documents", Forget.forgetDictOf(_), Forget.textForgetDict),
      "forget_payload" -> plainTwin("documents", Forget.forgetPayloadPairsOf(_),
        Forget.mmForgetPairs),
      "forget_knn" -> plainTwin("embeddings", Forget.forgetKnnOf(_), Forget.simForgetKnn),
      "forget_canonical" -> forgetTwin(Dedup.canonical),
      "forget_manifest" -> plainTwin("documents", Forget.forgetManifestOf(_),
        Forget.textForgetManifest),
      "forget_novelty" -> plainTwin("documents", Forget.forgetNoveltyOf(_),
        Forget.textForgetNovelty),
      "forget_sq8" -> plainTwin("embeddings", Forget.forgetSq8Of(_), Forget.simForgetSq8),
      "forget_lines" -> plainTwin("documents", Forget.forgetLinesOf(_), Forget.textForgetLines),
      // tombstones are user-keyed, so the sketch store's twin is the events table
      "forget_sketch" -> plainTwin("events", Forget.forgetSketchOf(_), Forget.aggForgetSketch),
      // the audit is over the stored artifacts by definition
      "forget_audit" -> storeOnly(Forget.etlForgetAudit))
  }

  private def resolveFrom(name: String, tables: String => DataFrame): DataFrame = {
    val segs = name.split("\\.")
    segs.tail.foldLeft((tables(segs.head), "")) { case ((df, prefix), seg) =>
      val path = if (prefix.isEmpty) seg else s"$prefix.$seg"
      (df.withColumn(seg, explode_outer(col(path))), seg)
    }._1
  }

  // ------------------------------------------------------------ select/agg

  /** `valueNode` carries a non-trivial jx expression in value position
    * (the reference allows full op-trees anywhere a field name fits);
    * compiled through [[expr]]. Plain field names stay in `value`.
    * `percentile` parameterizes the percentile aggregate (upstream:
    * select {"aggregate": "percentile", "percentile": p}); `bits`
    * parameterizes the bloom aggregate's filter size — a fixed default
    * silently inflates the FPR once a group's key cardinality outgrows
    * it, so the spec must be able to carry the size. */
  private case class Sel(name: String, value: String, aggregate: Option[String],
      valueNode: Option[JsonNode] = None, percentile: Option[Double] = None,
      bits: Option[Int] = None)

  private def selectList(q: JsonNode): Seq[Sel] =
    opt(q, "select") match {
      case None => Nil
      case Some(s) if s.isTextual =>
        if (s.asText() == ".") Nil else Seq(Sel(s.asText(), s.asText(), None))
      case Some(s) =>
        (if (s.isArray) arr(s) else Seq(s)).map {
          case t if t.isTextual => Sel(t.asText(), t.asText(), None)
          case o =>
            val vNode = opt(o, "value")
            val exprNode = vNode.filter(v => !v.isTextual)
            val value = vNode.filter(_.isTextual).map(_.asText()).getOrElse(".")
            val name = opt(o, "name").map(_.asText()).getOrElse(value)
            Sel(name, value, opt(o, "aggregate").map(_.asText()), exprNode,
              opt(o, "percentile").map(_.asDouble()),
              opt(o, "bits").map(_.asInt()))
        }
    }

  /** The Column for a select's value position: compiled op-tree if the
    * value is an expression, else a bare column path. */
  private def selValue(s: Sel): Column =
    s.valueNode.map(expr).getOrElse(col(s.value))

  private def aggCol(s: Sel): Column = aggColRaw(s).as(s.name)

  private def aggColRaw(s: Sel): Column = {
    val v = s.valueNode.map(expr)
      .getOrElse(if (s.value == ".") lit(1) else col(s.value))
    (s.aggregate.get match {
      case "count"       => count(v)
      case "sum"         => sum(v)
      case "min"         => min(v)
      case "max"         => max(v)
      case "average"     => avg(v)
      case "cardinality" => countDistinct(v)
      case "median" =>
        org.apache.spark.sql.functions.percentile(v, lit(0.5))
      case "percentile" =>
        org.apache.spark.sql.functions.percentile(v, lit(s.percentile.getOrElse(0.5)))
      case "union"       => array_sort(collect_set(v))
      // deterministic mode: most frequent value, ties to the smallest
      case "mode"        => call_function("mode", v, lit(true))
      // sketch aggregates — the 100 TB twins of cardinality/percentile,
      // reachable from the query language, not just the Column API. Each
      // compiles to the same mergeable aggregate the operator layer uses;
      // map-side partials and KB-scale shuffle rows come for free.
      case "cardinality_hll" =>
        // datasketches HLL: estimate over the merged per-group sketch
        hll_sketch_estimate(hll_sketch_agg(v))
      case "percentile_tdigest" =>
        graft.functions.TDigestQuantile(
          graft.functions.TDigestSketchAgg(v), s.percentile.getOrElse(0.5))
      case "bloom" =>
        // the membership-gate artifact itself (binary); a caller feeds it
        // to bloom_might_contain — jx_sketch gates the DECISIONS it makes.
        // Size comes from the spec ("bits"): a fixed default breaks the
        // FP pin once a group's cardinality outgrows it (at 10 bits/key
        // the 1<<20 default saturates near 100k keys/group).
        graft.functions.BloomSketchAgg(v, s.bits.getOrElse(1 << 20), 7)
      case other => throw new IllegalArgumentException(s"unsupported aggregate: $other")
    })
  }

  /** Aggregates whose buffers are OBJECTS (sketch/typed-imperative or
    * value-buffering): pairing any of these with an exact DISTINCT
    * aggregate in ONE Aggregate is pathological — Spark's
    * RewriteDistinctAggregates evaluates the non-distinct aggregates in a
    * first phase keyed by (group keys, distinct column), i.e. one sketch
    * buffer PER DISTINCT VALUE. Measured on 1M events × 5 groups with an
    * 8M-bit bloom + HLL + t-digest: 11.5 s fused vs <1.5 s for the two
    * aggregations run separately (the buffers are per-group again). */
  private val bufferAggs = Set(
    "cardinality_hll", "percentile_tdigest", "bloom",
    "median", "percentile", "union", "mode")

  private def sparseGroup(df: DataFrame, groupby: Seq[String], aggs: Seq[Sel]): DataFrame = {
    val (distincts, others) = aggs.partition(_.aggregate.contains("cardinality"))
    if (distincts.nonEmpty && others.exists(_.aggregate.exists(bufferAggs))) {
      // split: distinct aggregates in one Aggregate, buffer aggregates in
      // another, equi-joined back on the group keys (or crossed for a
      // global aggregate) — same rows and values, linear buffer count.
      val dCols = distincts.map(aggCol)
      val oCols = others.map(aggCol)
      val dPart = df.groupBy(groupby.map(col): _*).agg(dCols.head, dCols.tail: _*)
      val oPart = df.groupBy(groupby.map(col): _*).agg(oCols.head, oCols.tail: _*)
      val joined =
        if (groupby.nonEmpty) dPart.join(oPart, groupby)
        else dPart.crossJoin(oPart)
      // restore the query's select order
      joined.select((groupby.map(col) ++ aggs.map(s => col(s.name))): _*)
    } else {
      val aggCols = if (aggs.nonEmpty) aggs.map(aggCol)
        else Seq(count(lit(1)).as("count"))
      df.groupBy(groupby.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    }
  }

  /** One edge = the output column name, a `prep` stage that adds the
    * bucket column (named `tag`) to the fact frame, and the in-plan dense
    * domain frame (one column, named `name`). Most domains bucket with a
    * plain column expression; the default (top-N) domain needs a join
    * against the ranked-terms frame, which is why `prep` is
    * frame-to-frame rather than a Column. Domain types (upstream:
    * jx_base/domains.py):
    *  - set: distinct observed values ∪ the jx null part
    *  - default + limit: top-N values by count, the tail collapsed into an
    *    "other" part (upstream default domain caps cardinality); without a
    *    limit it degrades to set
    *  - range / duration: numeric bins [min, max] / interval, from the
    *    domain spec — `sequence()` generates the axis in-plan
    *  - time: calendar buckets via date_trunc(interval unit), bounds taken
    *    from the data in-plan (no driver round-trip) */
  private case class Edge(name: String, prep: (DataFrame, String) => DataFrame,
      domain: DataFrame => DataFrame)

  private def exprEdge(name: String, vcol: => Column,
      domain: DataFrame => DataFrame): Edge =
    Edge(name, (df, tag) => df.withColumn(tag, vcol), domain)

  /** The output column name of an edge spec (shared by parseEdge and the
    * cube serializer's header builder). */
  private def edgeName(e: JsonNode): String =
    if (e.isTextual) e.asText()
    else opt(e, "name").map(_.asText())
      .orElse(opt(e, "value").filter(_.isTextual).map(_.asText()))
      .getOrElse(throw new IllegalArgumentException("edge needs a name or a field value"))

  private def parseEdge(e: JsonNode): Edge = {
    // edge values may be expressions (op-trees), like select values —
    // {"name":"big","value":{"gt":["value",100]}}; a name is then required
    val valueNode = if (e.isTextual) None else Some(req(e, "value")).filter(v => !v.isTextual)
    val value = if (e.isTextual) e.asText()
      else if (valueNode.isEmpty) req(e, "value").asText() else ""
    val name = if (e.isTextual) value
      else opt(e, "name").map(_.asText()).getOrElse {
        require(valueNode.isEmpty, "expression-valued edge needs a name"); value
      }
    def vcol: Column = valueNode.map(expr).getOrElse(col(value))
    val domainSpec = if (e.isTextual) None else opt(e, "domain")
    val limit = domainSpec.flatMap(d => opt(d, "limit")).map(_.asInt())
    // jx domains carry allowNulls (default true): false drops the null
    // part — rows with a missing edge value then fall out of the dense
    // join instead of landing in a reserved part (upstream:
    // jx_base/domains.py Domain.allowNulls)
    val allowNulls = domainSpec.flatMap(d => opt(d, "allowNulls")).forall(_.asBoolean())
    domainSpec.map(d => opt(d, "type").map(_.asText()).getOrElse("set")) match {
      case Some("default") if limit.isDefined =>
        // jx default domain with a cardinality cap: the top `limit` values
        // by count keep their identity, everything else lands in "other",
        // rows with a MISSING edge value still go to the null part (they
        // are not "other"). Rank → broadcast-join remap → dense domain =
        // top ∪ {"other"} ∪ {null}; both passes stay distributed (same
        // shape as the A6 edges_topn_other operator, Aggregates.scala).
        val n = limit.get
        def top(df: DataFrame): DataFrame = df
          .select(vcol.cast("string").as("__v"))
          .filter(col("__v").isNotNull)
          .groupBy("__v").agg(count(lit(1)).as("__cnt"))
          // sort+limit → TakeOrderedAndProject: per-partition heaps, no
          // single-partition global rank window over the counts frame
          .orderBy(desc("__cnt"), asc("__v"))
          .limit(n)
          .select("__v")
        Edge(name,
          (df, tag) => {
            val t = top(df).withColumnRenamed("__v", s"${tag}_top")
            df.join(broadcast(t), vcol.cast("string") === col(s"${tag}_top"), "left")
              .withColumn(tag, when(vcol.isNull, lit(null))
                .otherwise(coalesce(col(s"${tag}_top"), lit("other"))))
              .drop(s"${tag}_top")
          },
          df => {
            val named = top(df).select(col("__v").as(name))
              .unionByName(df.sparkSession.range(1).select(lit("other").as(name)))
            if (allowNulls) named.unionByName(df.sparkSession.range(1).select(
              lit(null).cast("string").as(name)))
            else named
          })
      case None | Some("set") | Some("default") =>
        exprEdge(name, vcol,
          df => {
            val dt = df.select(vcol).schema.head.dataType
            val observed = df.select(vcol.as(name)).distinct()
            if (allowNulls) observed
              .unionByName(df.sparkSession.range(1).select(
                lit(null).cast(dt).as(name)))
              .distinct()
            else observed.filter(col(name).isNotNull)
          })
      case Some("range") | Some("duration") =>
        val d = domainSpec.get
        val (lo, hi, iv) = (req(d, "min").asDouble(), req(d, "max").asDouble(),
          req(d, "interval").asDouble())
        // the domain partitions [min, max) half-open (upstream range
        // domains): the last part starts at the largest interval multiple
        // BELOW max, and values ≥ max fall outside the domain (the dense
        // domain-left-join drops their sparse rows)
        exprEdge(name, floor(vcol / iv) * iv,
          df => df.sparkSession.range(1)
            .select(explode(sequence(
              lit(math.floor(lo / iv).toLong),
              lit(math.ceil(hi / iv).toLong - 1), lit(1L))).as("__i"))
            .select((col("__i") * iv).cast("double").as(name)))
      case Some("time") =>
        val unit = opt(domainSpec.get, "interval").map(_.asText()).getOrElse("day")
        exprEdge(name, date_trunc(unit, vcol),
          df => df.agg(
              date_trunc(unit, min(vcol)).as("lo"),
              date_trunc(unit, max(vcol)).as("hi"))
            .select(explode(sequence(col("lo"), col("hi"),
              org.apache.spark.sql.functions.expr(s"interval 1 $unit"))).as(name)))
      case Some(other) =>
        throw new IllegalArgumentException(s"unsupported domain type: $other")
    }
  }

  /** jx dense edges: the cube has one cell per domain part with empty
    * cells materialized (count → 0, other aggregates null). The domain
    * frame is generated in-plan and the join is null-safe so the set
    * domain's null part matches rows whose edge value is missing. */
  private def denseEdges(df: DataFrame, edges: Seq[Edge], aggs: Seq[Sel]): DataFrame = {
    // bucket under internal tags so a bucket expression can share its name
    // with the source column without ambiguity
    val tagged = edges.zipWithIndex.map { case (e, i) => (e, s"__edge_$i") }
    val bucketed = tagged.foldLeft(df) { case (acc, (e, tag)) => e.prep(acc, tag) }
    val aggCols = if (aggs.nonEmpty) aggs.map(aggCol) else Seq(count(lit(1)).as("count"))
    val sparse = bucketed.groupBy(tagged.map(t => col(t._2)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .as("sp")
    // both sides explicitly aliased: same-name cross-frame comparisons
    // (domain("k") <=> sparse("k")) resolve per-frame today but are the
    // ambiguity class that silently self-joins under plan rewrites
    val domain = edges.map(_.domain(df)).reduce(_ crossJoin _).as("dm")
    val cond = tagged.map { case (e, tag) =>
      col(s"dm.${e.name}") <=> col(s"sp.$tag")
    }.reduce(_ && _)
    val aggNames = if (aggs.nonEmpty) aggs else Seq(Sel("count", ".", Some("count")))
    val outCols = edges.map(e => col(s"dm.${e.name}")) ++ aggNames.map { s =>
      if (s.aggregate.contains("count")) coalesce(col(s"sp.${s.name}"), lit(0L)).as(s.name)
      else col(s"sp.${s.name}").as(s.name)
    }
    domain.join(sparse, cond, "left").select(outCols: _*)
  }

  // --------------------------------------------------------------- windows

  private def applyWindows(df: DataFrame, ws: Seq[JsonNode]): DataFrame =
    ws.foldLeft(df) { (acc, w) =>
      // window edges follow the op-tree-anywhere rule: a bare string is a
      // column path, an object {name?, value: <op-tree>} partitions by the
      // compiled expression (upstream: jx window `edges` accept any edge
      // spec, jx_python/windows.py)
      val partition = opt(w, "edges").map(arr).getOrElse(Nil).map {
        case e if e.isTextual => col(e.asText())
        case o => expr(req(o, "value"))
      }
      val sortKeys = opt(w, "sort").map(sn =>
        (if (sn.isArray) arr(sn) else Seq(sn)).map {
          case t if t.isTextual => col(t.asText()).asc_nulls_first
          case o =>
            // sort values are op-trees too (a textual value compiles to
            // the column path, so the plain form is unchanged)
            val c = expr(req(o, "value"))
            if (opt(o, "sort").exists(_.asText() == "desc")) c.desc_nulls_last
            else c.asc_nulls_first
        }).getOrElse(Nil)
      var spec = Window.partitionBy(partition: _*)
      if (sortKeys.nonEmpty) spec = spec.orderBy(sortKeys: _*)
      val frame = opt(w, "range").map { r =>
        spec.rowsBetween(
          opt(r, "min").map(_.asLong()).getOrElse(Window.unboundedPreceding),
          opt(r, "max").map(_.asLong()).getOrElse(0L))
      }.getOrElse(if (sortKeys.nonEmpty) spec.rowsBetween(Window.unboundedPreceding, 0) else spec)
      val name = req(w, "name").asText()
      // no aggregate → jx rownum (1-based position within the partition)
      opt(w, "aggregate") match {
        case None =>
          acc.withColumn(name, row_number().over(
            if (sortKeys.nonEmpty) Window.partitionBy(partition: _*).orderBy(sortKeys: _*)
            else Window.partitionBy(partition: _*)))
        case Some(agg) =>
          // window values are full op-trees too (the op-tree-anywhere
          // rule), and percentile windows take the same parameter as
          // percentile selects
          val vNode = req(w, "value")
          val sel = Sel(name,
            if (vNode.isTextual) vNode.asText() else ".",
            Some(agg.asText()),
            Some(vNode).filter(v => !v.isTextual),
            opt(w, "percentile").map(_.asDouble()))
          acc.withColumn(sel.name, aggColRaw(sel).over(frame))
      }
    }

  // ----------------------------------------------------------- expressions

  /** Compile a jx expression op-tree to a Column. Bare strings are column
    * paths; {"literal": v} is a constant; numbers/booleans in operator
    * argument positions are literals. */
  def expr(n: JsonNode): Column = n match {
    case t if t.isTextual => col(t.asText())
    case v if v.isNumber  => lit(v.asDouble())
    case b if b.isBoolean => lit(b.asBoolean())
    case o if o.isObject =>
      val op = o.fieldNames().asScala.next()
      val a = o.get(op)
      op match {
        case "literal" => litOf(a)
        case "and" => arr(a).map(expr).reduce(_ && _)
        case "or"  => arr(a).map(expr).reduce(_ || _)
        case "not" => !expr(a)
        case "eq"  => pair(a, (l, r) => JxFunctions.jxEq(l, r))
        case "ne"  => pair(a, (l, r) => JxFunctions.jxNe(l, r))
        case "gt"  => pair(a, _ > _)
        case "gte" => pair(a, _ >= _)
        case "lt"  => pair(a, _ < _)
        case "lte" => pair(a, _ <= _)
        case "in" =>
          val xs = arr(a)
          expr(xs.head).isin(arr(xs(1)).map(jvalue): _*)
        case "missing" => JxFunctions.missing(expr(a))
        case "exists"  => JxFunctions.exists(expr(a))
        case "prefix"  => pair(a, (l, r) => l.startsWith(r))
        case "suffix"  => pair(a, (l, r) => l.endsWith(r))
        case "find" =>
          val xs = arr(a)
          JxFunctions.jxFind(expr(xs.head), text(xs(1)))
        case "between" =>
          val xs = arr(a)
          JxFunctions.strBetween(expr(xs.head), text(xs(1)), text(xs(2)))
        case "add"  => JxFunctions.jxAdd(arr(a).map(expr): _*)
        case "mult" => JxFunctions.jxMult(arr(a).map(expr): _*)
        case "sub"  => pair(a, _ - _)
        case "div"  => pair(a, (l, r) => JxFunctions.jxDiv(l, r))
        // clamped string slices (upstream: jx_base/expressions LeftOp/
        // RightOp/NotLeftOp/NotRightOp) — [value, n] with n a literal int
        case "left" =>
          val xs = arr(a); substring(expr(xs.head), 1, xs(1).asInt())
        case "right" =>
          val xs = arr(a)
          val c = expr(xs.head)
          // clamp: last n chars even when n > length (substring(-n) alone
          // would walk off the front)
          substring(c, greatest(length(c) - lit(xs(1).asInt()) + 1, lit(1)),
            lit(xs(1).asInt()))
        case "not_left" => // drop the first n chars
          val xs = arr(a)
          val c = expr(xs.head)
          substring(c, lit(xs(1).asInt() + 1), length(c))
        case "not_right" => // drop the last n chars
          val xs = arr(a)
          val c = expr(xs.head)
          substring(c, lit(1), greatest(length(c) - lit(xs(1).asInt()), lit(0)))
        // coercions (upstream: jx_base/expressions NumberOp/StringOp/
        // BooleanOp/DateOp): never throw — malformed input becomes missing
        // (try_cast), matching the reference's Null-on-bad-value rule
        case "number"  => JxFunctions.jxNumber(expr(a))
        case "string"  => expr(a).cast("string")
        case "boolean" => expr(a).cast("boolean")
        case "date" => // parses to the engine's naive timestamp; the
          // reference stores unix floats (mo_times) — number({date:x})
          // recovers that representation when needed
          expr(a).try_cast(org.apache.spark.sql.types.TimestampNTZType)
        // tuple/get (upstream: TupleOp/GetOp): a tuple is a struct with
        // positional field names; get accepts an int (tuple position) or a
        // string (struct field name). Catalyst collapses
        // CreateStruct+GetStructField, so tuple-then-get costs nothing.
        case "tuple" =>
          struct(arr(a).zipWithIndex.map { case (x, i) => expr(x).as(i.toString) }: _*)
        case "get" =>
          val xs = arr(a)
          val key = xs(1)
          if (key.isNumber) expr(xs.head).getField(key.asInt().toString)
          else expr(xs.head).getField(text(key))
        case "floor" =>
          val xs = arr(a)
          JxFunctions.jxFloor(expr(xs.head), xs(1).asDouble())
        case "abs"      => abs(expr(a))
        // the math family (upstream: jx_base/expressions ModOp/ExpOp/…,
        // numerics via mo_math): mod is python-style (sign of divisor,
        // pmod), log is the NATURAL log, round takes a digit count
        case "mod"   => pair(a, (l, r) => pmod(l, r))
        case "sqrt"  => sqrt(expr(a))
        case "exp"   => exp(expr(a))
        case "log"   => log(expr(a))
        case "power" => pair(a, (l, r) => pow(l, r))
        case "sign"  => signum(expr(a))
        case "round" =>
          val xs = arr(a)
          round(expr(xs.head), xs(1).asInt())
        // regex: FULL match (upstream RegExpOp wraps re.match with an
        // anchored pattern) — anchor explicitly so contains-style engines
        // agree
        case "regex" =>
          val xs = arr(a)
          expr(xs.head).rlike("^(?:" + text(xs(1)) + ")$")
        // E6 convention: "" ≡ missing, so coalesce skips empty strings and
        // concat drops empty operands, not just nulls (upstream: mo_dots
        // treats "" as Null everywhere a value is tested for existence)
        case "coalesce" => coalesce(arr(a).map(x => blankToNull(expr(x))): _*)
        case "length"   => length(expr(a))
        case "lower"    => lower(expr(a))
        case "upper"    => upper(expr(a))
        case "trim"     => trim(expr(a))
        case "concat" =>
          val sep = opt(o, "separator").map(_.asText()).getOrElse("")
          concat_ws(sep, arr(a).map(x => blankToNull(expr(x))): _*)
        case "case" =>
          val clauses = arr(a)
          val whens = clauses.filter(c => c.has("when"))
          val els = clauses.find(c => !c.has("when")).map(expr)
          val chain = whens.tail.foldLeft(
            when(expr(whens.head.get("when")), expr(whens.head.get("then")))) {
            (acc, c) => acc.when(expr(c.get("when")), expr(c.get("then")))
          }
          els.map(chain.otherwise).getOrElse(chain)
        case other => throw new IllegalArgumentException(s"unsupported jx op: $other")
      }
    case other => throw new IllegalArgumentException(s"bad jx expression: $other")
  }

  /** jx "" ≡ missing, applied to a value of unknown type: empty string
    * becomes null, anything else passes through unchanged (the cast to
    * string never yields "" for non-string types, so this is the identity
    * there — and Catalyst folds the branch away for non-string columns). */
  private def blankToNull(c: Column): Column =
    when(c.cast("string") === lit(""), lit(null)).otherwise(c)

  /** Binary ops accept the array form ["f", x] or the shorthand {"f": x}. */
  private def pair(a: JsonNode, f: (Column, Column) => Column): Column =
    if (a.isArray) { val xs = arr(a); f(expr(xs.head), expr(xs(1))) }
    else {
      val field = a.fieldNames().asScala.next()
      f(col(field), litOf(a.get(field)))
    }

  private def litOf(v: JsonNode): Column =
    if (v.isTextual) lit(v.asText())
    else if (v.isIntegralNumber) lit(v.asLong())
    else if (v.isNumber) lit(v.asDouble())
    else if (v.isBoolean) lit(v.asBoolean())
    else if (v.isNull) lit(null)
    else throw new IllegalArgumentException(s"bad literal: $v")

  private def jvalue(v: JsonNode): Any =
    if (v.isTextual) v.asText()
    else if (v.isIntegralNumber) v.asLong()
    else if (v.isNumber) v.asDouble()
    else if (v.isBoolean) v.asBoolean()
    else null

  private def text(n: JsonNode): String =
    if (n.isTextual) n.asText()
    else if (n.isObject && n.has("literal")) n.get("literal").asText()
    else throw new IllegalArgumentException(s"expected string: $n")

  private def req(n: JsonNode, f: String): JsonNode = {
    val v = n.get(f)
    require(v != null, s"jx query missing required field '$f'")
    v
  }
  private def opt(n: JsonNode, f: String): Option[JsonNode] = Option(n.get(f))
  private def arr(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
