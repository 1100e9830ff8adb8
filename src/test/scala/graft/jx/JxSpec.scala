package graft.jx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** jx JSON queries compiled to DataFrame plans — golden results over
  * literal tables, pinning the reference's query-language semantics
  * (null-safe eq, missing('') routing, dense edges with the null part,
  * null-skipping arithmetic, rows-frame windows). */
class JxSpec extends graft.SparkSpec {
  import spark.implicits._

  private lazy val logs: DataFrame = Seq(
    (1L, "mochitest", "win", 10.0, "PASS"),
    (2L, "mochitest", "linux", 20.0, "FAIL"),
    (3L, "xpcshell", "win", 30.0, "PASS"),
    (4L, "xpcshell", null, 40.0, "PASS"),
    (5L, "mochitest", "win", 50.0, null),
    (6L, "reftest", "", 7.0, "PASS"))
    .toDF("id", "suite", "platform", "duration", "status")

  private def run(q: String): DataFrame =
    Jx.run(spark, q, _ => logs)

  test("filter + select + sort + limit") {
    val out = run("""{
      "from": "logs",
      "select": ["id", "suite"],
      "where": {"and": [
        {"gte": ["duration", 20]},
        {"eq": {"status": "PASS"}}]},
      "sort": [{"value": "id", "sort": "desc"}],
      "limit": 2}""").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(4L, 3L))
  }

  test("null-safe eq: missing == missing is TRUE; in / prefix ops") {
    val eqNull = run("""{
      "from": "logs", "select": ["id"],
      "where": {"eq": ["platform", {"literal": null}]},
      "sort": "id"}""").collect().map(_.getLong(0)).toSeq
    // platform null (id 4) — the empty string (id 6) is a DIFFERENT value
    // for eq; missing() is the op that unifies them
    assert(eqNull === Seq(4L))

    val missing = run("""{
      "from": "logs", "select": ["id"],
      "where": {"missing": "platform"}, "sort": "id"}""")
      .collect().map(_.getLong(0)).toSeq
    assert(missing === Seq(4L, 6L))

    val inOp = run("""{
      "from": "logs", "select": ["id"],
      "where": {"in": ["suite", ["xpcshell", "reftest"]]}, "sort": "id"}""")
      .collect().map(_.getLong(0)).toSeq
    assert(inOp === Seq(3L, 4L, 6L))

    val prefix = run("""{
      "from": "logs", "select": ["id"],
      "where": {"prefix": ["suite", {"literal": "moch"}]}, "sort": "id"}""")
      .collect().map(_.getLong(0)).toSeq
    assert(prefix === Seq(1L, 2L, 5L))
  }

  test("groupby with aggregates") {
    val out = run("""{
      "from": "logs",
      "groupby": "suite",
      "select": [
        {"name": "n", "value": ".", "aggregate": "count"},
        {"name": "total", "value": "duration", "aggregate": "sum"},
        {"name": "platforms", "value": "platform", "aggregate": "cardinality"}],
      "sort": "suite"}""").collect()
    val bySuite = out.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(bySuite("mochitest") === ((3L, 80.0, 2L)))
    assert(bySuite("xpcshell") === ((2L, 70.0, 1L)))
    assert(bySuite("reftest") === ((1L, 7.0, 1L)))
  }

  test("dense edges materialize every (part × part) cell incl. the null part") {
    val out = run("""{
      "from": "logs",
      "edges": ["suite", "platform"],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": ["suite", "platform"]}""")
    // domain: 3 suites (no null suite observed, +null part = 4) ×
    // platforms win/linux/""/null = 4 parts... every combo present
    val rows = out.collect()
    assert(rows.length === (3 + 1) * (3 + 1))
    val cells = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells(("mochitest", "win")) === 2L)
    assert(cells(("xpcshell", null)) === 1L)   // the jx null part, populated
    assert(cells(("reftest", "linux")) === 0L) // empty cell materialized
    assert(cells((null, "win")) === 0L)        // null suite part exists, empty
  }

  test("null-skipping arithmetic and case compile to jx semantics") {
    val out = run("""{
      "from": "logs",
      "select": ["id"],
      "where": {"gt": [{"add": ["duration", {"literal": null}]}, 25]},
      "sort": "id"}""").collect().map(_.getLong(0)).toSeq
    // add(duration, null) = duration (null skipped), so > 25 keeps 3,4,5
    assert(out === Seq(3L, 4L, 5L))
  }

  test("window clause: partitioned running sum with rows frame") {
    val out = run("""{
      "from": "logs",
      "window": [{"name": "running", "value": "duration", "aggregate": "sum",
                  "edges": ["suite"], "sort": ["id"],
                  "range": {"min": -1, "max": 0}}],
      "sort": "id"}""").collect()
    val byId = out.map(r => r.getAs[Long]("id") -> r.getAs[Double]("running")).toMap
    assert(byId(1L) === 10.0)           // first mochitest row
    assert(byId(2L) === 30.0)           // 10 + 20 (trailing-2 frame)
    assert(byId(5L) === 70.0)           // 20 + 50
    assert(byId(3L) === 30.0)           // first xpcshell row
  }

  test("range domain: dense numeric bins from the domain spec") {
    val out = run("""{
      "from": "logs",
      "edges": [{"name": "bin", "value": "duration",
                 "domain": {"type": "range", "min": 0, "max": 50, "interval": 10}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": ["bin"]}""").collect()
    // [0, 50) half-open step 10 → 5 parts, all materialized; the
    // duration-50 row sits AT max and is out of domain (upstream range
    // domains partition [min, max))
    assert(out.length === 5)
    val cells = out.map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(cells(0.0) === 1L)  // 7.0
    assert(cells(10.0) === 1L) // 10.0
    assert(cells(20.0) === 1L) // 20.0
    assert(cells(30.0) === 1L)
    assert(cells(40.0) === 1L)
    assert(!cells.contains(50.0))
  }

  test("time domain: dense calendar-day buckets with in-plan bounds") {
    val ts = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 23:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-01-04 05:00:00")))
      .toDF("id", "ts")
    val out = Jx.run(spark, """{
      "from": "t",
      "edges": [{"name": "day", "value": "ts", "domain": {"type": "time", "interval": "day"}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": ["day"]}""", _ => ts).collect()
    // Jan 1..4 inclusive: 4 dense days, the empty middle days materialized
    assert(out.length === 4)
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 0L, 0L, 1L))
  }

  test("deep from: dotted path unnests nested arrays into rows") {
    // the perfherder document shape: suites[] -> subtests[]
    val perf = Seq(
      ("talos", Seq(
        ("tp5", Seq(("page1", 212.5), ("page2", 300.0))),
        ("tp6", Seq(("page3", 50.0))))).asInstanceOf[(String, Seq[(String, Seq[(String, Double)])])])
      .toDF("framework", "suites_raw")
      .selectExpr("framework",
        """transform(suites_raw, s -> named_struct('name', s._1,
             'subtests', transform(s._2, t -> named_struct('name', t._1, 'value', t._2))))
           AS suites""")
    val out = Jx.run(spark, """{
      "from": "perf.suites.subtests",
      "select": [
        {"name": "suite", "value": "suites.name"},
        {"name": "subtest", "value": "subtests.name"},
        {"name": "value", "value": "subtests.value"}],
      "sort": [{"value": "subtests.value", "sort": "desc"}]}""",
      _ => perf).collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq(("tp5", "page2", 300.0), ("tp5", "page1", 212.5), ("tp6", "page3", 50.0)))
  }

  test("global aggregate: select with aggregate and no groupby") {
    val out = run("""{
      "from": "logs",
      "select": [
        {"name": "n", "value": ".", "aggregate": "count"},
        {"name": "max_d", "value": "duration", "aggregate": "max"}]}""").head()
    assert(out.getLong(0) === 6L)
    assert(out.getDouble(1) === 50.0)
  }

  test("string ops: between, find, concat, case") {
    val df = Seq((1L, "log [error] tail")).toDF("id", "line")
    val out = Jx.run(spark, """{
      "from": "t",
      "select": ["id"],
      "where": {"and": [
        {"eq": [{"between": ["line", {"literal": "["}, {"literal": "]"}]},
                {"literal": "error"}]},
        {"eq": [{"find": ["line", {"literal": "tail"}]}, {"literal": 12}]}]}}""",
      _ => df).collect()
    assert(out.length === 1)
  }

  test("cube serialization: dense 2-edge matrix with domain headers") {
    val df = run("""{
      "from": "logs",
      "edges": ["suite", "platform"],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}]}""")
    val json = Jx.cubeJson(df, Seq("suite", "platform"), Seq("n"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.get("meta").get("format").asText() === "cube")
    val edges = node.get("edges")
    assert(edges.size() === 2)
    assert(edges.get(0).get("name").asText() === "suite")
    // suite domain: null part first, then sorted values
    val suiteParts = edges.get(0).get("domain").get("partitions")
    assert(suiteParts.get(0).get("value").isNull)
    assert((1 until suiteParts.size()).map(i => suiteParts.get(i).get("value").asText())
      === Seq("mochitest", "reftest", "xpcshell"))
    // data.n is a dense |suite| x |platform| matrix whose total = row count
    val m = node.get("data").get("n")
    assert(m.size() === suiteParts.size())
    val total = (0 until m.size()).flatMap(i =>
      (0 until m.get(i).size()).map(j => m.get(i).get(j).asLong())).sum
    assert(total === 6L)
  }

  test("expression-valued select: op-trees in value position") {
    val out = run("""{
      "from": "logs",
      "select": [
        {"name": "id", "value": "id"},
        {"name": "d2", "value": {"mult": ["duration", {"literal": 2}]}},
        {"name": "tag", "value": {"concat": ["suite", "platform"],
                                  "separator": "/"}}],
      "sort": ["id"], "limit": 2}""").collect()
    assert(out.map(_.getDouble(1)).toSeq === Seq(20.0, 40.0))
    assert(out.map(_.getString(2)).toSeq === Seq("mochitest/win", "mochitest/linux"))
  }

  test("expression-valued edge: dense domain over a computed bucket") {
    val out = run("""{
      "from": "logs",
      "edges": [{"name": "slow", "value": {"gte": ["duration", 20]}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": ["slow"]}""").collect()
    // dense parts: null (the jx null part, count 0 — every row has a
    // duration), false, true
    assert(out.length === 3)
    val byPart = out.map(r => (if (r.isNullAt(0)) "null" else r.getBoolean(0).toString)
      -> r.getLong(1)).toMap
    assert(byPart === Map("null" -> 0L, "false" -> 2L, "true" -> 4L))
  }

  test("slices clamp; coercions never throw; tuple/get; '' skips in coalesce/concat") {
    val out = run("""{
      "from": "logs",
      "select": [
        {"name": "id", "value": "id"},
        {"name": "l4", "value": {"left": ["suite", 4]}},
        {"name": "r4", "value": {"right": ["suite", 4]}},
        {"name": "nl4", "value": {"not_left": ["suite", 4]}},
        {"name": "nr20", "value": {"not_right": ["suite", 20]}},
        {"name": "num_ok", "value": {"number": {"literal": "3.5"}}},
        {"name": "num_bad", "value": {"number": "suite"}},
        {"name": "s_dur", "value": {"string": "duration"}},
        {"name": "b", "value": {"boolean": {"sub": ["duration", 10]}}},
        {"name": "d", "value": {"date": {"literal": "2024-01-02 03:04:05"}}},
        {"name": "first_of_tuple", "value": {"get": [{"tuple": ["suite", "duration"]}, 0]}},
        {"name": "fb", "value": {"coalesce": ["platform", {"literal": "none"}]}},
        {"name": "tag", "value": {"concat": ["suite", "platform"], "separator": "/"}}],
      "sort": ["id"]}""").collect()
    val r3 = out(2) // id 3: xpcshell / win / 30.0
    assert(r3.getString(1) === "xpcs") // left clamps at word end
    assert(r3.getString(2) === "hell")
    assert(r3.getString(3) === "hell") // not_left 4 drops "xpcs"
    assert(r3.getString(4) === "") // not_right beyond length → empty
    assert(r3.getDouble(5) === 3.5)
    assert(r3.isNullAt(6)) // number("xpcshell") → missing, no throw
    assert(r3.getString(7) === "30.0")
    assert(r3.getBoolean(8)) // 30 − 10 ≠ 0 → true
    assert(r3.getAs[java.time.LocalDateTime](9) ===
      java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5))
    assert(r3.getString(10) === "xpcshell")
    val r1 = out.head
    assert(!r1.getBoolean(8)) // 10 − 10 = 0 → false
    // E6: '' ≡ missing — id 6's empty platform falls through coalesce and
    // is dropped by concat (id 4's null does the same)
    val r6 = out(5)
    assert(r6.getString(11) === "none")
    assert(r6.getString(12) === "reftest")
    val r4n = out(3)
    assert(r4n.getString(11) === "none")
    assert(r4n.getString(12) === "xpcshell")
  }

  test("math ops: exp/log/power/sign/mod/round through the compiler") {
    val out = run("""{
      "from": "logs", "select": [
        {"name": "e1", "value": {"round": [{"exp": {"literal": 1}}, 4]}},
        {"name": "l1", "value": {"round": [{"log": {"exp": {"literal": 2}}}, 6]}},
        {"name": "p", "value": {"power": [{"literal": 2}, {"literal": 10}]}},
        {"name": "sg", "value": {"sign": {"literal": -3}}},
        {"name": "m", "value": {"mod": [{"literal": 7}, {"literal": 3}]}}],
      "limit": 1}""").collect().head
    assert(out.getDouble(0) === 2.7183)
    assert(out.getDouble(1) === 2.0)
    assert(out.getDouble(2) === 1024.0)
    assert(out.getDouble(3) === -1.0)
    // integral literals keep integer typing through mod (bare numbers in
    // op-argument position become doubles; {"literal": n} does not)
    assert(out.getLong(4) === 1L)
  }

  test("default domain with limit: top-N parts + other + the null part") {
    val out = run("""{
      "from": "logs",
      "edges": [{"name": "part", "value": "suite",
                 "domain": {"type": "default", "limit": 1}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": ["part"]}""").collect()
    // top-1 = mochitest (3 rows); xpcshell + reftest collapse into other;
    // null part present with count 0 (every row has a suite)
    val parts = out.map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getLong(1)).toMap
    assert(parts === Map((null: String) -> 0L, "mochitest" -> 3L, "other" -> 3L))
  }

  test("list and table formats serialize the same frame consistently") {
    val df = run("""{
      "from": "logs",
      "groupby": "suite",
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": "suite"}""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val list = mapper.readTree(Jx.listJson(df))
    assert(list.get("meta").get("format").asText() === "list")
    assert(list.get("data").size() === 3)
    assert(list.get("data").get(0).get("suite").asText() === "mochitest")
    assert(list.get("data").get(0).get("n").asLong() === 3L)
    val table = mapper.readTree(Jx.tableJson(df))
    assert(table.get("meta").get("format").asText() === "table")
    assert((0 until table.get("header").size()).map(table.get("header").get(_).asText())
      === Seq("suite", "n"))
    assert(table.get("data").size() === 3)
    assert(table.get("data").get(1).get(0).asText() === "reftest")
    assert(table.get("data").get(1).get(1).asLong() === 1L)
    // row payloads agree across formats
    assert(list.get("data").get(2).get("n").asLong()
      === table.get("data").get(2).get(1).asLong())
  }

  test("allowNulls:false drops the null part from set and default domains") {
    val set = run("""{
      "from": "logs",
      "edges": [{"name": "p", "value": "platform",
                 "domain": {"type": "set", "allowNulls": false}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": ["p"]}""").collect()
    // observed values only — "", linux, win — no reserved null part, and
    // the null-platform row (id 4) falls out of the dense join
    assert(set.forall(!_.isNullAt(0)))
    assert(set.map(_.getString(0)).toSeq === Seq("", "linux", "win"))
    val topn = run("""{
      "from": "logs",
      "edges": [{"name": "p", "value": "suite",
                 "domain": {"type": "default", "limit": 1, "allowNulls": false}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": ["p"]}""").collect()
    assert(topn.map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("mochitest" -> 3L, "other" -> 3L))
  }

  test("runFormatted dispatches on format, defaulting cube-with-edges / list-otherwise") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def fmt(q: String): String =
      mapper.readTree(Jx.runFormatted(spark, q, _ => logs))
        .get("meta").get("format").asText()
    val edgesQ = """{"from": "logs", "edges": ["suite"],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}]}"""
    assert(fmt(edgesQ) === "cube")
    assert(fmt("""{"from": "logs", "select": ["id"], "sort": "id"}""") === "list")
    val tableQ = """{"from": "logs", "format": "table",
      "groupby": "suite",
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "sort": "suite"}"""
    val t = mapper.readTree(Jx.runFormatted(spark, tableQ, _ => logs))
    assert(t.get("meta").get("format").asText() === "table")
    assert(t.get("data").size() === 3)
    // cube headers carry the edge's REAL domain type, not a generic set
    val rangeQ = """{"from": "logs",
      "edges": [{"name": "bucket", "value": "duration",
                 "domain": {"type": "range", "min": 0, "max": 50, "interval": 10}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}]}"""
    val c = mapper.readTree(Jx.runFormatted(spark, rangeQ, _ => logs))
    assert(c.get("edges").get(0).get("domain").get("type").asText() === "range")
  }

  test("window values accept op-trees and the percentile parameter") {
    val out = run("""{
      "from": "logs",
      "select": [
        {"name": "id", "value": "id"},
        {"name": "suite", "value": "suite"},
        {"name": "duration", "value": "duration"}],
      "window": [
        {"name": "run_d2", "value": {"mult": ["duration", {"literal": 2}]},
         "aggregate": "sum", "edges": ["suite"], "sort": ["id"]},
        {"name": "p50", "value": "duration", "aggregate": "percentile",
         "percentile": 0.5, "edges": ["suite"]}],
      "sort": ["id"]}""").collect()
    // mochitest rows (ids 1,2,5; durations 10,20,50): running 2x sums
    // 20, 60, 160; partition median 20
    val moch = out.filter(_.getString(1) == "mochitest")
    assert(moch.map(_.getDouble(3)).toSeq === Seq(20.0, 60.0, 160.0))
    assert(moch.map(_.getDouble(4)).distinct.toSeq === Seq(20.0))
  }

  test("select a.* expands struct leaves under dotted names") {
    val nested = logs.select(col("id"),
      struct(col("suite"), col("platform")).as("m"))
    val out = Jx.run(spark, """{
      "from": "t", "select": ["id", "m.*"], "sort": "id", "limit": 2}""",
      _ => nested)
    assert(out.columns.toSeq === Seq("id", "m.suite", "m.platform"))
    val r = out.collect().head
    assert(r.getLong(0) === 1L)
    assert(r.getString(1) === "mochitest")
    assert(r.getString(2) === "win")
  }

  test("expression value feeds aggregates too") {
    val out = run("""{
      "from": "logs",
      "groupby": ["suite"],
      "select": [{"name": "total2", "value": {"mult": ["duration", {"literal": 2}]},
                  "aggregate": "sum"}],
      "sort": ["suite"]}""").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("mochitest", 160.0), ("reftest", 14.0), ("xpcshell", 140.0)))
  }

  test("cube format: duration and default(top-N) domains round-trip in headers") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // duration domain: dense fixed-width buckets, type echoed in the header
    val dur = mapper.readTree(Jx.runFormatted(spark, """{
      "from": "logs", "format": "cube",
      "edges": [{"name": "dur", "value": "duration",
                 "domain": {"type": "duration", "min": 0, "max": 59,
                            "interval": 20, "allowNulls": false}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}]}""", _ => logs))
    val de = dur.get("edges").get(0)
    assert(de.get("domain").get("type").asText() === "duration")
    val dparts = (0 until de.get("domain").get("partitions").size())
      .map(de.get("domain").get("partitions").get(_).get("value").asDouble())
    assert(dparts === Seq(0.0, 20.0, 40.0))
    val dcells = dur.get("data").get("n")
    // durations 10,20,30,40,50,7 → {7,10} | {20,30} | {40,50}
    assert((0 until 3).map(dcells.get(_).asLong()) === Seq(2L, 2L, 2L))

    // default (top-N) domain: top parts + "other" + the null part
    val top = mapper.readTree(Jx.runFormatted(spark, """{
      "from": "logs", "format": "cube",
      "edges": [{"name": "p", "value": "suite",
                 "domain": {"type": "default", "limit": 1}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}]}""", _ => logs))
    val te = top.get("edges").get(0)
    assert(te.get("domain").get("type").asText() === "default")
    val tparts = (0 until te.get("domain").get("partitions").size())
      .map(te.get("domain").get("partitions").get(_).get("value"))
    // null part first (null-first ordering), then the top-1 suite, then other
    assert(tparts.map(v => if (v.isNull) null else v.asText())
      === Seq(null, "mochitest", "other"))
    val tcells = top.get("data").get("n")
    assert((0 until 3).map(tcells.get(_).asLong()) === Seq(0L, 3L, 3L))
  }

  test("corpus_op composes with a jx-filtered corpus and rejects unknown ops") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog ran", "en", "srcA", 39L),
      (2L, "zx qv wq jj kk zz pp qq ww ee", "en", "srcA", 29L),
      (3L, "the dog sat on the mat and the cat ran", "en", "srcB", 39L),
      (4L, "aa bb cc dd ee ff gg hh ii jj", "en", "srcB", 29L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def runDocs(q: String) = Jx.run(spark, q, _ => docs)
    // the gate over the FULL corpus keeps the most-fluent half per source
    val kept = runDocs("""{
      "corpus_op": {"op": "quality_gate", "corpus": {"from": "documents"}}}""")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"kept $kept")
    // a jx where on the corpus sub-query restricts what the op sees —
    // with only srcA in view, srcA's best doc is kept
    val keptA = runDocs("""{
      "corpus_op": {"op": "quality_gate",
        "corpus": {"from": "documents", "where": {"eq": {"source": "srcA"}}}}}""")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptA == Set(1L), s"keptA $keptA")
    intercept[IllegalArgumentException] {
      runDocs("""{"corpus_op": {"op": "nope", "corpus": {"from": "documents"}}}""")
        .collect()
    }
  }

  test("corpus_op: semantic_dedup and overlap reach the embedding/sketch ops") {
    // two identical vectors in one cluster → the larger id is dropped as
    // a dup of the smaller; the knobs (tau) pass through the spec
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (5L, Array(1.0f, 0.02f)), (9L, Array(0.99f, 0.01f)))
      .toDF("vec_id", "embedding")
    val drops = Jx.run(spark, """{
      "corpus_op": {"op": "semantic_dedup", "nlist": 2, "tau": 0.9,
        "corpus": {"from": "embeddings"}}}""", _ => vecs)
      .select("vec_id", "dup_of").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drops.keySet == Set(5L, 9L) && drops(9L) === 0L, s"drops $drops")
    // overlap over two sources sharing half their shingles estimates a
    // mid-range jaccard, keyed (src_a, src_b)
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten", "srcA"),
      (2L, "one two three four five six seven eight nine ten", "srcB"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "srcB"))
      .toDF("doc_id", "text", "source")
    val ov = Jx.run(spark, """{
      "corpus_op": {"op": "overlap", "corpus": {"from": "documents"}}}""",
      _ => docs).collect()
    assert(ov.length === 1)
    val r = ov.head
    assert(r.getString(0) === "srcA" && r.getString(1) === "srcB")
    val jac = r.getDouble(3)
    assert(jac > 0.2 && jac < 0.8, s"jaccard_est $jac")
  }

  test("sketch aggregates: cardinality_hll / percentile_tdigest / bloom") {
    // tiny exact-checkable group: HLL is exact at this cardinality, the
    // t-digest holds every point so p50 is the exact interpolated median,
    // and the per-group Bloom filter answers membership on its own ids
    val out = run("""{
      "from": "logs",
      "groupby": ["suite"],
      "select": [
        {"name": "n_ids", "value": "id", "aggregate": "cardinality_hll"},
        {"name": "p50", "value": "duration", "aggregate": "percentile_tdigest"},
        {"name": "bf", "value": "id", "aggregate": "bloom"}],
      "sort": ["suite"]}""")
    val moch = out.filter(col("suite") === "mochitest")
      .select(col("n_ids"), col("p50"),
        graft.functions.BloomProbeRow(col("bf"), lit(2L)).as("member"),
        graft.functions.BloomProbeRow(col("bf"), lit(99999L)).as("stranger"))
      .head()
    assert(moch.getLong(0) === 3L)           // ids 1, 2, 5 — HLL exact here
    assert(moch.getDouble(1) === 20.0)       // exact median of 10/20/50
    assert(moch.getBoolean(2))               // id 2 is a member
    assert(!moch.getBoolean(3))              // far-off key stays clean
  }

  test("route-table sweep: every corpus_op route, enumerated from the " +
      "dispatcher source, accepts the standard select/sort/limit tail " +
      "or rejects with the typed error; unknown op always rejects") {
    // Enumerate the dispatch table itself (the keys of Jx.corpusOps), not
    // a hand-maintained list: a route added to the table without tail
    // support fails here automatically.
    val routes = Jx.corpusOps.keys.toSeq.sorted
    assert(routes.size >= 60, s"route table shrank? ${routes.size}")

    // two corpus shapes: documents-shaped for the text/payload ops,
    // (vec_id, embedding)-shaped for the semantic ops; each route must
    // run under at least one of them (the dispatcher's contract), with
    // dataset=None so every store route takes its in-plan fallback.
    val docs = (0L until 12L).map { i =>
      val words = (0 until 30).map(w => s"tok${(w + i * 7) % 19}").mkString(" ")
      (i, s"the doc $i says $words and ends", if (i % 3 == 0) "de" else "en",
        s"src${i % 3}", 40L + i)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // 64-dim like the standard embeddings table: the quantization ops
    // (sq8, pq) document that dimension as the table contract
    val vecs = (0L until 12L).map { i =>
      (i, Array.tabulate(64)(j => ((i * 31 + j * 17) % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding")
    // events-shaped for the funnel / transitions / zorder analytics
    // routes (r16): a tiny stream with every step type present so the
    // funnel's per-step divisions are non-degenerate
    val types = Seq("view", "click", "purchase", "signup", "error")
    val events = (0L until 25L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-01-${(i % 20) + 1}%02d 0${i % 9}:00:00"),
        i % 4, types((i % 5).toInt), i * 1.5, s"""{"k": $i}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tables: String => DataFrame = {
      case "documents" => docs
      case "embeddings" => vecs
      case "events" => events
      case other => fail(s"route asked for unexpected table $other")
    }

    def attempt(op: String, corpus: String): Either[Throwable, Unit] =
      try {
        val q = s"""{"corpus_op": {"op": "$op",
          "corpus": {"from": "$corpus"}}, "limit": 1}"""
        val df = Jx.run(spark, q, tables)
        assert(df.collect().length <= 1, s"$op ignored limit")
        // the rest of the standard tail: select + sort on the first
        // output column must compose over the op's frame
        val c0 = df.columns.head
        val q2 = s"""{"corpus_op": {"op": "$op",
          "corpus": {"from": "$corpus"}},
          "select": ["$c0"], "sort": ["$c0"], "limit": 1}"""
        val df2 = Jx.run(spark, q2, tables)
        assert(df2.columns.toSeq === Seq(c0), s"$op ignored select")
        assert(df2.collect().length <= 1, s"$op ignored limit after sort")
        Right(())
      } catch { case e: Throwable => Left(e) }

    val rejected = scala.collection.mutable.Map[String, String]()
    routes.foreach { op =>
      attempt(op, "documents") match {
        case Right(_) => ()
        case Left(_) =>
          attempt(op, "embeddings") match {
            case Right(_) => ()
            case Left(_) =>
              attempt(op, "events") match {
                case Right(_) => ()
                case Left(e3) =>
                  assert(e3.isInstanceOf[IllegalArgumentException],
                    s"route $op failed NON-typed under all corpus shapes: " +
                      s"${e3.getClass.getName}: ${e3.getMessage}")
                  rejected(op) = e3.getMessage
              }
          }
      }
    }
    // a trivially-all-rejecting sweep proves nothing: the routes that
    // can't run on an anonymous in-memory corpus must be EXACTLY the
    // three that require the dataset-backed STORED decision sets /
    // artifacts by design (their typed message says so) — every other
    // route runs with default knobs
    assert(rejected.keySet ===
        Set("curation_report", "dataset_card", "forget_audit"),
      s"routes rejecting under both shapes: $rejected")
    rejected.values.foreach(msg => assert(msg.contains("dataset"), msg))
    // and the unknown op rejects with the same typed error
    val unk = intercept[IllegalArgumentException] {
      Jx.run(spark,
        """{"corpus_op": {"op": "nope_zz", "corpus": {"from": "documents"}}}""",
        tables).collect()
    }
    assert(unk.getMessage.contains("unknown corpus_op"))
  }

  test("corpus_op knob of the wrong JSON type raises the typed error " +
      "naming the knob") {
    val docs = Seq((1L, "a b c", "srcA")).toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      Jx.run(spark, """{"corpus_op": {"op": "payload_pack_tuning",
        "corpus": {"from": "documents"}, "n_shards": "x"}}""", _ => docs)
    }
    assert(e.getMessage.contains("'n_shards'"), e.getMessage)
  }

  test("corpus_op rejects a knob its route never reads and accepts the ones it does") {
    // the route sweep's 64-dim vectors
    val vecs = (0L until 12L).map { i =>
      (i, Array.tabulate(64)(j => ((i * 31 + j * 17) % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding")
    def run(spec: String) = Jx.run(spark,
      s"""{"corpus_op": {"corpus": {"from": "embeddings"}, $spec}}""", _ => vecs)
    // forget_ivf fixes its own list count, and knn_join's probe never reads k
    for ((spec, knob) <- Seq(""""op": "forget_ivf", "nlist": 8""" -> "nlist",
        """"op": "knn_join", "k": 5""" -> "k")) {
      val e = intercept[IllegalArgumentException](run(spec))
      assert(e.getMessage.contains(s"knob '$knob'"), e.getMessage)
    }
    // knn_diverse reads m in-plan
    assert(run(""""op": "knn_diverse", "m": 4""").columns.nonEmpty)
    // the committed jx keys whose corpus_op carries knobs besides op and
    // corpus (every other key's corpus_op has none to reject), on their
    // own routes: dsir, shard_manifest and pack_manifest in-plan,
    // knn_diverse and knn_coreset on the stored graph
    for (key <- Seq("jx_dsir", "jx_shard_manifest", "jx_pack_manifest", "jx_knn_diverse",
        "jx_knn_coreset"))
      assert(JxQueries.queries(key)(spark, "/root/testdata/sf0.01").columns.nonEmpty, key)
  }
}
