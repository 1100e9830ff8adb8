package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Prior, Report}

/** Bench's artifact codec, Spark-free. The readers are pinned on copies of
  * the records as committed when the codec replaced the regex readers
  * (`src/test/resources/bench/`, BASELINE.md's `[auto]` rows only: the
  * live files grow with every full bench run), to the values the regex
  * readers gave; the stdout line and the sidecar are pinned byte for byte
  * to the hand-written formatter's output, captured from it on the same
  * inputs. */
class BenchSpec extends AnyFunSuite {
  private val records = Paths.get("src/test/resources/bench")

  private def tree(name: String) = Bench.readJson(records.resolve(name)).get

  private def sha(s: String): String = MessageDigest.getInstance("SHA-256")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def tmp(files: (String, String)*): Path = {
    val dir = Files.createTempDirectory("graft-bench")
    files.foreach { case (n, text) => Files.writeString(dir.resolve(n), text) }
    dir
  }

  // ---- readers ----

  test("the anchor reader keeps all 398 anchors with their number text as written") {
    val texts = Bench.anchorTexts(tree("BENCH_ANCHOR.json"), "sf0.1")
    assert(texts.size === 398)
    assert(texts.head === ("agg_collect_set" -> "0.186"))
    assert(texts.toMap.apply("dedup_exact") === "0.610")
    assert(sha(texts.map { case (k, t) => s"$k=$t" }.mkString("\n")) ===
      "3e18fc5926cee45a655f90bf21d5d6c00dd839f916b9d16462e0697d92d2791b")
    assert(tree("BENCH_ANCHOR.json").get("superseded").properties.asScala
      .map(_.getKey).toSeq === Seq("jx_pipeline_rules", "pipeline_corpus_rules"))
    assert(Bench.anchorTexts(tree("BENCH_ANCHOR.json"), "sf0.01") === Nil)
  }

  test("the sidecar reader takes the 398 times, not the reps_escalated counts") {
    val side = tree("bench_full.json")
    assert(side.get("reps_escalated").get("sim_knn_recall").asInt === 3)
    val times = Bench.sidecarTimes(side, "sf0.1")
    assert(times.size === 398)
    assert(times("sim_knn_recall") === 0.971)
    assert(times("mm_quality") === 0.556)
    assert(sha(times.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")) ===
      "d992f25181b84b65ef674ff27ab2b3d24bc0edd7e49d2911a1e2f3419d120ebc")
    assert(Bench.sidecarTimes(side, "sf0.01") === Map.empty)
  }

  private def prevClose(dir: Path, sf: String): Option[Prior] =
    Bench.roundCloses(dir).view.flatMap { case (tag, p) =>
      Bench.readJson(p).flatMap(Bench.closeOf(tag, _, sf))
    }.headOption

  test("the round-close reader takes the newest record's parsed line at this sf") {
    assert(prevClose(records, "sf0.1") === Some(Prior("r19", 398, 267.0)))
    assert(prevClose(records, "sf0.01") === None)
    // a newer record whose line was not parsed (parsed:null) is skipped
    val r19 = Files.readString(records.resolve("BENCH_r19.json"))
    val dir = tmp("BENCH_r19.json" -> r19, "BENCH_r20.json" ->
      """{"n": 20, "rc": 0, "sf": 0.1, "tail": "x", "parsed": null}""",
      "BENCH_r20_c8.json" -> "not a round close")
    assert(prevClose(dir, "sf0.1") === Some(Prior("r19", 398, 267.0)))
  }

  test("the gate picks the closest [auto] row other than this tree's own") {
    val lines = Files.readAllLines(records.resolve("BASELINE.md")).asScala.toSeq
    def rows(rev: String) = lines.flatMap(Bench.baselineRow).collect {
      case ("0.1", p) if p.label != rev => (p.label, p.n, p.total)
    }
    assert(rows("9dc08a2").size === 44)
    assert(sha(rows("9dc08a2").mkString("\n")) ===
      "f0d51fc85e5d477eaa094dca87a57ffd71e0dd077a054939333a4e4bcfbe61cc")
    assert(Bench.gateRow(lines, "0.1", "9dc08a2", 398) === Some(Prior("7651fee", 398, 315.7)))
    assert(sha(rows("0000000").mkString("\n")) ===
      "538cec50f089c8aa712f125f5a728bc858263bce635a57b6d521644210e6c4e7")
    assert(Bench.gateRow(lines, "0.1", "0000000", 380) === Some(Prior("5493786", 380, 290.1)))
    assert(Bench.gateRow(lines, "10", "9dc08a2", 398) === None)
  }

  test("an [auto] row is replaced only by a lower total, and appended when new") {
    val row = "| 2026-10-01 | abcdef0 | 0.1 | 250.0 | [auto] 398 queries, min-of-2; top: x 1.0 |"
    val base = Seq("# BASELINE", "| hand-written | abcdef0 | 0.1 | 1.0 | narrative |")
    val once = Bench.withAutoRow(base, row, 250.04).get
    assert(once === base :+ row)
    val better = row.replace("250.0", "240.0")
    assert(Bench.withAutoRow(once, better, 240.0) === Some(base :+ better))
    assert(Bench.withAutoRow(once, row.replace("250.0", "260.0"), 260.0) === None)
    // another query count is another record
    val grown = row.replace("398 queries", "399 queries")
    assert(Bench.withAutoRow(once, grown, 260.0) === Some(once :+ grown))
  }

  test("a filtered run reports neither the 2x gate nor the prev-close, a full run both") {
    val lines = Files.readAllLines(records.resolve("BASELINE.md")).asScala.toSeq
    var closesRead = 0
    def close = { closesRead += 1; prevClose(records, "sf0.1") }
    assert(Bench.fullRunRefs(filtered = true, Some(lines), "0.1", "9dc08a2", 2, close) ===
      (None, None))
    assert(closesRead === 0)
    assert(Bench.fullRunRefs(filtered = false, Some(lines), "0.1", "9dc08a2", 398, close) ===
      (Some(Prior("7651fee", 398, 315.7)), Some(Prior("r19", 398, 267.0))))
    assert(closesRead === 1)
    // the filtered run's line keeps its per-key anchor gate, and has no
    // gate or prev_close key
    val filtered = Report("sf0.1", Seq("agg_cube" -> 0.5, "win_topk" -> 0.25), Nil, Nil,
      None, None, Some((2, 0.5, 0.75)), Nil)
    val fields = Bench.json.readTree(Bench.stdoutLine(filtered)).fieldNames.asScala.toSeq
    assert(fields.contains("anchor"))
    assert(!fields.contains("gate") && !fields.contains("prev_close"), fields)
  }

  test("gitRev reads a branch from packed-refs when it has no loose ref") {
    val sha1 = "0123456789abcdef0123456789abcdef01234567"
    val packed = s"# pack-refs with: peeled fully-peeled sorted \n" +
      s"${"f" * 40} refs/heads/mainline\n$sha1 refs/heads/main\n^${"e" * 40}\n"
    val git = tmp("HEAD" -> "ref: refs/heads/main\n", "packed-refs" -> packed)
    assert(Bench.gitRev(git) === "0123456")
    Files.createDirectories(git.resolve("refs/heads"))
    Files.writeString(git.resolve("refs/heads/main"), "abcdef0123\n")
    assert(Bench.gitRev(git) === "abcdef0")
    Files.writeString(git.resolve("HEAD"), "9876543210\n")
    assert(Bench.gitRev(git) === "9876543")
    assert(Bench.gitRev(git.resolve("absent")) === "unknown")
    assert(Bench.gitRev(tmp("HEAD" -> "ref: refs/heads/unborn\n")) === "unknown")
  }

  // ---- the anchor rewrite ----

  private def anchored(t: JsonNode) =
    Some(t -> Bench.anchorTexts(t, "sf0.1"))

  test("an anchor rewrite without a new key is byte-identical to the file") {
    for (file <- Seq(records.resolve("BENCH_ANCHOR.json"), Paths.get("BENCH_ANCHOR.json"))) {
      val t = Bench.readJson(file).get
      assert(Bench.anchorFile(t, Nil) === Files.readString(file), file)
      assert(Bench.frozenAnchors(Some(t -> Bench.anchorTexts(t, t.get("sf").asText)),
        Bench.anchorTexts(t, t.get("sf").asText).map { case (k, v) => k -> v.toDouble }) === None)
    }
  }

  test("a one-new-key anchor rewrite adds exactly that key's line") {
    val file = records.resolve("BENCH_ANCHOR.json")
    val before = Files.readString(file).split("\n", -1).toSeq
    val after = Bench.frozenAnchors(anchored(tree("BENCH_ANCHOR.json")),
      Seq("agg_cube" -> 9.0, "jx_zz_new" -> 1.2344)).get.split("\n", -1).toSeq
    val i = after.indexOf("\"jx_zz_new\": 1.234,")
    assert(i > 0 && after.patch(i, Nil, 1) === before)
    assert(after(i - 1) < after(i) && after(i) < after(i + 1))
  }

  test("a superseded note holding braces and quotes survives the rewrite") {
    val note = "32.4 (r15 {contended}) superseded by \"quiet\" min-of-3 } \\ {"
    val file = Bench.json.writeValueAsString(Bench.obj(Seq(
      "comment" -> Bench.str("c"), "sf" -> Bench.str("sf0.1"),
      "superseded" -> Bench.obj(Seq("k_old" -> Bench.str(note))),
      "queries" -> Bench.obj(Seq("b" -> Bench.num("0.630"), "k_old" -> Bench.num("7.320"))))))
    val t = Bench.json.readTree(file)
    val out = Bench.frozenAnchors(anchored(t), Seq("a" -> 0.5)).get
    assert(out === "{\n\"comment\": \"c\",\n\"sf\": \"sf0.1\",\n\"superseded\": {\n" +
      "\"k_old\": " + Bench.json.writeValueAsString(note) + "\n},\n\"queries\": {\n" +
      "\"a\": 0.500,\n\"b\": 0.630,\n\"k_old\": 7.320\n}\n}\n")
    val back = Bench.json.readTree(out)
    assert(back.get("superseded").get("k_old").asText === note)
    assert(Bench.anchorTexts(back, "sf0.1") ===
      Seq("a" -> "0.500", "b" -> "0.630", "k_old" -> "7.320"))
  }

  test("a corrupt anchor file is recorded under its name and not rewritten") {
    val good = Files.readString(records.resolve("BENCH_ANCHOR.json"))
    for ((corrupt, why) <- Seq(
        good.replace("\"agg_cube\": 0.475,", "\"agg_cube\": 0.475") ->
          "was expecting comma to separate Object entries (line 11, column 1)",
        good.replace("\"agg_cube\": 0.475,", "\"agg_cube\": \"x\",") ->
          "queries.agg_cube is not a number",
        good.replace("\"agg_cube\": 0.475,", "\"agg_mode\": 0.475,") ->
          "Duplicate field 'agg_mode'",
        "" -> "is not a JSON object")) {
      val p = tmp("BENCH_ANCHOR.json" -> corrupt).resolve("BENCH_ANCHOR.json")
      val errors = collection.mutable.LinkedHashMap[String, String]()
      val read = Bench.recorded(errors, "BENCH_ANCHOR.json",
        Option.empty[(JsonNode, Seq[(String, String)])])(
        Bench.readJson(p).map(t => t -> Bench.anchorTexts(t, "sf0.1")))
      assert(read === None)
      assert(errors.keySet === Set("BENCH_ANCHOR.json"))
      assert(errors("BENCH_ANCHOR.json").contains(why), errors)
      assert(Bench.frozenAnchors(read, Seq("new_key" -> 1.0)) === None)
    }
    // a missing file is a first run, not an error
    val errors = collection.mutable.LinkedHashMap[String, String]()
    assert(Bench.recorded(errors, "BENCH_ANCHOR.json", Option.empty[Any])(
      Bench.readJson(tmp().resolve("BENCH_ANCHOR.json"))) === None)
    assert(errors.isEmpty)
  }

  // ---- the stdout line and the sidecar ----

  private val small = Report("sf0.01",
    Seq("jx_pipeline_rules" -> 14.5049, "agg_cube" -> 0.475, "dedup_exact" -> 0.6104,
      "win_topk" -> 0.0004, "sim_sq8" -> 1.1, "etl_scd2" -> 2.0, "text_tfidf" -> 0.12351),
    Seq("text_tfidf" -> "bad \"quote\" \\ back\nslash\ttab é \u0001end",
      "BENCH_ANCHOR.json" -> "Unexpected character ('}' (code 125))"),
    Seq("agg_cube" -> 4, "sim_sq8" -> 3),
    Some(Prior("9dc08a2", 398, 246.2)), Some(Prior("r19", 398, 267.0)),
    Some((5, 10.0, 18.751)),
    Seq(("jx_pipeline_rules", 7.32, 14.5049), ("etl_scd2", 0.5, 2.0), ("sim_sq8", 0.2, 1.1),
      ("agg_cube", 0.1, 0.475), ("dedup_exact", 0.2, 0.6104), ("win_topk", 0.0001, 0.0004),
      ("text_tfidf", 0.03, 0.12351)))

  private val quiet = Report("sf0.1", Seq("a" -> 1.0, "b" -> 0.25), Nil, Nil,
    Some(Prior("abcdef0", 4, 5.0)), None, Some((2, 1.0, 1.25)), Nil)

  // the hand-written formatter's output on `small` and `quiet`
  private val smallSidecar =
    "{\"metric\":\"total\",\"value\":18.814,\"unit\":\"sec\",\"n_queries\":7,\"queries\":{\"j" +
    "x_pipeline_rules\":14.505,\"agg_cube\":0.475,\"dedup_exact\":0.61,\"win_topk\":0,\"sim_s" +
    "q8\":1.1,\"etl_scd2\":2,\"text_tfidf\":0.124},\"errors\":{\"text_tfidf\":\"bad \\\"quote" +
    "\\\" \\\\ back slash tab \u00e9  end\",\"BENCH_ANCHOR.json\":\"Unexpected character ('}'" +
    " (code 125))\"},\"reps_escalated\":{\"agg_cube\":4,\"sim_sq8\":3},\"gate\":{\"vs\":\"9dc" +
    "08a2/398q/246.2s\",\"per_query_ratio\":4.34,\"pass\":false},\"prev_close\":{\"vs\":\"r19" +
    "/398q/267.0s\",\"per_query_ratio\":4.01},\"anchor\":{\"n_shared\":5,\"anchor_s\":10.0,\"" +
    "now_s\":18.8,\"ratio\":1.88,\"violations\":[{\"q\":\"jx_pipeline_rules\",\"anchor\":7.32" +
    ",\"now\":14.50,\"ratio\":2.0},{\"q\":\"etl_scd2\",\"anchor\":0.50,\"now\":2.00,\"ratio\"" +
    ":4.0},{\"q\":\"sim_sq8\",\"anchor\":0.20,\"now\":1.10,\"ratio\":5.5},{\"q\":\"agg_cube\"" +
    ",\"anchor\":0.10,\"now\":0.48,\"ratio\":4.7},{\"q\":\"dedup_exact\",\"anchor\":0.20,\"no" +
    "w\":0.61,\"ratio\":3.1}],\"violations_omitted\":2,\"pass\":false},\"sf\":\"sf0.01\"}"
  private val small2 =
    "{\"metric\":\"total\",\"value\":18.81,\"unit\":\"sec\",\"n_queries\":7,\"queries\":{\"jx" +
    "_pipeline_rules\":14.5,\"agg_cube\":0.48,\"dedup_exact\":0.61,\"win_topk\":0,\"sim_sq8\"" +
    ":1.1,\"etl_scd2\":2,\"text_tfidf\":0.12},\"errors\":{\"text_tfidf\":\"bad \\\"quote\\\" " +
    "\\\\ back slash tab \u00e9  end\",\"BENCH_ANCHOR.json\":\"Unexpected character ('}' (cod" +
    "e 125))\"},\"gate\":{\"vs\":\"9dc08a2/398q/246.2s\",\"per_query_ratio\":4.34,\"pass\":fa" +
    "lse},\"prev_close\":{\"vs\":\"r19/398q/267.0s\",\"per_query_ratio\":4.01},\"anchor\":{\"" +
    "n_shared\":5,\"anchor_s\":10.0,\"now_s\":18.8,\"ratio\":1.88,\"violations\":[{\"q\":\"jx" +
    "_pipeline_rules\",\"anchor\":7.32,\"now\":14.50,\"ratio\":2.0},{\"q\":\"etl_scd2\",\"anc" +
    "hor\":0.50,\"now\":2.00,\"ratio\":4.0},{\"q\":\"sim_sq8\",\"anchor\":0.20,\"now\":1.10," +
    "\"ratio\":5.5},{\"q\":\"agg_cube\",\"anchor\":0.10,\"now\":0.48,\"ratio\":4.7},{\"q\":\"" +
    "dedup_exact\",\"anchor\":0.20,\"now\":0.61,\"ratio\":3.1}],\"violations_omitted\":2,\"pa" +
    "ss\":false},\"sf\":\"sf0.01\"}"
  private val small1 =
    "{\"metric\":\"total\",\"value\":18.8,\"unit\":\"sec\",\"n_queries\":7,\"queries\":{\"jx_" +
    "pipeline_rules\":14.5,\"agg_cube\":0.5,\"dedup_exact\":0.6,\"win_topk\":0,\"sim_sq8\":1." +
    "1,\"etl_scd2\":2,\"text_tfidf\":0.1},\"errors\":{\"text_tfidf\":\"bad \\\"quote\\\" \\\\" +
    " back slash tab \u00e9  end\",\"BENCH_ANCHOR.json\":\"Unexpected character ('}' (code 12" +
    "5))\"},\"gate\":{\"vs\":\"9dc08a2/398q/246.2s\",\"per_query_ratio\":4.34,\"pass\":false}" +
    ",\"prev_close\":{\"vs\":\"r19/398q/267.0s\",\"per_query_ratio\":4.01},\"anchor\":{\"n_sh" +
    "ared\":5,\"anchor_s\":10.0,\"now_s\":18.8,\"ratio\":1.88,\"violations\":[{\"q\":\"jx_pip" +
    "eline_rules\",\"anchor\":7.32,\"now\":14.50,\"ratio\":2.0},{\"q\":\"etl_scd2\",\"anchor" +
    "\":0.50,\"now\":2.00,\"ratio\":4.0},{\"q\":\"sim_sq8\",\"anchor\":0.20,\"now\":1.10,\"ra" +
    "tio\":5.5},{\"q\":\"agg_cube\",\"anchor\":0.10,\"now\":0.48,\"ratio\":4.7},{\"q\":\"dedu" +
    "p_exact\",\"anchor\":0.20,\"now\":0.61,\"ratio\":3.1}],\"violations_omitted\":2,\"pass\"" +
    ":false},\"sf\":\"sf0.01\"}"
  private val small0 =
    "{\"metric\":\"total\",\"value\":19,\"unit\":\"sec\",\"n_queries\":7,\"queries\":{\"jx_pi" +
    "peline_rules\":15,\"agg_cube\":0,\"dedup_exact\":1,\"win_topk\":0,\"sim_sq8\":1,\"etl_sc" +
    "d2\":2,\"text_tfidf\":0},\"errors\":{\"text_tfidf\":\"bad \\\"quote\\\" \\\\ back slash " +
    "tab \u00e9  end\",\"BENCH_ANCHOR.json\":\"Unexpected character ('}' (code 125))\"},\"gat" +
    "e\":{\"vs\":\"9dc08a2/398q/246.2s\",\"per_query_ratio\":4.34,\"pass\":false},\"prev_clos" +
    "e\":{\"vs\":\"r19/398q/267.0s\",\"per_query_ratio\":4.01},\"anchor\":{\"n_shared\":5,\"a" +
    "nchor_s\":10.0,\"now_s\":18.8,\"ratio\":1.88,\"violations\":[{\"q\":\"jx_pipeline_rules" +
    "\",\"anchor\":7.32,\"now\":14.50,\"ratio\":2.0},{\"q\":\"etl_scd2\",\"anchor\":0.50,\"no" +
    "w\":2.00,\"ratio\":4.0},{\"q\":\"sim_sq8\",\"anchor\":0.20,\"now\":1.10,\"ratio\":5.5},{" +
    "\"q\":\"agg_cube\",\"anchor\":0.10,\"now\":0.48,\"ratio\":4.7},{\"q\":\"dedup_exact\",\"" +
    "anchor\":0.20,\"now\":0.61,\"ratio\":3.1}],\"violations_omitted\":2,\"pass\":false},\"sf" +
    "\":\"sf0.01\"}"
  private val smallTop3 =
    "{\"metric\":\"total\",\"value\":18.8,\"unit\":\"sec\",\"n_queries\":7,\"queries\":{\"jx_" +
    "pipeline_rules\":14.5,\"etl_scd2\":2,\"sim_sq8\":1.1},\"queries_omitted\":4,\"errors\":{" +
    "\"text_tfidf\":\"bad \\\"quote\\\" \\\\ back slash tab \u00e9  end\",\"BENCH_ANCHOR.json" +
    "\":\"Unexpected character ('}' (code 125))\"},\"gate\":{\"vs\":\"9dc08a2/398q/246.2s\"," +
    "\"per_query_ratio\":4.34,\"pass\":false},\"prev_close\":{\"vs\":\"r19/398q/267.0s\",\"pe" +
    "r_query_ratio\":4.01},\"anchor\":{\"n_shared\":5,\"anchor_s\":10.0,\"now_s\":18.8,\"rati" +
    "o\":1.88,\"violations\":[{\"q\":\"jx_pipeline_rules\",\"anchor\":7.32,\"now\":14.50,\"ra" +
    "tio\":2.0},{\"q\":\"etl_scd2\",\"anchor\":0.50,\"now\":2.00,\"ratio\":4.0},{\"q\":\"sim_" +
    "sq8\",\"anchor\":0.20,\"now\":1.10,\"ratio\":5.5},{\"q\":\"agg_cube\",\"anchor\":0.10,\"" +
    "now\":0.48,\"ratio\":4.7},{\"q\":\"dedup_exact\",\"anchor\":0.20,\"now\":0.61,\"ratio\":" +
    "3.1}],\"violations_omitted\":2,\"pass\":false},\"sf\":\"sf0.01\"}"
  private val smallTop2Reps =
    "{\"metric\":\"total\",\"value\":19,\"unit\":\"sec\",\"n_queries\":7,\"queries\":{\"jx_pi" +
    "peline_rules\":15,\"etl_scd2\":2},\"queries_omitted\":5,\"errors\":{\"text_tfidf\":\"bad" +
    " \\\"quote\\\" \\\\ back slash tab \u00e9  end\",\"BENCH_ANCHOR.json\":\"Unexpected char" +
    "acter ('}' (code 125))\"},\"reps_escalated\":{\"agg_cube\":4,\"sim_sq8\":3},\"gate\":{\"" +
    "vs\":\"9dc08a2/398q/246.2s\",\"per_query_ratio\":4.34,\"pass\":false},\"prev_close\":{\"" +
    "vs\":\"r19/398q/267.0s\",\"per_query_ratio\":4.01},\"anchor\":{\"n_shared\":5,\"anchor_s" +
    "\":10.0,\"now_s\":18.8,\"ratio\":1.88,\"violations\":[{\"q\":\"jx_pipeline_rules\",\"anc" +
    "hor\":7.32,\"now\":14.50,\"ratio\":2.0},{\"q\":\"etl_scd2\",\"anchor\":0.50,\"now\":2.00" +
    ",\"ratio\":4.0},{\"q\":\"sim_sq8\",\"anchor\":0.20,\"now\":1.10,\"ratio\":5.5},{\"q\":\"" +
    "agg_cube\",\"anchor\":0.10,\"now\":0.48,\"ratio\":4.7},{\"q\":\"dedup_exact\",\"anchor\"" +
    ":0.20,\"now\":0.61,\"ratio\":3.1}],\"violations_omitted\":2,\"pass\":false},\"sf\":\"sf0" +
    ".01\"}"
  private val quietSidecar =
    "{\"metric\":\"total\",\"value\":1.25,\"unit\":\"sec\",\"n_queries\":2,\"queries\":{\"a\"" +
    ":1,\"b\":0.25},\"errors\":{},\"reps_escalated\":{},\"gate\":{\"vs\":\"abcdef0/4q/5.0s\"," +
    "\"per_query_ratio\":0.50,\"pass\":true},\"anchor\":{\"n_shared\":2,\"anchor_s\":1.0,\"no" +
    "w_s\":1.3,\"ratio\":1.25,\"violations\":[],\"pass\":true},\"sf\":\"sf0.1\"}"
  private val quiet2 =
    "{\"metric\":\"total\",\"value\":1.25,\"unit\":\"sec\",\"n_queries\":2,\"queries\":{\"a\"" +
    ":1,\"b\":0.25},\"errors\":{},\"gate\":{\"vs\":\"abcdef0/4q/5.0s\",\"per_query_ratio\":0." +
    "50,\"pass\":true},\"anchor\":{\"n_shared\":2,\"anchor_s\":1.0,\"now_s\":1.3,\"ratio\":1." +
    "25,\"violations\":[],\"pass\":true},\"sf\":\"sf0.1\"}"

  test("the line at each precision and top-K is the hand-written formatter's, byte for byte") {
    assert(Bench.line(small, 3, Int.MaxValue, withReps = true) === smallSidecar)
    assert(Bench.line(small, 2, Int.MaxValue) === small2)
    assert(Bench.line(small, 1, Int.MaxValue) === small1)
    assert(Bench.line(small, 0, Int.MaxValue) === small0)
    for (k <- Seq(60, 40, 25, 15)) assert(Bench.line(small, 1, k) === small1)
    assert(Bench.line(small, 0, 10) === small0)
    assert(Bench.line(small, 1, 3) === smallTop3)
    assert(Bench.line(small, 0, 2, withReps = true) === smallTop2Reps)
    assert(Bench.stdoutLine(small) === small2)
    assert(Bench.line(quiet, 3, Int.MaxValue, withReps = true) === quietSidecar)
    assert(Bench.stdoutLine(quiet) === quiet2)
    // a zero anchor: the ratios are written as strings and the line stays
    // valid JSON (the hand-written formatter wrote a bare Infinity/NaN)
    val zero = Bench.json.readTree(Bench.stdoutLine(quiet.copy(
      anchor = Some((1, 0.0, 1.0)), violations = Seq(("a", 0.0, 1.0)))))
    assert(zero.get("anchor").get("ratio").asText === "Infinity")
    assert(zero.get("anchor").get("violations").get(0).get("ratio").asText === "Infinity")
  }

  test("every degrade step of the stdout line is the hand-written formatter's, " +
    "within the 1,920-char budget") {
    def ladder(pad: Int, n: Int): Report = {
      val res = (0 until n).map(i =>
        (("q" + "x" * pad) + f"_$i%03d") -> ((i * 7919 % 1000) / 97.0 + (i + 1) / 1000.0))
      Report("sf0.1", res, Seq(res(1)._1 -> "boom \"x\" \\ y\nz"),
        res.take(3).map(_._1 -> 4), Some(Prior("abcdef0", n, n * 1.5)),
        Some(Prior("r19", 398, 267.0)), Some((n, n * 0.9, res.map(_._2).sum)),
        res.take(7).map { case (k, v) => (k, v / 3, v) })
    }
    // (pad, n) landing on each step: 2, 1, 0 decimals; top 60, 40, 25, 15;
    // then the top-10 fallback. (pad, n, sha of the line, sha of the sidecar)
    val steps = Seq(
      (0, 10, "b4a32987e550789aee199a81ecdb7d3667a2ab706b01e63e6f2105fc17215051",
        "ace6a6d41a8c8959b660828379b3a3c9d11240a55b381256122e9b4e718ca546"),
      (0, 100, "f80e5f7e6073291dc332ed65b34bbb9c76d08428cc112a966714f01b76d873f7",
        "8d1f9e016d3c85c4372689aca0c7bb69920c4f88287f4ac3474952c82d8517ba"),
      (0, 110, "6df6947e00cd2cadbd6893de816110400ae0fc5da89e6c26641cf126465994bf",
        "95428970e328cdde2993b555d9a6ce40b3a6d35d17779872dc6ca57d5fb3a3ff"),
      (0, 130, "4770d5c926661f6a167eb7d5bfe3f789f6725f38493be532b07db5d7459cedf2",
        "e23d89ded3ecd117881ae1ecf31d148f39a84c531ea7fb2212e923ba25c4857c"),
      (10, 65, "246a90c8f269d4695c0c576c54c9cde34fd3c7490305b4e03e71ffcc667ec14a",
        "f9b42be34e4d35fba656cc44fbe6c0904e9d5b476f95f71df46d38d06dba1c55"),
      (20, 40, "2efd2d29b6e8339fb6f08a2d45161ec8ac13bd0462014e33ca763b5546b8ae51",
        "bca3588dc8306252e7ee7d5cce1d48c2d34f1968242cb45d201036aa71ace908"),
      (40, 25, "d550a48bc044c6eb1987c20870b672e626386c398801d4570c776a00cf6b4b20",
        "7d2dcbe34741b948ad960c525f0c92713f6c75f480f801ab177a71223d358d01"),
      (60, 15, "cfe52b9a388f075ae38f8ce52172cfd75be8ffcfe0c261b1e6bd94ee0d381902",
        "e7402e1cf549626f21d5ed31b0859dcfba080a149b533a67f151c107e4e31c89"))
    val candidates: Report => Seq[String] = r =>
      (2 to 0 by -1).map(Bench.line(r, _, Int.MaxValue)) ++
        Seq(60, 40, 25, 15).map(Bench.line(r, 1, _)) :+ Bench.line(r, 0, 10)
    for (((pad, n, lineSha, sidecarSha), step) <- steps.zipWithIndex) {
      val r = ladder(pad, n)
      val out = Bench.stdoutLine(r)
      assert(candidates(r).indexOf(out) === step, (pad, n))
      assert(out.length <= 1920)
      assert(sha(out) === lineSha, (pad, n))
      assert(sha(Bench.line(r, 3, Int.MaxValue, withReps = true)) === sidecarSha, (pad, n))
    }
  }
}
