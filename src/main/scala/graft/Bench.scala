package graft

import java.math.BigDecimal
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonProcessingException, StreamReadFeature, StreamWriteFeature}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.{DecimalNode, JsonNodeFactory, ObjectNode}

object Bench {
  private val nodes = JsonNodeFactory.instance

  /** The one JSON codec for every bench and verify artifact. Floats read as
    * exact decimals and are written plain, so a frozen anchor's `0.630`
    * keeps its text; a duplicate key is a parse error, not a dropped entry. */
  private[graft] val json: ObjectMapper = JsonMapper.builder()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .disable(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    .build()

  /** An object holding `fields` in the given order. */
  private[graft] def obj(fields: Iterable[(String, JsonNode)]): ObjectNode = {
    val o = nodes.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }

  private[graft] def str(s: String): JsonNode = nodes.textNode(s)

  /** A number written exactly as `text`. */
  private[graft] def num(text: String): JsonNode = DecimalNode.valueOf(new BigDecimal(text))

  /** `v` at `dec` decimals in Locale.ROOT: under a comma-decimal default
    * locale every number written here would corrupt the record. */
  private[graft] def fixed(dec: Int, v: Double): String =
    s"%.${dec}f".formatLocal(Locale.ROOT, v)

  /** The artifact at `p`; None when there is no such file (a first run).
    * A file that cannot be read or is not a JSON object throws. */
  private[graft] def readJson(p: Path): Option[JsonNode] =
    Option.when(Files.exists(p))(json.readTree(Files.readString(p))).map { t =>
      require(t.isObject, s"$p is not a JSON object"); t
    }

  private def message(e: Throwable) = Option(e.getMessage).getOrElse(e.getClass.getName)

  /** `f`, or `orElse` with `f`'s failure recorded in `errors` under `name`,
    * the artifact's file name: an artifact that cannot be read, parsed or
    * written fails the run. Fatal errors are not caught. */
  private[graft] def recorded[T](errors: collection.mutable.Map[String, String],
      name: String, orElse: T)(f: => T): T =
    try f catch {
      case NonFatal(e) =>
        errors(name) = (e match {
          // a parse error names its place in the file, not Jackson's source banner
          case j: JsonProcessingException if j.getLocation != null => s"${j.getOriginalMessage} " +
            s"(line ${j.getLocation.getLineNr}, column ${j.getLocation.getColumnNr})"
          case _ => message(e)
        }).take(200)
        orElse
    }

  /** The entries of the object at `key` of `node` (`node` itself when
    * `key` is empty), in file order. */
  private def entries(node: JsonNode, key: String = ""): Seq[(String, JsonNode)] = {
    val o = if (key.isEmpty) node else node.path(key)
    require(o.isObject, s"'$key' is not an object")
    o.properties.iterator.asScala.map(e => e.getKey -> e.getValue).toSeq
  }

  private def number(v: JsonNode, where: String): BigDecimal = {
    require(v.isNumber, s"$where is not a number")
    v.decimalValue
  }

  /** A prior sidecar's (bench_full.json) per-key times; empty when it was
    * measured at another sf. */
  private[graft] def sidecarTimes(sidecar: JsonNode, sf: String): Map[String, Double] =
    if (sidecar.path("sf").asText != sf) Map.empty
    else entries(sidecar, "queries").map { case (k, v) =>
      k -> number(v, s"queries.$k").doubleValue }.toMap

  /** BENCH_ANCHOR.json's per-key anchors with their number text as written;
    * empty for another sf. Throws unless `queries` is an object of numbers. */
  private[graft] def anchorTexts(anchor: JsonNode, sf: String): Seq[(String, String)] = {
    val texts = entries(anchor, "queries").map { case (k, v) =>
      k -> number(v, s"queries.$k").toPlainString }
    if (anchor.path("sf").asText == sf) texts else Nil
  }

  /** BENCH_ANCHOR.json with `added` (key, number text) sorted in among the
    * frozen anchors; all else is carried through, in the committed layout:
    * one entry per line, `comment`, `sf`, `superseded` (a re-frozen
    * anchor's old entry and note) and `queries` first. */
  private[graft] def anchorFile(anchor: JsonNode, added: Seq[(String, String)]): String = {
    val queries = (entries(anchor, "queries") ++
      added.map { case (k, t) => k -> num(t) }).sortBy(_._1)
    val first = Seq("comment", "sf", "superseded", "queries")
    val top = first.flatMap(k => Option(anchor.get(k)).map(k -> _)) ++
      entries(anchor).filterNot(e => first.contains(e._1))
    def entry(k: String, v: JsonNode): String = json.writeValueAsString(k) + ": " +
      (if (v.isObject && !v.isEmpty)
         entries(v).map { case (k2, v2) => entry(k2, v2) }.mkString("{\n", ",\n", "\n}")
       else json.writeValueAsString(v))
    top.map {
      case ("queries", _) => entry("queries", obj(queries))
      case (k, v)         => entry(k, v)
    }.mkString("{\n", ",\n", "\n}\n")
  }

  /** The anchor file with the `results` keys it lacks frozen at this run's
    * time, or None when there is nothing to add or no anchor file at this
    * sf (`anchored`: the parsed file and its [[anchorTexts]]). Existing
    * anchors are NEVER re-timed. */
  private[graft] def frozenAnchors(anchored: Option[(JsonNode, Seq[(String, String)])],
      results: Seq[(String, Double)]): Option[String] =
    anchored.filter(_._2.nonEmpty).flatMap { case (tree, texts) =>
      val have = texts.map(_._1).toSet
      val added = results.collect { case (k, v) if !have(k) => k -> fixed(3, v) }
      Option.when(added.nonEmpty)(anchorFile(tree, added))
    }

  /** A prior run: its git rev or round tag, query count and total seconds. */
  private[graft] final case class Prior(label: String, n: Int, total: Double)

  /** The round-close records (BENCH_r{N}.json) in `dir` with their round
    * tags, newest first. */
  private[graft] def roundCloses(dir: Path): Seq[(String, Path)] = {
    val rFile = """BENCH_r(\d+)\.json""".r
    dir.toFile.listFiles.toSeq.flatMap(f => f.getName match {
      case rFile(n) => Some(n.toInt -> f.toPath)
      case _        => None
    }).sortBy(-_._1).map { case (n, p) => s"r$n" -> p }
  }

  /** A round close at `sf`, read from its stdout line as recorded (the
    * record's `parsed` object); None if none was parsed or another sf. */
  private[graft] def closeOf(tag: String, record: JsonNode, sf: String): Option[Prior] = {
    val line = record.path("parsed")
    Option.when(line.isObject && line.path("sf").asText == sf)(Prior(tag,
      number(line.path("n_queries"), "parsed.n_queries").intValueExact,
      number(line.path("value"), "parsed.value").doubleValue))
  }

  /** The short rev checked out in the `.git` directory `git`: HEAD, or the
    * commit of the branch it names, from the loose ref or else from
    * `packed-refs` (where `git gc` moves refs); "unknown" when not found. */
  private[graft] def gitRev(git: Path): String = {
    def read(name: String) =
      Option(git.resolve(name)).filter(Files.isRegularFile(_)).map(Files.readString(_).trim)
    read("HEAD").flatMap { h =>
      if (!h.startsWith("ref: ")) Some(h)
      else read(h.drop(5)).orElse(read("packed-refs").flatMap(_.linesIterator
        .map(_.split(" ")).collectFirst { case Array(sha, ref) if ref == h.drop(5) => sha }))
    }.fold("unknown")(_.take(7))
  }

  // BASELINE.md is a markdown table, not JSON: its [auto] rows are the one
  // thing here matched by a pattern
  private val autoRow = ("""\| \d{4}-\d{2}-\d{2} \| ([0-9a-f]{7}|unknown) \| """ +
    """([^ |]+) \| ([0-9.]+) \| \[auto\] (\d+) queries""").r

  /** An `[auto]` BASELINE.md row: its sf number and its record. */
  private[graft] def baselineRow(line: String): Option[(String, Prior)] =
    autoRow.findFirstMatchIn(line).map(m =>
      m.group(2) -> Prior(m.group(1), m.group(4).toInt, m.group(3).toDouble))

  /** The 2× gate's reference: the `[auto]` row at `sf` whose query count is
    * closest to `n` (the later row wins a tie), other than this tree's own
    * `rev` or an unknown one. Per-query means keep it like-for-like while
    * the surface grows. */
  private[graft] def gateRow(baseline: Seq[String], sf: String, rev: String,
      n: Int): Option[Prior] = {
    val rows = baseline.flatMap(baselineRow).collect {
      case (`sf`, p) if p.label != rev && p.label != "unknown" => p }
    Option.when(rows.nonEmpty && n > 0)(
      rows.zipWithIndex.minBy { case (p, i) => (math.abs(p.n - n), -i) }._1)
  }

  /** The 2× gate's and the prev-close's references for a run of `n` keys:
    * both compare its per-query mean with a full run's, so a filtered run
    * (`SPARK_GRAFT_BENCH_ONLY`) gets neither and reads no round close. */
  private[graft] def fullRunRefs(filtered: Boolean, baseline: Option[Seq[String]],
      sf: String, rev: String, n: Int, prevClose: => Option[Prior]): (Option[Prior], Option[Prior]) =
    if (filtered) (None, None)
    else (baseline.flatMap(gateRow(_, sf, rev, n)), prevClose)

  /** BASELINE.md with the [auto] `row` of a run of `total` seconds: it
    * replaces the row of the same rev, sf and query count only when `total`
    * is LOWER (best-of-runs: a contended re-run never overwrites a quiet
    * record) and is appended when there is none; None when a better row
    * stands. Hand-written rows are never touched. */
  private[graft] def withAutoRow(baseline: Seq[String], row: String,
      total: Double): Option[Seq[String]] = {
    val (sf, mine) = baselineRow(row).get
    val same = baseline.indexWhere(l => baselineRow(l).exists { case (s, p) =>
      s == sf && p.label == mine.label && p.n == mine.n })
    if (same < 0) Some(baseline :+ row)
    else Option.when(total < baselineRow(baseline(same)).get._2.total)(
      baseline.updated(same, row))
  }

  /** One run's report: per-key times in timing order, errors, the keys
    * escalated past the base reps, the gate and round-close references,
    * and the anchor gate (shared keys, anchor and current sums) with its
    * per-key violations (key, anchor, now), worst first. */
  private[graft] final case class Report(
      sf: String,
      results: Seq[(String, Double)],
      errors: Seq[(String, String)],
      escalated: Seq[(String, Int)],
      gate: Option[Prior],
      prevClose: Option[Prior],
      anchor: Option[(Int, Double, Double)],
      violations: Seq[(String, Double, Double)]) {
    val total: Double = results.map(_._2).sum
    def perQuery(p: Prior): Double = (total / results.size) / (p.total / p.n)
  }

  /** The report as one JSON line: times at `dec` decimals, trailing zeros
    * stripped, for the `topK` costliest keys only (the ones the 2× gate
    * cares about); `withReps` adds the escalated keys. Control characters
    * in an error are blanked. */
  private[graft] def line(r: Report, dec: Int, topK: Int, withReps: Boolean = false): String = {
    def sec(v: Double) = DecimalNode.valueOf(new BigDecimal(fixed(dec, v)).stripTrailingZeros)
    // a ratio over a zero anchor is written as the string "NaN"/"Infinity"
    def at(places: Int, v: Double) =
      if (v.isNaN || v.isInfinite) nodes.numberNode(v) else num(fixed(places, v))
    def int(n: Int) = nodes.numberNode(n)
    def blank(s: String) = s.map(c => if (c < ' ') ' ' else c)
    def vs(p: Prior) = str(s"${p.label}/${p.n}q/${fixed(1, p.total)}s")
    val kept =
      if (topK >= r.results.size) r.results else r.results.sortBy(-_._2).take(topK)
    val anchor = r.anchor.map { case (n, anc, cur) => "anchor" -> obj(Seq(
      "n_shared" -> int(n), "anchor_s" -> at(1, anc), "now_s" -> at(1, cur),
      "ratio" -> at(2, cur / anc),
      "violations" -> nodes.arrayNode().addAll(r.violations.take(5).map { case (k, a, v) =>
        obj(Seq("q" -> str(k), "anchor" -> at(2, a), "now" -> at(2, v), "ratio" -> at(1, v / a)))
      }.asJava)) ++
      Option.when(r.violations.size > 5)("violations_omitted" -> int(r.violations.size - 5)) :+
      ("pass" -> nodes.booleanNode(cur / anc <= 2.0 && r.violations.isEmpty)))
    }
    json.writeValueAsString(obj(Seq(
      "metric" -> str("total"), "value" -> sec(r.total), "unit" -> str("sec"),
      "n_queries" -> int(r.results.size),
      "queries" -> obj(kept.map { case (k, v) => k -> sec(v) })) ++
      Option.when(kept.size < r.results.size)("queries_omitted" -> int(r.results.size - kept.size)) ++
      Seq("errors" -> obj(r.errors.map { case (k, v) => blank(k) -> str(blank(v)) })) ++
      Option.when(withReps)("reps_escalated" -> obj(r.escalated.map { case (k, n) => k -> int(n) })) ++
      r.gate.map(p => "gate" -> obj(Seq("vs" -> vs(p),
        "per_query_ratio" -> at(2, r.perQuery(p)),
        "pass" -> nodes.booleanNode(r.perQuery(p) <= 2.0)))) ++
      r.prevClose.map(p => "prev_close" -> obj(Seq("vs" -> vs(p),
        "per_query_ratio" -> at(2, r.perQuery(p))))) ++
      anchor :+ ("sf" -> str(r.sf))))
  }

  /** The stdout line. Its consumer parses it out of the last 2000 chars of
    * stdout, which also hold sbt's ~75-char [success] trailer: a ~1920-char
    * budget (round 3's full-precision doubles and round 7's 113 keys each
    * overflowed it: parsed:null despite rc=0). Precision degrades 2 → 1 →
    * 0 decimals, then the map shrinks to the top-K keys; bench_full.json
    * keeps them all. */
  private[graft] def stdoutLine(r: Report): String =
    ((2 to 0 by -1).view.map(line(r, _, Int.MaxValue)) ++
      Seq(60, 40, 25, 15).view.map(line(r, 1, _)))
      .find(_.length <= 1920).getOrElse(line(r, 0, 10))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Warm the JVM/codegen/scheduler once so the first timed query doesn't
    // absorb session startup (seconds on whichever query came first).
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    Tables.t(spark, sfDir, "region").count()
    val sfName = new java.io.File(sfDir).getName
    val sfNum = sfName.stripPrefix("sf")
    // A failing query, or an artifact that cannot be read, parsed or
    // written, fails the bench VISIBLY: its error is recorded, the rest
    // still runs, and the exit is non-zero (no -1L masking).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def artifact[T](name: String, orElse: T)(f: => T): T = recorded(errors, name, orElse)(f)
    // The prior sidecar's times (same sf), loaded BEFORE timing so a
    // variance-flagged query escalates its reps inline (r11: one contended
    // sample became the official artifact at 1.99× the gate).
    val prevTimes: Map[String, Double] = artifact("bench_full.json", Map.empty[String, Double])(
      readJson(Paths.get("bench_full.json")).fold(Map.empty[String, Double])(sidecarTimes(_, sfName)))
    // FIXED cross-round anchor (r14 gap #4): the closest-row gate ratchets
    // against recent records, so a slow drift could pass invisibly;
    // BENCH_ANCHOR.json pins every key's FIRST quiet time forever. Parsed
    // BEFORE timing so a per-key violation gets an inline quiet re-measure.
    val anchorPath = Paths.get("BENCH_ANCHOR.json")
    val anchored: Option[(JsonNode, Seq[(String, String)])] =
      artifact("BENCH_ANCHOR.json", Option.empty[(JsonNode, Seq[(String, String)])])(
        readJson(anchorPath).map(tree => tree -> anchorTexts(tree, sfName)))
    val anchor: Map[String, Double] =
      anchored.toSeq.flatMap(_._2).map { case (k, t) => k -> t.toDouble }.toMap
    // Each query reports the MIN of `reps` runs (single shots swing ~2× on
    // codegen and neighbor noise); a min still >3× the prior sidecar's time
    // gets up to `extraReps` more runs, so a noisy window costs samples,
    // not a contaminated artifact.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val extraReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA_REPS", "2").toInt
    // Key filter for STANDALONE quiet re-measures: a filtered run SKIPS
    // every permanent record, so a partial run never masquerades as full.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val repsUsed = scala.collection.mutable.LinkedHashMap[String, Int]()
    val results0 = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      var best = Double.MaxValue
      var rep = 0
      def runOnce(): Unit = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable => errors(name) = message(e).take(200)
        }
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        rep += 1
      }
      while (rep < reps && !errors.contains(name)) runOnce()
      // Escalate: only meaningful when a prior quiet time exists and was
      // itself non-trivial (>=0.15s keeps sub-100ms jitter from triggering).
      def flagged: Boolean =
        prevTimes.get(name).exists(pv => pv >= 0.15 && best > 3 * pv)
      var extra = 0
      while (flagged && extra < extraReps && !errors.contains(name)) {
        runOnce(); extra += 1
      }
      repsUsed(name) = rep
      name -> best
    }
    // PER-KEY anchor gate (r15 #2: the aggregate ratio hides one 10× key in
    // a 319-key sum). Two clauses (r17 #1b): the noise band (>2× AND >+1 s)
    // and a ratio-only one (≥3×, anchors ≥50 ms) that sub-second drift can't
    // escape. Each violator gets ONE quiet re-measure once the fleet has
    // drained; a genuine plan regression survives it.
    def keyViolates(k: String, v: Double): Boolean =
      anchor.get(k).exists(a =>
        (v > 2 * a && v - a > 1.0) || (a >= 0.05 && v >= 3 * a))
    val retried = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results: Map[String, Double] = results0.map { case (k, v) =>
      if (keyViolates(k, v) && !errors.contains(k)) {
        // a failed retry is recorded, not timed: a fast failure must not
        // pass the gate as a fast run
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(k)(spark, sfDir).count()
          val again = (System.nanoTime() - t0) / 1e9
          retried(k) = math.min(v, again)
          k -> math.min(v, again)
        } catch {
          case e: Throwable =>
            errors(k) = ("retry: " + message(e)).take(200)
            k -> v
        }
      } else k -> v
    }
    val violations: Seq[(String, Double, Double)] = results.toSeq.collect {
      case (k, v) if keyViolates(k, v) && !errors.contains(k) =>
        (k, anchor(k), v)
    }.sortBy { case (_, a, v) => -(v / a) }
    val rev = artifact(".git", "unknown")(gitRev(Paths.get(".git")))
    val baselinePath = Paths.get("BASELINE.md")
    val baseline: Option[Seq[String]] = artifact("BASELINE.md", Option.empty[Seq[String]])(
      Option.when(Files.exists(baselinePath))(Files.readAllLines(baselinePath).asScala.toSeq))
    // The 2×-vs-baseline gate, computed HERE, not by hand; > 2 fails loudly.
    // And vs the previous round's official close (r17 #1c: the closest row
    // can be this round's own worst run, which flatters the trend).
    // Informational: the anchors are the binding record.
    val (gate, prevClose) = fullRunRefs(only.isDefined, baseline, sfNum, rev, results.size,
      if (results.isEmpty) None
      else roundCloses(Paths.get(".")).view.flatMap { case (tag, p) =>
        artifact(p.getFileName.toString, Option.empty[Prior])(
          readJson(p).flatMap(closeOf(tag, _, sfName)))
      }.headOption)
    // Aggregate anchor gate: `pass` needs ratio <= 2 AND no per-key
    // violation (the line shows 5 of them, stderr all).
    val anchorGate: Option[(Int, Double, Double)] = {
      val shared = results.keySet.intersect(anchor.keySet)
      if (shared.isEmpty) None
      else {
        val cur = shared.toSeq.map(results).sum
        val anc = shared.toSeq.map(anchor).sum
        Some((shared.size, anc, cur))
      }
    }
    // a def: errors recorded by the artifact writes below reach the stdout line
    def report = Report(sfName, results.toSeq, errors.toSeq,
      repsUsed.filter(_._2 > reps).toSeq, gate, prevClose, anchorGate, violations)
    prevClose.foreach { p =>
      System.err.println(
        f"[bench] PREV-CLOSE: per-query ratio ${report.perQuery(p)}%.2fx vs ${p.label} " +
          f"(${p.n} queries, ${p.total}%.1fs)")
    }
    gate.foreach { p =>
      val perQ = report.perQuery(p)
      System.err.println(
        f"[bench] GATE ${if (perQ <= 2.0) "PASS" else "FAIL"}: " +
          f"per-query ratio $perQ%.2fx vs ${p.label} (${p.n} queries, ${p.total}%.1fs)")
    }
    anchorGate.foreach { case (n, anc, cur) =>
      val r = cur / anc
      val pass = r <= 2.0 && violations.isEmpty
      System.err.println(
        f"[bench] ANCHOR ${if (pass) "PASS" else "FAIL"}: $n shared keys " +
          f"$anc%.1fs at first-green -> $cur%.1fs now ($r%.2fx), " +
          s"${violations.size} per-key violations (${retried.size} retried quiet)")
      violations.foreach { case (k, a, v) =>
        System.err.println(
          f"[bench] ANCHOR-KEY $k: $a%.2fs at first-green -> $v%.2fs now " +
            f"(${v / a}%.1fx, survived quiet retry) - plan regression or " +
            "persistent contention, read the plan")
      }
    }
    // Variance (stderr only): still >3× after escalation may be a plan
    // regression; big drops are logged too (they reset the sidecar floor).
    results.foreach { case (k, v) =>
      prevTimes.get(k).filter(_ >= 0.15).foreach { pv =>
        if (v > 3 * pv || (v >= 0.15 && pv > 3 * v)) {
          val esc = repsUsed.getOrElse(k, reps)
          System.err.println(
            f"[bench] VARIANCE $k: $pv%.2fs -> $v%.2fs (${v / pv}%.1fx, $esc reps) on " +
              "this tree - contention or regression, re-measure standalone")
        }
      }
    }
    if (only.isEmpty) artifact("bench_full.json", ())(Files.writeString(
      Paths.get("bench_full.json"), line(report, 3, Int.MaxValue, withReps = true) + "\n"))
    // New keys are frozen into the anchor file only by a full run with zero
    // errors at the anchor's sf, so a failing tree can't pollute it.
    if (only.isEmpty && errors.isEmpty) frozenAnchors(anchored, results.toSeq).foreach {
      text => artifact("BENCH_ANCHOR.json", ())(Files.writeString(anchorPath, text))
    }
    // The machine-kept BASELINE.md row (r11: the manual record drifted).
    if (only.isEmpty && errors.isEmpty) baseline.foreach { lines =>
      val top = results.toSeq.sortBy(-_._2).take(5)
        .map { case (k, v) => s"$k ${fixed(1, v)}" }.mkString(", ")
      val escNote =
        if (repsUsed.exists(_._2 > reps))
          s"; escalated: ${repsUsed.filter(_._2 > reps).keys.mkString(",")}"
        else "; 0 escalated"
      val total = report.total
      val row = s"| ${java.time.LocalDate.now} | $rev | $sfNum | ${fixed(1, total)} " +
        s"| [auto] ${results.size} queries, min-of-$reps + variance " +
        s"escalation$escNote; top: $top |"
      withAutoRow(lines, row, total).foreach { updated =>
        artifact("BASELINE.md", ())(
          Files.writeString(baselinePath, updated.mkString("", "\n", "\n")))
      }
    }
    println(stdoutLine(report))
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (k, v) => System.err.println(s"[bench] FAILED $k: $v") }
      sys.exit(1)
    }
  }
}
