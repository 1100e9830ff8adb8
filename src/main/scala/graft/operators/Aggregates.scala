package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Common._

/** jx groupby / edges aggregation (SURVEY.md §2.4).
  *
  * The reference's signature aggregation is the *dense datacube*: `edges`
  * produce one cell per domain part — empty cells materialized — unlike SQL
  * GROUP BY which only returns observed groups (upstream: jx_base/domains.py
  * builds the domain; mo_collections/matrix.py holds the dense result;
  * jx_elasticsearch/es52/aggs.py translates to ES aggregations).
  *
  * Spark-first re-expression: aggregate sparsely with a hash agg (partial →
  * final, map-side combine native), then right-join the dense domain frame,
  * generated IN-PLAN (distinct scan or `sequence()`+`explode`) — never
  * collected to the driver, so domain generation scales with executors.
  */
object Aggregates {

  /** A1: sparse hash group-by — TPC-H Q1 shape. Partial aggregation halves
    * shuffle volume at scale; AQE coalesces post-shuffle partitions. */
  val aggGroupby: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r2(sum("l_quantity")).as("sum_qty"),
        r2(sum("l_extendedprice")).as("sum_base"),
        r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc"),
        r2(avg("l_quantity")).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A2: dense edges over a set domain. The filtered subset misses some
    * (flag × status) combos; the dense cube still emits every cell with
    * count 0 / sum null — jx cube semantics. */
  val edgesDense: Q = (s, d) => {
    val li = t(s, d, "lineitem")
    val subset = li.filter(col("l_quantity") > 45.0)
    val sparse = subset.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sq"))
    val domain = li.select("l_returnflag").distinct()
      .crossJoin(li.select("l_linestatus").distinct())
    domain.join(sparse, Seq("l_returnflag", "l_linestatus"), "left")
      .select(
        col("l_returnflag"), col("l_linestatus"),
        coalesce(col("cnt"), lit(0L)).as("n"),
        r2(col("sq")).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A2b: the jx null part — dense-edge domains carry one extra part for
    * rows whose edge value is MISSING (upstream: jx_base/domains.py — every
    * domain has a null part; docs without the edge land there, they are not
    * dropped). Domain = distinct observed values ∪ {null}; the dense join
    * must be null-safe (`<=>`) so the null part matches the null group. */
  val edgesDenseNull: Q = (s, d) => {
    val base = t(s, d, "events")
      .select(when(col("value") > 100.0, col("event_type")).as("k"), col("value"))
    // both join sides aliased: the same-name cross-frame form
    // (domain("k") <=> sparse("k")) resolves today but is the ambiguity
    // class that silently degrades to a trivially-true predicate when a
    // plan rewrite re-derives one side from the other
    val domain = base.filter(col("k").isNotNull).select("k").distinct()
      .unionByName(s.range(1).select(lit(null).cast("string").as("k")))
      .as("dm")
    val sparse = base.groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      .as("sp")
    domain.join(sparse, col("dm.k") <=> col("sp.k"), "left")
      .select(col("dm.k").as("k"), coalesce(col("cnt"), lit(0L)).as("n"),
        r2(col("sv")).as("sum_value"))
      .orderBy(asc_nulls_first("k"))
  }

  /** A3: dense histogram domain [min,max) / width, generated with
    * `sequence()` from in-plan min/max — no driver round-trip. */
  val edgesHistogram: Q = (s, d) => {
    val ev = t(s, d, "events")
    val bounds = ev.agg(
      (floor(min("value") / 50.0) * 50).cast("long").as("lo"),
      (floor(max("value") / 50.0) * 50).cast("long").as("hi"))
    val domain = bounds
      .select(explode(sequence(col("lo"), col("hi"), lit(50L))).as("bucket"))
      .select(col("bucket").cast("double").as("bucket"))
    val sparse = ev.groupBy((floor(col("value") / 50.0) * 50.0).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    domain.join(sparse, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("cnt"), lit(0L)).as("n"), r2(col("sv")).as("sum_value"))
      .orderBy("bucket")
  }

  /** A4: dense time domain — tumbling calendar days between min and max
    * (upstream: jx time domains over mo_times). `sequence(day, day, 1 day)`
    * generates the axis in-plan. */
  val edgesTime: Q = (s, d) => {
    val ev = t(s, d, "events").filter(col("event_type") === "purchase")
    val bounds = t(s, d, "events").agg(
      date_trunc("day", min("ts")).as("lo"),
      date_trunc("day", max("ts")).as("hi"))
    val domain = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val sparse = ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    domain.join(sparse, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("n"), r2(col("sv")).as("sum_value"))
      .orderBy("day")
  }

  /** A4b: gap-fill over the dense time axis (LOCF — last observation
    * carried forward): the resample primitive time-series pipelines run
    * after densification. Empty cells keep n = 0 but inherit the last
    * observed aggregate.
    *
    * Two-level LOCF so no window is ever global: (1) an ignoreNulls
    * window PARTITIONED BY MONTH carries values within each month; (2)
    * the cross-month carry-in is computed on the month-level frame
    * (~axis_days/30 rows) via a broadcast triangular join — "latest
    * earlier month's last observation" — and coalesced in. A 100×-longer
    * axis (or a per-minute axis) just widens the month partitions and the
    * tiny carry frame; nothing serializes onto one partition. */
  val edgesTimeLocf: Q = (s, d) => {
    val ev = t(s, d, "events").filter(col("event_type") === "purchase")
    val bounds = t(s, d, "events").agg(
      date_trunc("day", min("ts")).as("lo"),
      date_trunc("day", max("ts")).as("hi"))
    val domain = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val sparse = ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"), r2(sum("value")).as("sv"))
    val dense = domain.join(sparse, Seq("day"), "left")
      .withColumn("mon", date_trunc("month", col("day")))
    val wIn = Window.partitionBy("mon").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // last observed (day, value) per month, off the SPARSE frame
    val monLast = sparse
      .withColumn("mon", date_trunc("month", col("day")))
      .groupBy("mon").agg(max(struct(col("day"), col("sv"))).as("m"))
      .select(col("mon"), col("m.sv").as("last_sv"))
    // carry-in per month = last observation of any earlier month
    val carry = dense.select("mon").distinct().as("m")
      .join(broadcast(monLast.as("b")), col("b.mon") < col("m.mon"))
      .groupBy(col("m.mon").as("mon"))
      .agg(max(struct(col("b.mon").as("bm"), col("b.last_sv").as("lsv"))).as("x"))
      .select(col("mon"), col("x.lsv").as("carry_sv"))
    dense
      .withColumn("locf_in", last("sv", ignoreNulls = true).over(wIn))
      .join(broadcast(carry), Seq("mon"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("n"),
        coalesce(col("locf_in"), col("carry_sv")).as("sum_value_locf"))
      .orderBy("day")
  }

  /** A5: dense duration domain — durations (seconds between first and last
    * event per user) bucketed into 30-minute bins, every bin between 0 and
    * the observed max materialized (upstream: jx duration domains over
    * mo_times.Duration; numerically a histogram over seconds). */
  val edgesDuration: Q = (s, d) => {
    val w = 1800L // 30-minute bins
    val durs = t(s, d, "events")
      .groupBy("user_id")
      .agg((unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("dur_s"))
    val bounds = durs.agg(((max("dur_s") / w).cast("long") * w).as("hi"))
    val domain = bounds
      .select(explode(sequence(lit(0L), col("hi"), lit(w))).as("bucket"))
    val sparse = durs.groupBy(((col("dur_s") / w).cast("long") * w).as("bucket"))
      .agg(count(lit(1)).as("cnt"), avg("dur_s").as("ad"))
    domain.join(sparse, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("cnt"), lit(0L)).as("n"),
        r2(col("ad")).as("avg_dur"))
      .orderBy("bucket")
  }

  /** A6: default domain — top-N parts + "other" bucket (upstream: jx default
    * domain caps cardinality). Two passes: rank terms, then re-aggregate with
    * the tail collapsed; both stay distributed (the top-N set is a broadcast
    * join, not a collect). */
  val edgesTopnOther: Q = (s, d) => {
    val ev = t(s, d, "events")
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))
    // top-N via sort+limit → TakeOrderedAndProject (per-partition heaps,
    // no global single-partition rank window)
    val top = counts.orderBy(desc("cnt"), asc("event_type")).limit(3)
      .select(col("event_type").as("top_type"))
    ev.join(broadcast(top), ev("event_type") === top("top_type"), "left")
      .withColumn("part", coalesce(col("top_type"), lit("other")))
      .groupBy("part")
      .agg(count(lit(1)).as("n"), r2(sum("value")).as("sum_value"))
      .orderBy("part")
  }

  /** A8: exact distinct cardinality (ES uses approx HLL; exact here for the
    * oracle — `cardinality_approx` is the scale path, scalatest-gated). */
  val aggDistinct: Q = (s, d) =>
    t(s, d, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** A9: exact percentiles (ES t-digest approx upstream; percentile_approx
    * is the 100 TB path, scalatest-gated). */
  val aggPercentile: Q = (s, d) =>
    t(s, d, "events")
      .groupBy("event_type")
      .agg(
        r2(expr("percentile(value, 0.5)")).as("p50"),
        r2(expr("percentile(value, 0.9)")).as("p90"))
      .orderBy("event_type")

  /** A10: z-moment statistics (upstream: mo_math/stats.py ZeroMoment keeps
    * count/Σx…Σx⁴ and derives mean/var/skew/kurt). All four moments derive
    * from raw power averages with the SAME formula in both engines —
    * built-in skewness/kurtosis use different update orders per engine and
    * won't hash-match, raw moments do. Population convention (skew =
    * m3/m2^1.5, kurt = m4/m2² − 3), matching ZeroMoment. */
  val aggStats: Q = (s, d) =>
    t(s, d, "events")
      .groupBy("event_type")
      .agg(
        count(col("value")).as("n"),
        r2(sum("value")).as("s1"),
        avg("value").as("m1"),
        avg(pow(col("value"), 2)).as("a2"),
        avg(pow(col("value"), 3)).as("a3"),
        avg(pow(col("value"), 4)).as("a4"),
        r4(var_pop(col("value"))).as("var_p"),
        r4(stddev_pop(col("value"))).as("std_p"))
      .withColumn("m2", col("a2") - col("m1") * col("m1"))
      .withColumn("m3",
        col("a3") - lit(3) * col("m1") * col("a2") + lit(2) * pow(col("m1"), 3))
      .withColumn("m4",
        col("a4") - lit(4) * col("m1") * col("a3")
          + lit(6) * col("m1") * col("m1") * col("a2") - lit(3) * pow(col("m1"), 4))
      .select(
        col("event_type"), col("n"), col("s1"), r2(col("m1")).as("mean"),
        col("var_p"), col("std_p"),
        r4(col("m3") / pow(col("m2"), 1.5)).as("skew_p"),
        r4(col("m4") / (col("m2") * col("m2")) - 3).as("kurt_p"))
      .orderBy("event_type")

  /** A11: set-union of values per group — sorted for determinism (§7.4).
    * The set is built with `collect_set` (the jx union aggregate) but
    * serialized to a comma-joined string for the compare: the driver's
    * pandas hash can't sort raw array cells (round-3 compare crashed on
    * the ndarray), and a joined string is order-exact anyway. */
  val aggCollectSet: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_linestatus")
      .agg(concat_ws(",", array_sort(collect_set(col("l_returnflag")))).as("flags"),
        count(lit(1)).as("n"))
      .orderBy("l_linestatus")

  /** A12: first/last per group under an explicit total order (jx first/last
    * are positional; SQL needs the order spelled out). min_by/max_by over a
    * unique composite orderer keeps it deterministic and single-pass. */
  val aggFirstLast: Q = (s, d) => {
    val ev = t(s, d, "events")
    ev.groupBy("event_type")
      .agg(
        min_by(col("event_id"), struct(col("ts"), col("event_id"))).as("first_id"),
        max_by(col("event_id"), struct(col("ts"), col("event_id"))).as("last_id"),
        min("ts").as("first_ts"),
        max("ts").as("last_ts"))
      .orderBy("event_type")
  }

  /** A15: pivot / cross-tab — one row per group, one column per pivoted
    * value. The value list is EXPLICIT: the implicit form first runs a
    * distinct job to discover columns and produces unbounded width on a
    * dirty column at 100 TB; production pivots declare their columns.
    * Empty cells coalesce to 0 so the contract matches a FILTERed
    * aggregate (Spark pivot yields null for groups with no rows). */
  val aggPivot: Q = (s, d) => {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val p = t(s, d, "events")
      .groupBy(pmod(col("user_id"), lit(10)).as("u"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("u") +: types.map(v => coalesce(col(v), lit(0L)).as(v)): _*)
      .orderBy("u")
  }

  /** A14: rollup with grouping sets (not in the reference — jx "cube" is the
    * dense single grouping of A2 — but free in Spark; included for surface
    * completeness). */
  val aggRollup: Q = (s, d) =>
    t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), r2(sum("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  /** A14c: CUBE — the trio's last member (r16): every subset of the
    * grouping keys in ONE pass (rollup's hierarchy PLUS the by-status
    * slice rollup omits). Same single Expand + aggregate plan shape —
    * 4× the groups, still one scan and one shuffle. */
  val aggCube: Q = (s, d) =>
    t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), r2(sum("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  /** A14b: explicit GROUPING SETS — the general form rollup/cube are
    * shorthand for: an arbitrary list of grouping combinations in ONE
    * pass (here: by flag, by status, and the grand total — note
    * (flag, status) itself is deliberately absent, which neither rollup
    * nor cube can express). Spark expands it to a single Expand +
    * aggregate, not one scan per set. */
  val aggGroupingSets: Q = (s, d) => {
    val li = t(s, d, "lineitem")
    li.createOrReplaceTempView("li_gs")
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                count(1) AS n,
                round(sum(l_quantity), 2) AS sum_qty
         FROM li_gs
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY flag, status""")
  }

  /** A16: mergeable t-digest percentile — the sketch→store→re-merge cycle
    * as a gated query (upstream analog: the ES t-digest behind the
    * reference's percentile aggs, jx_elasticsearch/es52/aggs.py).
    *
    * Pipeline under test: (1) daily PARTIAL sketches per (day, event_type)
    * — the storable binary artifact a rollup table would persist; (2)
    * cross-day re-merge of the stored sketches per event_type; (3)
    * quantile estimates off the merged sketch. The assertion is rank-based:
    * the δ=100 digest's q-estimate must land between the EXACT percentiles
    * at q∓0.05 rank (t-digest worst-case rank error is O(1/δ) ≪ 5%). The
    * oracle pins the booleans TRUE per group, so a silently-broken merge
    * (wrong weights, dropped centroids, version skew) fails the hash gate
    * rather than just drifting. */
  val aggTdigest: Q = (s, d) => {
    import graft.functions.{TDigestMergeAgg, TDigestQuantile, TDigestSketchAgg}
    val ev = t(s, d, "events")
    val daily = ev
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(TDigestSketchAgg(col("value")).as("sketch"))
    val merged = daily.groupBy("event_type")
      .agg(TDigestMergeAgg(col("sketch")).as("sk"))
      .select(col("event_type"),
        TDigestQuantile(col("sk"), 0.5).as("td50"),
        TDigestQuantile(col("sk"), 0.9).as("td90"))
    // small-n guard: a ±0.05-rank band is degenerate for tiny groups (a
    // 10-row group's q45/q55 can coincide while the digest interpolates
    // between observations) — below 20 values the band widens to the
    // group's full [min, max], which any correct digest satisfies
    val exact = ev.groupBy("event_type")
      .agg(
        count(col("value")).as("nv"),
        min("value").as("mn"), max("value").as("mx"),
        expr("percentile(value, 0.45)").as("plo50"),
        expr("percentile(value, 0.55)").as("phi50"),
        expr("percentile(value, 0.85)").as("plo90"),
        expr("percentile(value, 0.95)").as("phi90"))
      .select(col("event_type"), col("nv"), col("mn"), col("mx"),
        when(col("nv") < 20, col("mn")).otherwise(col("plo50")).as("lo50"),
        when(col("nv") < 20, col("mx")).otherwise(col("phi50")).as("hi50"),
        when(col("nv") < 20, col("mn")).otherwise(col("plo90")).as("lo90"),
        when(col("nv") < 20, col("mx")).otherwise(col("phi90")).as("hi90"))
    // null-safe equi-join: a NULL event_type group is a real group to
    // both GROUP BYs, and a plain `=` join would silently drop it; both
    // frames share ev's lineage so the key must be alias-qualified
    merged.as("m").join(exact.as("e"),
        col("m.event_type") <=> col("e.event_type"))
      .select(col("m.event_type").as("event_type"),
        (col("td50") >= col("lo50") && col("td50") <= col("hi50")).as("p50_ok"),
        (col("td90") >= col("lo90") && col("td90") <= col("hi90")).as("p90_ok"))
      .orderBy("event_type")
  }

  /** A16b: the cross-day sketch ARTIFACT STORE — the missing half of the
    * mergeable-sketch story. [[aggTdigest]] proves partials merge in one
    * plan; this key proves they merge across a STORAGE boundary, the
    * reference's daily-index shape (upstream: push_to_es.py writes one
    * index per day; multi_day_index.py queries the union): per-day
    * partial sketches (t-digest over value, HLL over user_id, a Bloom
    * membership filter, the exact row count) are written to a parquet
    * rollup table partitioned by day, RELOADED, and re-merged per
    * event_type — so serialization round-trip + cross-file merge are both
    * under the oracle. At 100 TB this is the production rollup: each
    * day's job appends KB-scale partials; a quarter's percentile needs
    * only ~90 sketch rows re-merged, never the raw events.
    *
    * Build-once/probe-many via [[graft.llm.Artifacts]], like
    * sim_ivf_persist and dedup_online_gate: the bench times the
    * MERGE+PROBE over the stored rollup, the build runs once per session.
    *
    * Decision pins (all hash-gated): n = Σ daily counts must equal the
    * exact count (a dropped partial breaks it); td50 inside the exact
    * ±0.05-rank band ([[aggTdigest]]'s recipe); HLL estimate within 5% of
    * exact cardinality; merged Bloom contains each group's min user (no
    * false negatives survive a merge) and rejects an out-of-domain key. */
  /** The daily sketch-partial rollup table behind [[aggTdigestStore]] and
    * [[aggSketchDashboard]], built once per (session, dataset) into the
    * [[graft.llm.Artifacts]] store: one row per (day, event_type) holding
    * a t-digest over value, an HLL and a Bloom filter over user_id, and
    * the exact row count — parquet, `partitionBy("day")` so any day-range
    * consumer prunes to just the requested partitions. */
  private[graft] def sketchStoreDir(s: SparkSession, d: String): java.io.File =
    graft.llm.Artifacts.buildOnce(s, "sketch_store", d) { dd =>
      sketchPartialsOf(t(s, d, "events"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$dd/daily")
    }

  /** One store row per (day, event_type): the four mergeable partials.
    * Shared by the batch rollup build above and the STREAMING maintainer
    * ([[graft.streaming.Streams.sketchStoreSink]], which adds a
    * `batch_id` partition under `day` through
    * [[graft.streaming.Streams.sinkBatch]]) — one store schema, two
    * writers. */
  private[graft] def sketchPartialsOf(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(
        graft.functions.TDigestSketchAgg(col("value")).as("td"),
        hll_sketch_agg(col("user_id")).as("hll"),
        graft.functions.BloomSketchAgg(col("user_id"), 1 << 23, 7).as("bf"),
        count(lit(1)).as("n"))

  val aggTdigestStore: Q = (s, d) => {
    import graft.functions.{BloomMergeAgg, BloomProbeRow,
      TDigestMergeAgg, TDigestQuantile}
    val ev = t(s, d, "events")
    val dir = sketchStoreDir(s, d)
    val merged = graft.Tables.parquet(s, s"$dir/daily")
      .groupBy("event_type")
      .agg(
        TDigestMergeAgg(col("td")).as("sk"),
        hll_sketch_estimate(hll_union_agg(col("hll"))).as("hll_est"),
        BloomMergeAgg(col("bf"), 1 << 23, 7).as("bf"),
        sum(col("n")).as("n_stored"))
      .select(col("event_type"), col("hll_est"), col("bf"), col("n_stored"),
        TDigestQuantile(col("sk"), 0.5).as("td50"))
    // count(distinct) kept OUT of the percentile aggregation: fused, the
    // distinct rewrite keys the percentile value-buffers per (event_type,
    // user_id) — one buffer per user (measured 2.7 s vs 1.0 s split at
    // sf0.1; the same pathology the jx sparseGroup splitter pins).
    val exactNd = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("nd_exact"))
    val exact = ev.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_exact"),
        min(col("user_id")).as("min_user"),
        min("value").as("mn"), max("value").as("mx"),
        expr("percentile(value, 0.45)").as("plo50"),
        expr("percentile(value, 0.55)").as("phi50"))
      .join(exactNd, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("nd_exact"), col("min_user"),
        when(col("n_exact") < 20, col("mn")).otherwise(col("plo50")).as("lo50"),
        when(col("n_exact") < 20, col("mx")).otherwise(col("phi50")).as("hi50"))
    merged.as("m").join(exact.as("e"),
        col("m.event_type") <=> col("e.event_type"))
      .select(col("m.event_type").as("event_type"),
        col("n_exact").as("n"),
        (col("n_stored") === col("n_exact")).as("store_complete"),
        (col("td50") >= col("lo50") && col("td50") <= col("hi50")).as("p50_ok"),
        (abs(col("hll_est") - col("nd_exact")) <= col("nd_exact") * lit(0.05))
          .as("hll_ok"),
        BloomProbeRow(col("bf"), col("min_user")).as("bloom_member"),
        BloomProbeRow(col("bf"), lit(10000043L)).as("bloom_fp"))
      .orderBy("event_type")
  }

  /** A16c: the DASHBOARD readout over the daily sketch store — the serving
    * frame [[graft.service.QueryService]]'s `/dashboard` endpoint formats
    * (upstream: ActiveData's dashboards re-query raw indexes per panel;
    * here every panel aggregate is a KB-scale sketch re-merge). A day
    * range selects partitions by PARTITION PRUNING (`day` is the store's
    * partition column — a quarter reads ~90 sketch rows, never the raw
    * events), then per event_type: Σn exact rows, HLL-estimated distinct
    * users, t-digest median. At 100 TB the events table is petabyte-raw
    * but this frame's input is kilobytes — the whole point of keeping the
    * rollup mergeable. */
  def sketchDashboardFrame(s: SparkSession, d: String,
      dayLo: String, dayHi: String): DataFrame =
    sketchMergeFrame(
      graft.Tables.parquet(s, s"${sketchStoreDir(s, d)}/daily"), dayLo, dayHi)

  /** The dashboard merge over any frame of store partials (day-pruned
    * batch rollup or the stream-maintained store — the partials are
    * mergeable, so WHICH writer produced them and how many rows a day
    * holds cannot change the readout). */
  private[graft] def sketchMergeFrame(partials: DataFrame,
      dayLo: String, dayHi: String): DataFrame = {
    import graft.functions.{TDigestMergeAgg, TDigestQuantile}
    partials
      .filter(col("day") >= lit(dayLo) && col("day") <= lit(dayHi))
      .groupBy("event_type")
      .agg(
        sum(col("n")).as("n"),
        round(hll_sketch_estimate(hll_union_agg(col("hll")))).cast("long")
          .as("users_est"),
        TDigestMergeAgg(col("td")).as("sk"))
      .select(col("event_type"), col("n"), col("users_est"),
        round(TDigestQuantile(col("sk"), 0.5), 2).as("p50_est"))
      .orderBy("event_type")
  }

  /** The driver gate for [[sketchDashboardFrame]]: an 8-day window
    * re-merged from the store vs the same window computed exact from raw
    * events. Pins: `range_complete` (Σ of pruned daily counts == exact
    * range count — a mis-pruned partition or dropped partial breaks it),
    * `p50_ok` (merged-digest median inside the exact ±0.05-rank band),
    * `hll_ok` (distinct-user estimate within max(1, 5%) of exact). */
  val aggSketchDashboard: Q = (s, d) =>
    dashboardPins(s, d,
      sketchDashboardFrame(s, d, "2024-01-05", "2024-01-12"),
      "2024-01-05", "2024-01-12")

  /** The gate comparison behind [[aggSketchDashboard]] and the streamed
    * store's twin ([[graft.streaming.Streams]]): any dashboard readout
    * frame vs the same window computed exact from raw events. */
  private[graft] def dashboardPins(s: SparkSession, d: String,
      dash: DataFrame, lo: String, hi: String): DataFrame =
    dashboardPinsOver(t(s, d, "events"), dash, lo, hi)

  /** [[dashboardPins]] with a caller-supplied exact side — the forget
    * gate (T13m) pins the FORGOTTEN store's readout against the PURGED
    * raw events through the identical band recipe. */
  private[graft] def dashboardPinsOver(events: DataFrame,
      dash: DataFrame, lo: String, hi: String): DataFrame = {
    val ev = events
      .filter(date_format(col("ts"), "yyyy-MM-dd").between(lo, hi))
    // same split as aggSketchDashboard: distinct agg apart from the
    // percentile buffers (see the comment there)
    val exactNd = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("nd_exact"))
    val exact = ev.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_exact"),
        min("value").as("mn"), max("value").as("mx"),
        expr("percentile(value, 0.45)").as("plo"),
        expr("percentile(value, 0.55)").as("phi"))
      .join(exactNd, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("nd_exact"),
        when(col("n_exact") < 20, col("mn")).otherwise(col("plo")).as("lo50"),
        when(col("n_exact") < 20, col("mx")).otherwise(col("phi")).as("hi50"))
    dash.as("m").join(exact.as("e"),
        col("m.event_type") <=> col("e.event_type"))
      .select(col("m.event_type").as("event_type"),
        col("n_exact").as("n"),
        (col("m.n") === col("n_exact")).as("range_complete"),
        (col("p50_est") >= col("lo50") && col("p50_est") <= col("hi50"))
          .as("p50_ok"),
        (abs(col("users_est") - col("nd_exact")) <=
          greatest(lit(1.0), col("nd_exact") * lit(0.05))).as("hll_ok"))
      .orderBy("event_type")
  }

  /** A16: heavy-hitter frequency estimation via Spark's BUILT-IN mergeable
    * count-min sketch aggregate (§2.10 policy: built-ins before custom
    * code). The pipeline use: find the skewed keys — hot users, hot
    * shingles, hot join keys — without a full exact groupBy at 100 TB;
    * partial sketches merge map-side and the artifact is bytes, like the
    * t-digest and Bloom families. Deterministic (fixed seed). The driver
    * row carries the exact top-10 (real data, hash-gated) plus the two CMS
    * contract booleans pinned TRUE.
    *
    * FULLY LAZY: the sketch builds as a 1-row aggregate INSIDE the plan
    * and the top-10 keys probe it through [[graft.functions.CmsEstimateCount]]
    * after a broadcast cross-join — no driver action at construction, so
    * Bench's timed `.count()` pays for the sketch build like any other
    * stage (an earlier version built the sketch eagerly, understating this
    * key's bench cost).
    *
    * Pin robustness: "overcount ≤ eps·N" is probabilistic, ≥ confidence
    * per queried key. At 0.99 a 10-key probe fails ~10% of regenerated
    * corpora; confidence 0.9999 (depth 10 rather than 5 — the sketch is
    * still KB-scale) drops that to ~0.1%, making the pinned TRUE robust
    * across scale factors and reseeds, not just lucky on seed 42. */
  val aggHeavyHitters: Q = (s, d) => {
    val ev = t(s, d, "events")
    val sk = ev.agg(
      expr("count_min_sketch(user_id, 0.001d, 0.9999d, 42)").as("cms"),
      count(lit(1)).as("n_total"))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), asc("user_id")).limit(10)
    val est = graft.functions.CmsEstimateCount(col("cms"), col("user_id"))
    val slack = (lit(0.001) * col("n_total")).cast("long") + lit(1L)
    top.crossJoin(broadcast(sk))
      .select(col("user_id"), col("n_exact"),
        (est >= col("n_exact")).as("no_undercount"),
        (est <= col("n_exact") + slack).as("bounded_overcount"))
      .orderBy(desc("n_exact"), asc("user_id"))
  }

  /** A17: deterministic MODE — the most frequent value per group, ties
    * to the SMALLEST value (Spark's mode(expr, true); DuckDB's mode() is
    * first-encountered on ties, so the oracle replays the deterministic
    * rule as count-argmax with a min-value tie-break). The single-pass
    * aggregate form: partial maps combine map-side, one shuffle on the
    * group key. */
  val aggMode: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        call_function("mode", col("l_linenumber"), lit(true))
          .as("mode_linenumber"),
        call_function("mode", col("l_quantity"), lit(true)).as("mode_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  val queries: Map[String, Q] = Map(
    "agg_mode" -> aggMode,
    "agg_heavy_hitters" -> aggHeavyHitters,
    "agg_groupby" -> aggGroupby,
    "agg_tdigest" -> aggTdigest,
    "agg_tdigest_store" -> aggTdigestStore,
    "sketch_dashboard" -> aggSketchDashboard,
    "edges_dense" -> edgesDense,
    "edges_dense_null" -> edgesDenseNull,
    "edges_histogram" -> edgesHistogram,
    "edges_time" -> edgesTime,
    "edges_time_locf" -> edgesTimeLocf,
    "edges_duration" -> edgesDuration,
    "edges_topn_other" -> edgesTopnOther,
    "agg_distinct" -> aggDistinct,
    "agg_percentile" -> aggPercentile,
    "agg_stats" -> aggStats,
    "agg_collect_set" -> aggCollectSet,
    "agg_first_last" -> aggFirstLast,
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_pivot" -> aggPivot)

  val oracle: Map[String, String] = Map(
    "agg_mode" ->
      """WITH mc AS (SELECT l_returnflag, l_linenumber, count(*) AS c
                     FROM lineitem GROUP BY 1, 2),
           mm AS (SELECT l_returnflag, l_linenumber AS mode_linenumber
                  FROM (SELECT *, row_number() OVER (
                          PARTITION BY l_returnflag
                          ORDER BY c DESC, l_linenumber ASC) AS rn FROM mc)
                  WHERE rn = 1),
           qc AS (SELECT l_returnflag, l_quantity, count(*) AS c
                  FROM lineitem GROUP BY 1, 2),
           qm AS (SELECT l_returnflag, l_quantity AS mode_qty
                  FROM (SELECT *, row_number() OVER (
                          PARTITION BY l_returnflag
                          ORDER BY c DESC, l_quantity ASC) AS rn FROM qc)
                  WHERE rn = 1),
           nn AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
                  FROM lineitem GROUP BY 1)
         SELECT m.l_returnflag, m.mode_linenumber, q.mode_qty, n.n
         FROM mm m JOIN qm q USING (l_returnflag) JOIN nn n USING (l_returnflag)
         ORDER BY l_returnflag""",
    // The sketch bytes aren't SQL-expressible; the gated contract is the
    // rank-tolerance assertion itself. The oracle pins one TRUE/TRUE row
    // per observed event_type — a broken sketch/merge/quantile flips a
    // boolean and fails the hash compare.
    "agg_tdigest" ->
      """SELECT event_type, TRUE AS p50_ok, TRUE AS p90_ok
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the stored-rollup twin: exact n plus the five merge-survival pins
    "agg_tdigest_store" ->
      """SELECT event_type, count(*) AS n,
                TRUE AS store_complete, TRUE AS p50_ok, TRUE AS hll_ok,
                TRUE AS bloom_member, FALSE AS bloom_fp
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the day-range dashboard readout: exact n for the pruned window plus
    // the three merge/pruning-survival pins
    "sketch_dashboard" ->
      """SELECT event_type, count(*) AS n, TRUE AS range_complete,
                TRUE AS p50_ok, TRUE AS hll_ok
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
         GROUP BY event_type ORDER BY event_type""",
    "agg_heavy_hitters" ->
      """SELECT user_id, n_exact,
                TRUE AS no_undercount, TRUE AS bounded_overcount
         FROM (SELECT user_id, count(*) AS n_exact FROM events
               GROUP BY user_id ORDER BY n_exact DESC, user_id ASC LIMIT 10)
         ORDER BY n_exact DESC, user_id ASC""",
    "agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc,
                round(avg(l_quantity), 2) AS avg_qty,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "edges_dense" ->
      """SELECT d.l_returnflag, d.l_linestatus,
                coalesce(a.cnt, 0) AS n, round(a.sq, 2) AS sum_qty
         FROM (SELECT f.l_returnflag, st.l_linestatus
               FROM (SELECT DISTINCT l_returnflag FROM lineitem) f
               CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem) st) d
         LEFT JOIN (SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                           sum(l_quantity) AS sq
                    FROM lineitem WHERE l_quantity > 45.0
                    GROUP BY l_returnflag, l_linestatus) a
           USING (l_returnflag, l_linestatus)
         ORDER BY l_returnflag, l_linestatus""",
    "edges_dense_null" ->
      """WITH base AS (SELECT CASE WHEN value > 100.0 THEN event_type END AS k, value
                       FROM events),
              dom AS (SELECT DISTINCT k FROM base WHERE k IS NOT NULL
                      UNION ALL SELECT NULL),
              sparse AS (SELECT k, count(*) AS cnt, sum(value) AS sv
                         FROM base GROUP BY k)
         SELECT d.k, coalesce(s.cnt, 0) AS n, round(s.sv, 2) AS sum_value
         FROM dom d LEFT JOIN sparse s ON d.k IS NOT DISTINCT FROM s.k
         ORDER BY d.k NULLS FIRST""",
    "edges_histogram" ->
      """WITH bounds AS (SELECT CAST(floor(min(value)/50.0)*50 AS BIGINT) AS lo,
                                CAST(floor(max(value)/50.0)*50 AS BIGINT) AS hi
                         FROM events),
              domain AS (SELECT CAST(unnest(generate_series(lo, hi, 50)) AS DOUBLE) AS bucket
                         FROM bounds),
              sparse AS (SELECT floor(value/50.0)*50.0 AS bucket, count(*) AS cnt,
                                sum(value) AS sv
                         FROM events GROUP BY 1)
         SELECT d.bucket, coalesce(s.cnt, 0) AS n, round(s.sv, 2) AS sum_value
         FROM domain d LEFT JOIN sparse s USING (bucket) ORDER BY bucket""",
    "edges_time" ->
      """WITH bounds AS (SELECT date_trunc('day', min(ts)) AS lo,
                                date_trunc('day', max(ts)) AS hi FROM events),
              domain AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                         FROM bounds),
              sparse AS (SELECT date_trunc('day', ts) AS day, count(*) AS cnt,
                                sum(value) AS sv
                         FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT CAST(d.day AS TIMESTAMP) AS day, coalesce(s.cnt, 0) AS n,
                round(s.sv, 2) AS sum_value
         FROM domain d LEFT JOIN sparse s ON CAST(d.day AS TIMESTAMP) = s.day
         ORDER BY day""",
    "edges_time_locf" ->
      """WITH bounds AS (SELECT date_trunc('day', min(ts)) AS lo,
                                date_trunc('day', max(ts)) AS hi FROM events),
              domain AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                         FROM bounds),
              sparse AS (SELECT date_trunc('day', ts) AS day, count(*) AS cnt,
                                round(sum(value), 2) AS sv
                         FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT CAST(d.day AS TIMESTAMP) AS day, coalesce(s.cnt, 0) AS n,
                last_value(s.sv IGNORE NULLS)
                  OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS sum_value_locf
         FROM domain d LEFT JOIN sparse s ON CAST(d.day AS TIMESTAMP) = s.day
         ORDER BY day""",
    "edges_duration" ->
      """WITH durs AS (
           SELECT user_id,
                  CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS dur_s
           FROM events GROUP BY user_id),
           bounds AS (SELECT CAST(max(dur_s) // 1800 * 1800 AS BIGINT) AS hi FROM durs),
           domain AS (SELECT unnest(generate_series(0, hi, 1800)) AS bucket FROM bounds),
           sparse AS (SELECT CAST(dur_s // 1800 * 1800 AS BIGINT) AS bucket,
                             count(*) AS cnt, avg(dur_s) AS ad
                      FROM durs GROUP BY 1)
         SELECT d.bucket, coalesce(s.cnt, 0) AS n, round(s.ad, 2) AS avg_dur
         FROM domain d LEFT JOIN sparse s USING (bucket) ORDER BY bucket""",
    "edges_topn_other" ->
      """WITH counts AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
              ranked AS (SELECT event_type,
                                row_number() OVER (ORDER BY cnt DESC, event_type ASC) AS rk
                         FROM counts),
              top AS (SELECT event_type FROM ranked WHERE rk <= 3)
         SELECT CASE WHEN e.event_type IN (SELECT event_type FROM top)
                     THEN e.event_type ELSE 'other' END AS part,
                count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events e GROUP BY 1 ORDER BY 1""",
    "agg_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_percentile" ->
      """SELECT event_type,
                round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 2) AS p50,
                round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 2) AS p90
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_stats" ->
      """WITH m AS (
           SELECT event_type, count(value) AS n, round(sum(value), 2) AS s1,
                  avg(value) AS m1,
                  avg(value * value) AS a2,
                  avg(value * value * value) AS a3,
                  avg(value * value * value * value) AS a4,
                  round(var_pop(value), 4) AS var_p,
                  round(stddev_pop(value), 4) AS std_p
           FROM events GROUP BY event_type),
           c AS (
           SELECT *, a2 - m1 * m1 AS m2,
                  a3 - 3 * m1 * a2 + 2 * power(m1, 3) AS m3,
                  a4 - 4 * m1 * a3 + 6 * m1 * m1 * a2 - 3 * power(m1, 4) AS m4
           FROM m)
         SELECT event_type, n, s1, round(m1, 2) AS mean, var_p, std_p,
                round(m3 / power(m2, 1.5), 4) + 0.0 AS skew_p,
                round(m4 / (m2 * m2) - 3, 4) + 0.0 AS kurt_p
         FROM c ORDER BY event_type""",
    "agg_collect_set" ->
      """SELECT l_linestatus,
                array_to_string(list(DISTINCT l_returnflag ORDER BY l_returnflag), ',') AS flags,
                count(*) AS n
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "agg_first_last" ->
      """WITH ranked AS (
           SELECT event_type, event_id, ts,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY ts ASC, event_id ASC) AS rn_a,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn_d
           FROM events)
         SELECT event_type,
                max(CASE WHEN rn_a = 1 THEN event_id END) AS first_id,
                max(CASE WHEN rn_d = 1 THEN event_id END) AS last_id,
                min(ts) AS first_ts, max(ts) AS last_ts
         FROM ranked GROUP BY event_type ORDER BY event_type""",
    "agg_pivot" ->
      """SELECT user_id % 10 AS u,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'view') AS view,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'error') AS error
         FROM events GROUP BY 1 ORDER BY 1""",
    "agg_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY flag, status""",
    "agg_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY flag, status""",
    "agg_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY flag, status""")
}
