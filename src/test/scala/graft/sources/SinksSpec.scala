package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** S6/S7 sink layouts, including the partition-pruning proof for the
  * daily router (SURVEY.md §4 — partition pruning is only real if the
  * write is partitioned). */
class SinksSpec extends graft.SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("S7: daily router writes day partitions and reads prune to one") {
    val dir = Files.createTempDirectory("graft-s7").toString
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click"),
      (2L, ts("2024-01-01 11:00:00"), "error"),
      (3L, ts("2024-01-02 09:00:00"), "click"),
      (4L, ts("2024-01-03 09:00:00"), "view"))
      .toDF("event_id", "ts", "event_type")
    Sinks.dailyRouter(df, dir)

    // layout: one directory per day
    val days = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(days.toSeq === Seq("day=20240101", "day=20240102", "day=20240103"))

    // a day-filtered read prunes to that partition: the physical plan
    // carries the predicate as a PartitionFilter, and only one day's
    // files are scanned
    val pruned = spark.read.parquet(dir).filter(col("day") === "20240101")
    assert(pruned.count() === 2)
    // the day predicate plans as a PartitionFilter on the file scan
    // (inputFiles is pre-pruning, so inspect the physical plan)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("20240101"), plan)

    // dynamic overwrite: re-routing one day's data touches only that day
    Sinks.dailyRouter(Seq((9L, ts("2024-01-02 10:00:00"), "click"))
      .toDF("event_id", "ts", "event_type"), dir)
    val after = spark.read.parquet(dir)
    assert(after.count() === 4) // 2 (day1) + 1 (rewritten day2) + 1 (day3)
    assert(after.filter(col("day") === "20240102").select("event_id")
      .collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  /** Compaction of a decayed two-day store addressed as `prefix + dir`,
    * run while the session's default filesystem is `defaultFs` (when
    * set): every file must be stat'ed through its own filesystem. */
  private def compactCase(prefix: String, defaultFs: Option[String]): Unit = {
    val dir = Files.createTempDirectory("graft-s8").toString
    val rows = (0 until 200).map(i =>
      (i.toLong, ts(s"2024-01-0${1 + i % 2} 10:00:00"), s"ev$i"))
    val df = rows.toDF("event_id", "ts", "event_type")
      .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
    // simulate micro-batch decay: many tiny files per day partition
    df.repartition(20).write.mode("overwrite").partitionBy("day").parquet(dir)
    def filesPerDay: Map[String, Int] =
      new java.io.File(dir).listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    assert(filesPerDay.values.forall(_ >= 10), s"fixture not decayed: $filesPerDay")
    val before = spark.read.parquet(dir).select("event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val key = "fs.defaultFS"
    val saved = spark.conf.getOption(key)
    defaultFs.foreach(spark.conf.set(key, _))
    // targetBytes default ≫ data
    try Sinks.compactPartitions(spark, prefix + dir, "day")
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

    val after = filesPerDay
    assert(after.values.forall(_ === 1), s"not compacted: $after")
    val data = spark.read.parquet(dir).select("event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(data === before)
  }

  test("S8: compaction rewrites decayed partitions to few files, same data") {
    compactCase("", None)
  }

  test("S8: compaction stats each file through its own filesystem, not the default one") {
    compactCase("file:", Some("graftnofs:///"))
  }

  test("S8: compacting a (day, batch_id) store by day keeps every batch") {
    val dir = Files.createTempDirectory("graft-s8-levels").toString
    val rows = (0 until 40).map(i =>
      (i.toLong, s"ev$i", s"2024010${1 + i % 2}", (i / 2) % 2))
    // several files per (day, batch_id) leaf, the sketch store's layout
    rows.toDF("event_id", "event_type", "day", "batch_id").repartition(4)
      .write.mode("overwrite").partitionBy("day", "batch_id").parquet(dir)
    def leaves: Map[String, Int] = (for {
      d <- new java.io.File(dir).listFiles().toSeq if d.isDirectory
      b <- d.listFiles().toSeq if b.isDirectory
    } yield s"${d.getName}/${b.getName}" ->
      b.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val expected = (for (d <- Seq("day=20240101", "day=20240102");
                         b <- Seq("batch_id=0", "batch_id=1")) yield s"$d/$b").toSet
    assert(leaves.keySet === expected)
    assert(leaves.values.exists(_ > 1), s"fixture not decayed: $leaves")

    Sinks.compactPartitions(spark, dir, "day")

    assert(leaves === expected.map(_ -> 1).toMap)
    val data = spark.read.parquet(dir)
      .select("event_id", "event_type", "day", "batch_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(2).toString, r.getInt(3))).toSet
    assert(data === rows.toSet)
  }

  test("schema accretion at the storage layer: mergeSchema unifies evolving files") {
    // the reference's documents grow fields over time (schemaless JSON);
    // the columnar equivalent: older parquet files simply lack the new
    // column, and a mergeSchema read presents the union schema with
    // nulls for the missing field — the storage-level twin of
    // set_union_byname's query-level accretion
    val dir = Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/old")
    Seq((3L, "c", 7.5)).toDF("id", "v", "score")
      .write.parquet(s"$dir/new")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/old", s"$dir/new")
    assert(merged.columns.sorted.toSeq === Seq("id", "score", "v"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length === 3)
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(2).getDouble(rows(2).fieldIndex("score")) === 7.5)
  }

  test("S5: ES bulk sink emits action/source NDJSON pairs per daily index") {
    val dir = Files.createTempDirectory("graft-s5").toString
    val df = Seq(
      (11L, ts("2024-01-01 10:00:00"), "click"),
      (12L, ts("2024-01-01 11:00:00"), "error"),
      (13L, ts("2024-01-02 09:00:00"), "view"))
      .toDF("event_id", "ts", "event_type")
    Sinks.esBulk(df, dir, "events", "event_id")

    // one bulk body per daily index
    val idx = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(idx.toSeq === Seq("_index=events_20240101", "_index=events_20240102"))

    // each row contributed an action line + a source line, in order
    val lines = spark.read.text(s"$dir/_index=events_20240101")
      .collect().map(_.getString(0))
    assert(lines.length === 4)
    val actions = lines.grouped(2).map(_.head).toSeq
    assert(actions.forall(_.startsWith("""{"index":{"_index":"events_20240101","_id":""")))
    assert(actions.exists(_.contains(""""_id":"11"""")))
    val docs = lines.grouped(2).map(_.last).toSeq
    assert(docs.forall(l => l.contains(""""event_id":""") && l.contains(""""event_type":""")))

    // bulk bodies are gzip NDJSON, as push_to_es would POST them
    val files = new java.io.File(s"$dir/_index=events_20240101").listFiles()
    assert(files.exists(_.getName.endsWith(".gz")))
  }

  test("S6: staged JSON-lines layout, one gzip directory per etl key") {
    val dir = Files.createTempDirectory("graft-s6").toString
    val df = Seq((1L, "142:0", "a"), (2L, "142:0", "b"), (3L, "142:1", "c"))
      .toDF("id", "etl_key", "payload")
    Sinks.jsonLinesStaged(df, dir, "etl_key")
    val keys = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(keys.toSeq === Seq("etl_key=142%3A0", "etl_key=142%3A1"))
    val back = spark.read.json(dir)
    assert(back.count() === 3)
    assert(back.filter(col("etl_key") === "142:0").count() === 2)
  }
}
