package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Output routing (SURVEY.md §2.1 S5–S7).
  *
  * The reference stages JSON-lines to S3 (one object per etl key) and bulk
  * loads Elasticsearch daily indexes named `name_YYYYMMDD` (upstream:
  * sinks/s3_bucket.py, sinks/multi_day_index.py, push_to_es.py). The
  * Spark-native equivalent is a partitioned columnar layout: the partition
  * column IS the daily index — readers with a date predicate touch only
  * matching directories (partition pruning, the same query-time win the
  * reference gets from its index picker), and writers route each row by
  * its own timestamp in one pass, no per-day loop.
  */
object Sinks {

  /** The one idempotent store write (SURVEY.md ST5): `df` partitioned by
    * `cols` into `dir`, replacing exactly the partitions `df` has rows
    * for — every other partition's files are left alone. Re-running the
    * same key rewrites its own partitions, the Spark form of the
    * reference's one-S3-object-per-etl-key overwrite. Every dynamic
    * overwrite in the library goes through here. */
  def overwritePartitions(df: DataFrame, dir: String, cols: String*): Unit =
    df
      // writer-scoped option, NOT session conf: a session-level dynamic
      // mode would silently change overwrite semantics for every later
      // partitioned write on the shared session
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(dir)

  /** The Hadoop FileSystem that owns `p`, resolved from the path's own
    * scheme (file:, hdfs:, s3a:) under the session's Hadoop conf. A
    * java.io.File only sees the local disk, and `FileSystem.get(conf)` is
    * the DEFAULT filesystem, so either one silently misses a store that
    * lives anywhere else. */
  private[graft] def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sessionState.newHadoopConf())

  /** S7: daily-index router — `partitionBy(day)` writes every row to its
    * day's directory in a single job. [[overwritePartitions]] keeps
    * re-ETL idempotent per day (only days present in `df` are rewritten).
    * SinksSpec proves pruning: a `day = X` read plans only that partition. */
  def dailyRouter(df: DataFrame, dir: String, tsCol: String = "ts"): Unit =
    overwritePartitions(
      df.withColumn("day", date_format(col(tsCol), "yyyyMMdd")), dir, "day")

  /** S6: staged JSON-lines sink, one directory per etl key (the S3 staging
    * layout; gzip via codec to match the reference's .json.gz objects). */
  def jsonLinesStaged(df: DataFrame, dir: String, keyCol: String): Unit =
    df.write.mode("overwrite").partitionBy(keyCol)
      .option("compression", "gzip").json(dir)

  /** S8 (engine addition): partition compaction — the maintenance pass
    * every streaming/partitioned sink needs at scale. Each micro-batch
    * and each idempotent re-ETL appends its own files, so a day's
    * directory decays into thousands of KB-sized parquet files; scans
    * then pay per-file open/footer costs and executors schedule
    * per-file tasks (the "small files problem" — at 100 TB the
    * difference between a scan dominated by S3 GETs and one dominated
    * by bytes). Compaction rewrites each partition to
    * ⌈bytes / targetBytes⌉ files ATOMICALLY per partition via
    * [[overwritePartitions]] — readers never see a partial partition, and
    * only partitions present in the rewrite are touched (same
    * idempotency contract as the daily router).
    *
    * A multi-level store (`day=X/batch_id=Y`) is compacted leaf by leaf,
    * filtered and overwritten on every level of the path's spec, so sibling
    * batches are never touched; `partitionCol` must lead the spec.
    *
    * Rewrites everything it reads; an incremental driver would pass a
    * predicate selecting only decayed partitions (e.g. yesterday's). */
  def compactPartitions(spark: SparkSession, dir: String,
      partitionCol: String, targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val df = graft.Tables.parquet(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val rootPath = root.getFileSystem(conf).makeQualified(root).toUri.getPath
    // ("day", "X") :: ("batch_id", "Y") :: Nil for .../day=X/batch_id=Y/part-…
    def spec(file: Path): List[(String, String)] =
      Iterator.iterate(file.getParent)(_.getParent)
        .takeWhile(p => p != null && p.toUri.getPath != rootPath)
        .map(_.getName.split("=", 2)).collect { case Array(c, v) => c -> v }
        .toList.reverse
    // current size per leaf partition, from the file index (no data pass);
    // each file is stat'ed through its own filesystem, not the default one
    val sizes = df.inputFiles.toSeq.map { f =>
      val p = new Path(f)
      spec(p) -> p.getFileSystem(conf).getFileStatus(p).getLen
    }.groupMapReduce(_._1)(_._2)(_ + _)
    for (part <- sizes.keys) require(part.headOption.exists(_._1 == partitionCol),
      s"store $dir is partitioned by ${part.map(_._1)}, not led by $partitionCol")
    sizes.foreach { case (part, bytes) =>
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val leaf = part.map { case (c, v) =>
        col(c) === ExternalCatalogUtils.unescapePathName(v) }.reduce(_ && _)
      // the partition materializes BEFORE the overwrite — Spark (rightly)
      // refuses to overwrite a path a live plan still reads; the
      // materialization breaks that file dependency and makes the
      // per-partition swap safe
      overwritePartitions(
        graft.operators.Common.materialize(df.filter(leaf), "sinks.compact_partition")
          .repartition(n), dir, part.map(_._1): _*)
    }
  }

  /** S5: Elasticsearch bulk sink — each row becomes the bulk API's
    * action/source line pair (`{"index":{"_index":…,"_id":…}}` then the
    * document JSON), routed to a daily index `<name>_YYYYMMDD` by the
    * row's own timestamp. With a real ES connector this would be
    * `df.write.format("es")`; the sandbox has no connector, so the sink
    * materializes exactly what `push_to_es` POSTs: one gzip NDJSON bulk
    * body per daily index (a consumer replays each file against
    * `/_bulk`). Explicit `_id` keeps re-delivery idempotent on the ES
    * side (same id → overwrite, the reference's dedup story). Entirely
    * in-plan: `to_json` + `concat` under codegen, one pass, writers
    * partitioned by target index. */
  def esBulk(df: DataFrame, dir: String, index: String, idCol: String,
             tsCol: String = "ts"): Unit = {
    val doc = to_json(struct(df.columns.toIndexedSeq.map(col): _*))
    val action = to_json(struct(struct(
      concat(lit(index + "_"), date_format(col(tsCol), "yyyyMMdd")).as("_index"),
      col(idCol).cast("string").as("_id")).as("index")))
    df.select(
        concat(lit(index + "_"), date_format(col(tsCol), "yyyyMMdd")).as("_index"),
        concat_ws("\n", action, doc).as("value"))
      .write.mode("overwrite").partitionBy("_index")
      .option("compression", "gzip").text(dir)
  }
}
