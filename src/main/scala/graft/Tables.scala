package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated parquet tables (TESTDATA.md) and the
  * one parquet reader every store readout, probe and stream read-back of
  * the library goes through ([[Tables.parquet]]).
  *
  * The reference (klahnakoski/TestLog-ETL) reads JSON-lines documents from
  * S3 buckets (upstream: pyLibrary/aws/s3.py) and Elasticsearch indexes
  * (upstream: pyLibrary/env/elasticsearch.py); this engine's native store is
  * columnar parquet, scanned through Spark's vectorized reader so filter
  * pushdown and column pruning happen at the scan (SURVEY.md §4).
  */
object Tables {
  /** Scan one table: the session conf set, then [[parquet]], then
    * [[normalizeTimestamps]]. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Session-level conf, set here so even a caller-provided session (the
    // driver's smoke check) can read either historical `events.ts` layout.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTimestamps(parquet(spark, s"$sfDir/$name.parquet"))
  }

  /** The library's one parquet reader, for the driver's tables and for
    * every store the library writes. Kept as a plain parquet read so
    * Catalyst sees a V1 FileScan it can push filters/projections into — do
    * not collect or cache here; callers compose lazily. The schema comes
    * from the footer Spark's inference would read, read in this JVM
    * ([[org.apache.spark.sql.graft.FooterSchema]]), so opening a path runs
    * no schema-inference job; without a readable data file the plain
    * `spark.read.parquet` runs and its error surfaces. Timestamps are not
    * normalized: stores hold the `TimestampType` Spark wrote.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.graft.FooterSchema.of(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** The driver has shipped `events.ts` in two parquet layouts over time:
    * TIMESTAMP(NANOS) (read as raw longs under `spark.sql.legacy.parquet
    * .nanosAsLong=true`) and `Timestamp(isAdjustedToUTC=false, micros)`
    * (read as TIMESTAMP_NTZ). Normalize both to session-zoned TimestampType:
    * the session is pinned to UTC everywhere (Bench/Verify/tests), so the
    * NTZ cast reinterprets the same wall-clock instant DuckDB reads, and
    * `div 1000` truncates nanos exactly like DuckDB's nanos→micros read —
    * oracle compares stay bit-identical in either layout.
    */
  private def normalizeTimestamps(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.name == "ts").foldLeft(df) { (acc, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.LongType =>
          acc.withColumn(f.name,
            org.apache.spark.sql.functions.expr(s"timestamp_micros(${f.name} div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          acc.withColumn(f.name,
            org.apache.spark.sql.functions.col(f.name).cast(
              org.apache.spark.sql.types.TimestampType))
        case _ => acc
      }
    }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = t(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "embeddings")
}
