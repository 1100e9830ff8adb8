package graft

import org.apache.spark.sql.SparkSession

/** The `local[cores]` session the command-line mains run on: UTC, no UI,
  * one shuffle partition per core, and `nanosAsLong` so the events
  * table's TIMESTAMP(NANOS) `ts` reads as a long ([[Tables]] converts it). */
object LocalSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
