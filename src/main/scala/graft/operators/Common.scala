package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the operator inventory (SURVEY.md §2).
  *
  * Determinism policy (SURVEY.md §7.4): every oracle'd query ends in a total
  * order and rounds double aggregates to 2 decimals in BOTH engines, so the
  * driver's hash compare sees bit-identical values.
  */
object Common {
  type Q = (SparkSession, String) => DataFrame

  /** Round a double aggregate for oracle-stable output. */
  def r2(c: Column): Column = round(c, 2)
  def r4(c: Column): Column = round(c, 4)

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.Tables.t(spark, sfDir, name)

  /** The library's one eager materialization: `df` is computed now and
    * its lineage cut ([[DataFrame.localCheckpoint]]), so every consumer
    * reads the computed rows instead of replaying the plan. Its jobs run
    * with `label` as their job description; the caller's description (a
    * stream's micro-batch one, or none) is restored afterwards. The
    * checkpoint reports the bytes it stored as its size, so a join on it
    * picks its strategy from what was computed rather than from the
    * estimate of the plan it cut. ROADMAP direction 2 lists every label,
    * its consumers and its bound. */
  def materialize(df: DataFrame, label: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", label)
    try org.apache.spark.sql.graft.SizedCheckpoint.of(df.localCheckpoint())
    finally sc.setLocalProperty("spark.job.description", caller)
  }

  /** Fan heavy per-row explode work (shingle/window md5 passes) out of an
    * under-parallel SCAN: a parquet scan can never carry more tasks than
    * row groups, and this corpus ships ONE row group per table, so the
    * whole pass fuses into a single task no matter how many cores the
    * session has (guide §2.5: "input skew — one unsplittable file —
    * repartition immediately after the read"; measured r19: the exact
    * containment / ngram Jaccard keys run 1.7× faster with the scan
    * repartitioned at local[32]).
    *
    * Applies ONLY to scan-shaped frames (narrow Project/Filter chains over
    * a leaf): the r18 sweep's lesson is that probing `df.rdd` on a COMPOSED
    * frame finalizes the adaptive plan and executes upstream exchanges as
    * real jobs whose work is then discarded, and that repartitioning cheap
    * word-explode inputs costs more than the parallelism returns (VERDICT
    * r18: those families ran 1.6-2.3× slower). On a scan-shaped plan the
    * probe runs zero jobs (nothing to execute) and the partition count is
    * the true scan split count. On production-parallel inputs (≥ cores
    * splits) this is a no-op. Hash-partitioned on `key`: deterministic
    * under retries, and every consumer is partition-order-invariant by the
    * repo's determinism policy (decimal sums, rounded decisions,
    * total-order tails). */
  def spreadScan(df: DataFrame, key: String = "doc_id"): DataFrame = {
    if (df.isStreaming) return df
    import org.apache.spark.sql.catalyst.plans.logical._
    def scanShaped(p: LogicalPlan): Boolean = p match {
      case _: LeafNode      => true
      case p: Project       => scanShaped(p.child)
      case f: Filter        => scanShaped(f.child)
      case s: SubqueryAlias => scanShaped(s.child)
      case _                => false
    }
    if (!scanShaped(df.queryExecution.analyzed)) return df
    val sc = df.sparkSession.sparkContext
    if (df.rdd.getNumPartitions >= sc.defaultParallelism) df
    else df.repartition(sc.defaultParallelism, col(key))
  }
}
