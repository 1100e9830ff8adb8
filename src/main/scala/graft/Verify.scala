package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated key filter for fast local
    // iteration on a few queries (the driver always passes two args)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // per-key wall seconds, captured on every sweep: two sweeps at
    // different SFs make a measured scale curve (tools/scaling_report.py
    // joins two timings.json files into SCALING.md) — the empirical
    // check behind the 100× plan-shape arguments
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          timings(name) = (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Bench.json.writeValueAsString(
      Bench.obj(SparkEntry.oracleSql.map { case (k, v) => k -> Bench.str(v) })))
    Files.writeString(Paths.get(s"$outDir/timings.json"), Bench.json.writeValueAsString(
      Bench.obj(timings.map { case (k, v) => k -> Bench.num(Bench.fixed(3, v)) })))
    spark.stop()
  }
}
