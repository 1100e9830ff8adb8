package graft

/** Ad-hoc plan dump: `runMain graft.Explain <sfDir> <key>[,key...]` prints
  * each key's final executed-plan string (the PLANS.md audit loop). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val d = args(0)
    args(1).split(",").foreach { key =>
      println(s"==== $key ====")
      println(SparkEntry.queries(key)(spark, d)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
    }
    spark.stop()
  }
}
