// Per-job profile of one query key: runs the key with a listener recording
// every Spark job's duration + description. Usage:
//   PROF_KEY=<key> PROF_SF=/root/testdata/sf0.1 spark-shell ... -I tools/profile_key.scala
// An eager job run while the key's DataFrame is built prints the label of
// the Common.materialize call that ran it (e.g. "pipeline.shingles").
// Each rep also prints its Janino compile count (CodegenMetrics) and the
// milliseconds those compiles took (CodeGenerator.compileTime).
import org.apache.spark.scheduler._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable
val jobs = mutable.LinkedHashMap[Int, (Long, String)]()
val done = mutable.LinkedHashMap[Int, Long]()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs(j.jobId) = (j.time, Option(j.properties.getProperty("spark.job.description")).getOrElse(""))
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    done(j.jobId) = j.time
})
val key = sys.env("PROF_KEY")
val sf = sys.env.getOrElse("PROF_SF", "/root/testdata/sf0.1")
val reps = sys.env.getOrElse("PROF_REPS", "2").toInt
for (r <- 1 to reps) {
  val mark = jobs.keySet.toSet
  val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  val t0 = System.nanoTime()
  graft.SparkEntry.queries(key)(spark, sf).count()
  val el = (System.nanoTime() - t0) / 1e9
  Thread.sleep(300)
  val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  val compileMs = (CodeGenerator.compileTime - ns0) / 1e6
  println(f"== rep $r: $key total $el%.2f s, $compiles%d compiles in $compileMs%.0f ms")
  jobs.toSeq.filterNot { case (id, _) => mark(id) }.foreach { case (id, (t0j, desc)) =>
    val dur = done.get(id).map(t => (t - t0j) / 1e3).getOrElse(-1.0)
    println(f"  job $id%4d ${dur}%7.3f s  ${desc.take(90)}")
  }
}
sys.exit(0)
