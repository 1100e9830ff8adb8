package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `curate`: a batch run of the LLM curation chains over the generated
  * corpus. Every chain runs in-plan (no store routing) and its output is
  * fully produced and collected (a few hundred rows; the collected rows
  * are what the launcher checks). The timed window runs whole rounds of
  * the chains, the first of them cold. */
final class Curate(spark: SparkSession, a: Args) extends Workload {
  import graft.llm.Pipeline

  private val docs = graft.Tables.documents(spark, a.inputs)
  val nDocs: Long = docs.count()

  /** (chain, its query key, builder over a documents frame). The
    * corpus is every doc with id >= 10, the held-out benchmark the rest,
    * the split the query keys' oracles use. */
  private val chains: Seq[(String, String, DataFrame => DataFrame)] = {
    def corpus(d: DataFrame) = d.filter(col("doc_id") >= 10)
    def bench(d: DataFrame) = d.filter(col("doc_id") < 10)
    def sources(d: DataFrame) = Some(d.select("doc_id", "source"))
    Seq(
      ("plain", "pipeline_corpus", d => Pipeline.corpusHygiene(corpus(d), bench(d))),
      ("rules", "pipeline_corpus_rules",
        d => Pipeline.corpusHygiene(corpus(d), bench(d), rulesSources = sources(d))),
      ("order", "pipeline_corpus_order", d => Pipeline.corpusOrder(corpus(d), bench(d))))
  }

  private val checked = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  /** A curation job's set-up is reading the corpus: its rows are counted
    * once. The chains' first (cold) pass belongs to the timed window: a
    * batch job pays it on every run. */
  def setup(): Unit = { docs.count(); () }

  /** Keep the first collected output of each chain, with its query
    * key's oracle SQL, for the launcher's check. */
  private def keep(name: String, key: String, columns: Seq[String], rows: Array[Row]): Unit =
    if (!checked.contains(name)) checked(name) = Map("key" -> key,
      "oracle_sql" -> graft.SparkEntry.oracleSql(key), "columns" -> columns,
      "rows" -> rows.map(Curate.cells).toSeq)

  private val phases = ArrayBuffer.empty[(String, Double, Double, Double, Long)]

  /** Traced or not, a chain pass is the same three steps: build the
    * DataFrame, plan it, collect it; a traced pass records each step. */
  def timed(deadlineNs: Long, tr: Tracer, engine: Option[EngineListener]): Timed = {
    val lat = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    var attempted, failed, op = 0L
    val t0 = System.nanoTime()
    var lastEnd = t0
    // whole rounds only, so every run times every chain: at least one
    // round, and further rounds while the window lasts
    while (op == 0 || op % chains.size != 0 || System.nanoTime() < deadlineNs) {
      val (name, key, build) = chains((op % chains.size).toInt)
      op += 1
      attempted += 1
      val s0 = System.nanoTime()
      val out = try tr.op {
        def step[T](phase: String, span: String)(f: => T): T = {
          engine.foreach(_.phase = phase)
          try tr.span(span, if (phase.startsWith("construct")) "llm" else "engine")(f)
          finally engine.foreach(_.phase = null)
        }
        val df = step(s"construct:$name", s"llm.$name.construct")(build(docs))
        val c1 = System.nanoTime()
        step("plan", s"llm.$name.plan")(df.queryExecution.executedPlan)
        val c2 = System.nanoTime()
        val rows = step("exec", s"llm.$name.exec")(df.collect())
        val c3 = System.nanoTime()
        if (tr.enabled) phases += ((name, (c1 - s0) / 1e9, (c2 - c1) / 1e9, (c3 - c2) / 1e9,
          engine.get.jobsIn(s"construct:$name")))
        Some((df.columns.toSeq, rows))
      } catch {
        case e: Exception =>
          failed += 1
          errors += s"chain $name: ${Main.message(e)}"
          None
      }
      lastEnd = System.nanoTime()
      lat += (lastEnd - s0) / 1e6
      out.foreach { case (columns, rows) => keep(name, key, columns, rows) }
    }
    Timed(lat.toSeq, (attempted - failed).toDouble * nDocs, (lastEnd - t0) / 1e9,
      attempted, failed, errors.toSeq)
  }

  override def layerMetrics(tr: Tracer, t: Timed): Map[String, Any] = {
    val survivors = Pipeline.corpusSurvivors(docs.filter(col("doc_id") >= 10),
      docs.filter(col("doc_id") < 10)).count()
    // construct_jobs: jobs started while a chain's DataFrame was being
    // built, per built chain (the listener's phase counter is cumulative)
    val byChain = phases.groupBy(_._1)
    val constructJobs = byChain.values.map(ps => ps.last._5.toDouble / ps.size).sum / byChain.size
    byChain.flatMap { case (name, ps) => Seq(
      s"llm.$name.construct_s" -> Stats.median(ps.map(_._2).toSeq),
      s"llm.$name.plan_s" -> Stats.median(ps.map(_._3).toSeq),
      s"llm.$name.exec_s" -> Stats.median(ps.map(_._4).toSeq)) }.toMap ++ Map(
      "llm.construct_jobs" -> constructJobs,
      "llm.survivor_frac" -> survivors.toDouble / (nDocs - 10),
      "spark.plan_ms" -> Stats.median(phases.map(_._3 * 1000).toSeq))
  }

  def outputs(): Map[String, Any] = checked.toMap

}

object Curate {
  /** A result row as JSON-ready cells (timestamps as text, decimals as
    * doubles, arrays and structs as lists). */
  def cells(r: Row): Seq[Any] = r.toSeq.map(cell)

  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue()
    case t: java.sql.Timestamp => t.toString
    case d: java.sql.Date => d.toString
    case r: Row => cells(r)
    case xs: scala.collection.Seq[_] => xs.map(cell)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(cell(k), cell(x)) }
    case other => other
  }
}
