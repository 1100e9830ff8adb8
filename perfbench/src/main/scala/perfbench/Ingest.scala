package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `ingest`: log ETL through micro-batches, writes beside reads. Batches
  * run one after another in the delivery order the generator wrote, in
  * readout cycles of `cycle` batches: two new batches, then a
  * redelivery of one of them. Each batch parses its mozlog text log,
  * dead-letters the malformed lines, sessionizes, and appends sessions
  * and dead letters idempotently; it also sinks its events into the
  * daily sketch store. The last batch of a cycle reads the stores back.
  * Nothing compacts the stores. Set-up runs the schedule's last cycle,
  * the timed window the cycles before it. */
final class Ingest(spark: SparkSession, a: Args) extends Workload {
  import graft.etl.LogParsers
  import graft.streaming.Streams

  private val cycle = 3
  private val schedule: IndexedSeq[Int] =
    Json.read(s"${a.inputs}/schedule.json").elements().asScala.map(_.asInt()).toIndexedSeq
  // PERFBENCH_CORRUPT=redeliver writes a redelivered batch under a fresh
  // batch id, as a sink that is not idempotent would, so the benchmark's
  // tests can show the check catches a double count
  private val doubleCount = sys.env.get("PERFBENCH_CORRUPT").contains("redeliver")
  private val truth = Json.read(s"${a.inputs}/truth.json")
  private val rowsOf: Map[Int, Long] = truth.elements().asScala.map { b =>
    b.get("batch").asInt() -> (b.get("lines").asLong() +
      b.get("sketch_n").elements().asScala.map(_.asLong()).sum)
  }.toMap

  private def logPath(b: Int) = f"${a.inputs}/logs/batch_$b%04d.log"
  private def eventsOf(b: Int): DataFrame =
    graft.Tables.t(spark, s"${a.inputs}/events", f"batch_$b%04d")

  private var root = new File(a.runDir, "stores")
  private def sessionsDir = s"$root/sessions"
  private def deadDir = s"$root/dead"
  private def sketchDir = s"$root/sketch"

  /** One micro-batch `b`, written under batch id `id`. */
  private def ingest(b: Int, id: Long, tr: Tracer): Unit = {
    tr.span("etl.parse_append", "etl") {
      val parsed = LogParsers.parseMozlog(LogParsers.readTextLog(spark, logPath(b)))
      val (ok, dead) = LogParsers.deadLetter(parsed, col("action").isNotNull)
      val sessions = LogParsers.sessionizeMozlog(ok)
      if (tr.enabled) tr.span("spark.plan", "engine")(sessions.queryExecution.executedPlan)
      Streams.idempotentAppend(sessions, id, sessionsDir, Seq("source", "test"))
      Streams.idempotentAppend(dead.select("raw", "error"), id, deadDir, Seq("raw"))
    }
    tr.span("streaming.sketch_sink", "streaming")(Streams.sketchStoreSink(eventsOf(b), id, sketchDir))
  }

  /** The public readouts of the three stores: session totals, dead-letter
    * count, and the daily sketch partials merged per event type. */
  private def readout(): Map[String, Any] = {
    val s = spark.read.parquet(sessionsDir)
      .agg(count(lit(1)), sum("subtest_count"), sum("fail_count")).head()
    val dead = spark.read.parquet(deadDir).count()
    val sk = spark.read.parquet(sketchDir).groupBy("event_type")
      .agg(sum("n").as("n"),
        graft.functions.TDigestQuantile(graft.functions.TDigestMergeAgg(col("td")), 0.5).as("p50"))
      .orderBy("event_type").collect()
    Map("sessions" -> s.getLong(0), "subtests" -> s.getLong(1), "fails" -> s.getLong(2),
      "dead" -> dead, "sketch_n" -> sk.map(r => Seq(r.getString(0), r.getLong(1))).toSeq)
  }

  /** Set-up: the schedule's last cycle ingested into a throw-away store
    * and read back. */
  def setup(): Unit = {
    root = new File(a.runDir, "stores-setup")
    schedule.takeRight(cycle).foreach(b => ingest(b, b, new Tracer(false)))
    readout()
    Main.deleteTree(root)
  }

  // the batches the last timed window delivered, and those of the traced
  // windows
  private var processed = Seq.empty[Int]
  private val tracedBatches = scala.collection.mutable.Set.empty[Int]

  def timed(deadlineNs: Long, tr: Tracer, engine: Option[EngineListener]): Timed = {
    root = new File(a.runDir, "stores")
    Main.deleteTree(root)
    val timedSlots = schedule.size - cycle
    val lat = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    val done = ArrayBuffer.empty[Int]
    var failed, rows = 0L
    val t0 = System.nanoTime()
    var i = 0
    // whole readout cycles only, at least one, so every run has the same
    // share of redeliveries and of batches that also read the stores back
    while ((System.nanoTime() < deadlineNs || i == 0 || i % cycle != 0) && i < timedSlots) {
      val b = schedule(i)
      i += 1
      val id = if (doubleCount && done.contains(b)) b + 1000000L else b.toLong
      val s0 = System.nanoTime()
      engine.foreach(_.phase = "batch")
      try tr.op {
        ingest(b, id, tr)
        if (i % cycle == 0) tr.span("streaming.readout", "streaming")(readout())
        done += b
        rows += rowsOf(b)
      } catch {
        case e: Exception =>
          failed += 1
          errors += s"batch $b: ${Main.message(e)}"
      } finally engine.foreach(_.phase = null)
      lat += (System.nanoTime() - s0) / 1e6
    }
    val wall = (System.nanoTime() - t0) / 1e9
    processed = done.toSeq
    if (tr.enabled) tracedBatches ++= done
    Timed(lat.toSeq, rows.toDouble, wall, i.toLong, failed, errors.toSeq)
  }

  /** Store figures are read from the store the last timed window left:
    * every window starts from an empty store and runs the same cycles,
    * traced or not. */
  override def layerMetrics(tr: Tracer, t: Timed): Map[String, Any] = {
    val spans = tr.all
    def med(n: String) = Stats.median(spans.filter(_.name == n).map(_.ms))
    val (files, bytes) = Main.dirStats(root)
    val traced = tracedBatches.toSet
    val rawBytes = processedRawBytes(traced)
    def total(field: String) = traced.toSeq.map(b => truth.get(b).get(field).asLong()).sum
    val lines = math.max(1L, total("lines"))
    Map(
      "etl.parse_append_ms" -> med("etl.parse_append"),
      "etl.dead_letter_frac" -> readout()("dead").asInstanceOf[Long].toDouble / lines,
      "etl.injected_malformed_frac" -> total("malformed").toDouble / lines,
      "streaming.sketch_sink_ms" -> med("streaming.sketch_sink"),
      "streaming.readout_ms" -> med("streaming.readout"),
      "sources.files_written" -> files, "sources.bytes_written" -> bytes,
      "ingest.store_amp" -> bytes.toDouble / math.max(1L, rawBytes),
      "spark.plan_ms" -> med("spark.plan"), "ops" -> spans.count(_.name == "op"))
  }

  private def processedRawBytes(done: Set[Int]): Long = done.toSeq.map { b =>
    new File(logPath(b)).length() + new File(f"${a.inputs}/events/batch_$b%04d.parquet").length()
  }.sum

  /** Final store contents for the ground-truth compare: every session
    * row, the dead-letter count per batch, and the sketch row counts per
    * (day, event type), plus the batches the timed window delivered. */
  def outputs(): Map[String, Any] = {
    if (processed.isEmpty) return Map("processed" -> Seq.empty[Int])
    val sessions = spark.read.parquet(sessionsDir)
      .select("source", "test", "start_time", "end_time", "subtest_count", "fail_count",
        "crash", "duration", "ok", "last_fail_message")
      .orderBy("source", "test").collect().map(Curate.cells).toSeq
    val dead = spark.read.parquet(deadDir).groupBy("batch_id").count()
      .orderBy("batch_id").collect().map(r => Seq(r.get(0), r.getLong(1))).toSeq
    val sketch = spark.read.parquet(sketchDir)
      .groupBy(col("day").cast("string").as("day"), col("event_type")).agg(sum("n"))
      .orderBy("day", "event_type").collect().map(Curate.cells).toSeq
    val (files, bytes) = Main.dirStats(root)
    Map("processed" -> processed, "sessions" -> sessions, "dead" -> dead,
      "sketch_n" -> sketch, "store_files" -> files, "store_bytes" -> bytes,
      "raw_bytes" -> processedRawBytes(processed.toSet))
  }
}
