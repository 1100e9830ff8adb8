package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Arguments the launcher (run.py) passes to the JVM. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, inputs: String, runDir: String) {
  /** local[cores]: every core of the machine. */
  val cores: Int = Runtime.getRuntime.availableProcessors
}

/** What a workload reports back: per-op latencies of the timed window,
  * its throughput numerator (requests, docs or rows), failures with their
  * messages, the outputs the launcher checks, and (traced runs) the
  * per-layer figures of its own layers. */
final case class Timed(latMs: Seq[Double], work: Double, wallS: Double,
    attempted: Long, failed: Long, errors: Seq[String])

trait Workload {
  /** Everything before the first timed op: fresh stores and a warm pass
    * over every op kind. */
  def setup(): Unit
  /** Run ops until `deadlineNs` (System.nanoTime). */
  def timed(deadlineNs: Long, tracer: Tracer, engine: Option[EngineListener]): Timed
  /** The outputs the launcher compares with the DuckDB / ground truth. */
  def outputs(): Map[String, Any]
  /** Traced runs only: one discarded unit, so the first measured unit
    * is not colder than the others. */
  def warmUp(): Unit = { timed(System.nanoTime(), new Tracer(false), None); () }
  /** Layer metrics of the traced run that belong to this workload. */
  def layerMetrics(tracer: Tracer, t: Timed): Map[String, Any] = Map.empty
  def close(): Unit = ()
}

/** The benchmark's JVM side: builds one Spark session, sets the workload
  * up several times, measures it for the given seconds, and writes a
  * result file that run.py turns into the metrics line. */
object Main {

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("inputs"), m("run-dir"))
  }

  /** The session every workload runs on: local[cores] with the shuffle
    * width of the library's own Bench, the run's scratch area as Spark's
    * local and warehouse dirs, UTC like every oracle compare. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Exits the JVM either way: the service's dispatcher and Spark leave
    * non-daemon threads behind, and a failed run must not hang. */
  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val w: Workload = a.workload match {
      case "serve" => new Serve(spark, a)
      case "curate" => new Curate(spark, a)
      case "ingest" => new Ingest(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val t0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    val engine = if (a.trace) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.shuffle") || k == "spark.master" ||
          k.startsWith("spark.sql.adaptive") || k == "spark.scheduler.mode" ||
          k == "spark.driver.memory" || k.startsWith("spark.sql.files") }
        .toSeq.sortBy(_._1).toMap,
      "cores" -> a.cores,
      "java_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_s" -> sessionS, "workload_setup_s" -> setupS)
    if (a.trace) {
      // tracing overhead: the window is cut into four units, untraced,
      // traced, traced, untraced, so a JVM that gets faster (or slower)
      // over the run favours neither mode
      w.warmUp()
      val quarter = (a.seconds * 1e9 / 4).toLong
      val tracer = new Tracer(true)
      val units = Seq(false, true, true, false).map { traced =>
        traced -> w.timed(System.nanoTime() + quarter,
          if (traced) tracer else new Tracer(false), if (traced) engine else None)
      }
      def pool(traced: Boolean): Timed = units.collect { case (`traced`, t) => t }
        .reduce((x, y) => Timed(x.latMs ++ y.latMs, x.work + y.work, x.wallS + y.wallS,
          x.attempted + y.attempted, x.failed + y.failed, x.errors ++ y.errors))
      val traced = pool(true)
      Thread.sleep(300) // let the listener bus deliver the last task ends
      out ++= Seq("untraced" -> summary(pool(false)), "timed" -> summary(traced),
        "engine" -> engine.get.snapshot,
        "self_ms_by_layer" -> tracer.selfMsByLayer,
        "layers" -> w.layerMetrics(tracer, traced),
        "spans" -> tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
          "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } else {
      val t = w.timed(System.nanoTime() + (a.seconds * 1e9).toLong, new Tracer(false), None)
      out += "timed" -> summary(t)
    }
    out += "peak_rss_mb" -> peakRssMb()
    out += "outputs" -> w.outputs()
    w.close()
    Files.write(Paths.get(a.runDir, "result.json"),
      Json.write(out.toMap).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def summary(t: Timed): Map[String, Any] = Map(
    "lat_ms" -> t.latMs, "work" -> t.work, "wall_s" -> t.wallS,
    "attempted" -> t.attempted, "failed" -> t.failed, "errors" -> t.errors.take(20))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  def dirStats(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirStats)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null) and reader for the generated inputs. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def write(v: Any): String = {
    val sb = new StringBuilder
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => sb ++= mapper.writeValueAsString(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.toSeq.zipWithIndex.foreach { case ((k, vv), i) =>
          if (i > 0) sb += ','
          sb ++= mapper.writeValueAsString(k.toString) += ':'
          go(vv)
        }
        sb += '}'
      case xs: Iterable[_] =>
        sb += '['
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case arr: Array[_] => go(arr.toSeq)
      case other => sb ++= mapper.writeValueAsString(other.toString)
    }
    go(v)
    sb.toString
  }

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new File(path))

  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}
