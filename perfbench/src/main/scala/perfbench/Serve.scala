package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `serve`: jx over HTTP, ActiveData's user path. A closed loop of
  * clients (2 in an untraced run, 1 in a traced run) POSTs the seeded
  * request mix to [[graft.service.QueryService]]; each client waits for
  * its reply before it sends the next request. Set-up warms the service
  * on block 1 of the mix; the timed window sends block 0. */
final class Serve(spark: SparkSession, a: Args) extends Workload {
  private val dataset = a.inputs

  import Serve.Req
  private val reqs: IndexedSeq[Req] = scala.io.Source.fromFile(s"$dataset/requests.jsonl")
    .getLines().map(Json.parse).map(n => Req(n.get("id").asInt(), n.get("block").asInt(),
      n.get("template").asText(), n.get("path").asText(), n.get("body").asText()))
    .toIndexedSeq
  private val timedBlock = reqs.filter(_.block == 0)

  // the tables callback: every jx `from` name resolves here; `sessions`
  // is the nested per-user table the deep-from template unnests. Calls on
  // the service's own threads in traced units are timed and counted (the
  // direct calls a traced request adds run on the client thread and are
  // not).
  private val resolves, resolveNs = new AtomicLong
  private def tables(name: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = name match {
      case "sessions" =>
        graft.Tables.t(spark, dataset, "events").groupBy("user_id")
          .agg(collect_list(struct("event_id", "event_type", "value")).as("evs"))
      case n => graft.Tables.t(spark, dataset, n)
    }
    if (tracer.enabled && Thread.currentThread.getName == "graft-service") {
      resolves.incrementAndGet()
      resolveNs.addAndGet(System.nanoTime() - t0)
    }
    df
  }
  @volatile private var tracer = new Tracer(false)

  private val server = graft.service.QueryService.start(spark, tables, 0, Some(dataset))
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def post(r: Req): (Int, String) = {
    val rq = HttpRequest.newBuilder(URI.create(base + r.path))
      .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
    val rs = http.send(rq, HttpResponse.BodyHandlers.ofString())
    (rs.statusCode(), rs.body())
  }

  // the first response to every request, for the correctness check
  private val kept = new ConcurrentHashMap[Int, (Req, Int, String)]()
  private def keep(r: Req, status: Int, body: String): Unit =
    kept.putIfAbsent(r.id, (r, status, body))

  private var storeBuildS = 0.0

  /** Fresh stores (the build-once artifacts live under java.io.tmpdir,
    * which is the run's scratch area), then block 1 of the mix (every
    * template, other literals than the timed block's), four at a time, as
    * a service warms up before it is put behind traffic. */
  def setup(): Unit = {
    Main.deleteTree(new java.io.File(System.getProperty("java.io.tmpdir"), "graft_artifacts"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val builds = reqs.filter(_.block == 1).map { r =>
      pool.submit[Double] { () =>
        val t0 = System.nanoTime()
        val (status, body) = post(r)
        if (status != 200) throw new IllegalStateException(
          s"set-up request ${r.id} (${r.template}) answered $status: ${body.take(300)}")
        keep(r, status, body)
        if (r.template == "dashboard" || r.template == "knn") (System.nanoTime() - t0) / 1e9
        else 0.0
      }
    }
    try storeBuildS = builds.map(_.get).sum finally pool.shutdown()
  }

  // traced requests: (template, HTTP ms, direct Jx.runFormatted ms or NaN)
  private val traced = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()

  def timed(deadlineNs: Long, tr: Tracer, engine: Option[EngineListener]): Timed = {
    tracer = tr
    // one client in every unit of a traced run, traced or not, so the
    // tracing overhead compares like with like
    val clients = if (a.trace) 1 else 2
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val attempted, failed = new AtomicLong
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // the clients share one request counter over repeats of the timed
    // block; once the window is over, they finish the block in progress,
    // so every run completes whole blocks of the mix, at least one
    val n = timedBlock.size
    val next = new AtomicLong
    val stopAt = new AtomicLong(Long.MaxValue)
    def claim(): Long = {
      val i = next.getAndIncrement()
      if (System.nanoTime() >= deadlineNs) stopAt.compareAndSet(Long.MaxValue,
        math.max(n, (i + n - 1) / n * n))
      i
    }
    // time the traced direct runs take on the (single) client thread; it
    // is left out of the window's wall time
    val directNs = new AtomicLong
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = claim()
        while (i < stopAt.get) {
          val r = timedBlock((i % n).toInt)
          attempted.incrementAndGet()
          tr.op {
            val s0 = System.nanoTime()
            engine.foreach(_.phase = "http")
            val res = try Right(tr.span("service.http", "service")(post(r)))
              catch { case e: Exception => Left(Main.message(e)) }
            finally engine.foreach(_.phase = null)
            val ms = (System.nanoTime() - s0) / 1e6
            lat.add(ms)
            res match {
              case Right((200, body)) => keep(r, 200, body)
              case Right((status, body)) =>
                failed.incrementAndGet()
                errors.add(s"request ${r.id} (${r.template}) -> $status: ${body.take(200)}")
              case Left(msg) =>
                failed.incrementAndGet()
                errors.add(s"request ${r.id} (${r.template}) -> $msg")
            }
            if (tr.enabled) {
              val d0 = System.nanoTime()
              traceDirect(r, ms)
              directNs.addAndGet(System.nanoTime() - d0)
            }
          }
          i = claim()
        }
      }, s"serve-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0 - directNs.get) / 1e9
    Timed(lat.asScala.toSeq, attempted.get.toDouble, wall, attempted.get, failed.get,
      errors.asScala.toSeq)
  }

  /** Traced requests only: the same body through the library directly,
    * right after its reply, to split the HTTP latency into service
    * overhead, jx compile, and Catalyst planning. */
  private def traceDirect(r: Req, http: Double): Unit = {
    val direct = if (r.path != "/query") Double.NaN else {
      val d0 = System.nanoTime()
      tracer.span("jx.runFormatted", "jx")(
        graft.jx.Jx.runFormatted(spark, r.body, tables, Some(dataset)))
      val ms = (System.nanoTime() - d0) / 1e6
      val df = tracer.span("jx.compile", "jx")(graft.jx.Jx.run(spark, r.body, tables, Some(dataset)))
      tracer.span("spark.plan", "engine")(df.queryExecution.executedPlan)
      ms
    }
    traced.add((r.template, http, direct))
  }

  override def layerMetrics(tr: Tracer, t: Timed): Map[String, Any] = {
    val spans = tr.all
    val ops = math.max(1L, t.attempted).toDouble
    def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
    val reqs = traced.asScala.toSeq
    val overhead = reqs.collect { case (_, h, d) if !d.isNaN => h - d }
    val perTemplate = reqs.groupBy(_._1).map { case (tpl, xs) =>
      s"serve.class.${tpl}_p50_ms" -> med(xs.map(_._2)) }
    Map(
      "service.overhead_ms" -> med(overhead),
      "jx.compile_ms" -> med(spans.filter(_.name == "jx.compile").map(_.ms)),
      "tables.resolve_ms" -> resolveNs.get / 1e6 / ops,
      "tables.resolves_per_op" -> resolves.get / ops,
      "artifacts.build_s" -> storeBuildS,
      "spark.plan_ms" -> med(spans.filter(_.name == "spark.plan").map(_.ms)),
      "ops" -> t.attempted) ++ perTemplate
  }

  def outputs(): Map[String, Any] = Map(
    "responses" -> kept.asScala.toSeq.sortBy(_._1).map { case (id, (r, status, body)) =>
      Map("template" -> r.template, "id" -> id, "status" -> status, "body" -> body) },
    "knn_oracle_sql" -> graft.SparkEntry.oracleSql("jx_knn_join"))

  override def close(): Unit = server.stop(0)
}

object Serve {
  /** One generated request: its template, endpoint and jx body. */
  final case class Req(id: Int, block: Int, template: String, path: String, body: String)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
