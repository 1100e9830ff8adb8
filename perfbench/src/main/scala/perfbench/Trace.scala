package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span: a timed call from the benchmark into one layer of the
  * program. `op` groups the spans of one timed operation (a request, a
  * chain pass, a micro-batch); `parent` is the enclosing span's id. */
final case class Span(id: Long, name: String, layer: String, op: Long,
    parent: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Disabled (every call a plain pass-through) in the
  * untraced runs that measure the end-to-end metrics; in the traced run
  * it keeps spans in memory and they are written out when the run ends.
  * The parent chain is per thread, so concurrent clients never cross. */
final class Tracer(val enabled: Boolean) {
  private val ids, opIds = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  /** One timed operation; op ids are unique over the tracer's life. */
  def op[T](f: => T): T = {
    currentOp.set(opIds.incrementAndGet())
    try span("op", "harness")(f) finally currentOp.set(-1L)
  }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, name, layer, currentOp.get(), parent, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per layer: each span's duration minus the part its
    * direct children cover (children of one span never overlap: one
    * thread records them one after another). */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Spark engine counters, registered by the benchmark itself. A job
  * that starts while `phase` is set is charged to that phase, and so are
  * its stages and tasks (matched by stage id, so events that reach the
  * listener bus after the phase ended still count). With a single client
  * (the traced runs) every charged job belongs to the op being timed. */
final class EngineListener extends SparkListener {
  @volatile var phase: String = null
  private val charged = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val jobsByPhase = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val singleTaskStages = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskGcMs = new AtomicLong
  val maxTaskMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = phase
    if (p != null) {
      jobs.incrementAndGet()
      jobsByPhase.computeIfAbsent(p, _ => new AtomicLong).incrementAndGet()
      e.stageIds.foreach(charged.add)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (charged.contains(e.stageInfo.stageId)) {
      stages.incrementAndGet()
      if (e.stageInfo.numTasks == 1) singleTaskStages.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (charged.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      taskRunMs.addAndGet(m.executorRunTime)
      taskGcMs.addAndGet(m.jvmGCTime)
      maxTaskMs.accumulateAndGet(e.taskInfo.duration, math.max)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  def jobsIn(p: String): Long = Option(jobsByPhase.get(p)).map(_.get).getOrElse(0L)

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "single_task_stages" -> singleTaskStages.get, "task_run_ms" -> taskRunMs.get,
    "task_gc_ms" -> taskGcMs.get, "max_task_ms" -> maxTaskMs.get,
    "shuffle_read_bytes" -> shuffleRead.get, "shuffle_write_bytes" -> shuffleWrite.get,
    "spill_bytes" -> spill.get)
}
