package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so spans,
  * Catalyst phase stamps (epoch ms) and generator due times share one axis.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** Executor-side counters from task-end events. Every stage is tagged
  * with the `perfbench.layer` local property of the thread that submitted
  * its job, so shuffle bytes can be charged to the layer that moved them.
  */
object ExecProbe extends SparkListener {
  val LayerKey = "perfbench.layer"
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def add(k: String, v: Long): Unit =
    counters.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)

  def get(k: String): Long = Option(counters.get(k)).map(_.get).getOrElse(0L)

  def reset(): Unit = { counters.clear(); stageLayer.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey))).getOrElse("")
    e.stageIds.foreach(id => stageLayer.put(id, layer))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("input_b", m.inputMetrics.bytesRead)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("spill_b", m.diskBytesSpilled)
      val layer = stageLayer.getOrDefault(e.stageId, "")
      if (layer.nonEmpty)
        add(s"shuffle_b@$layer",
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
    if (e.taskInfo != null)
      counters.computeIfAbsent("max_task_ms", _ => new AtomicLong)
        .accumulateAndGet(e.taskInfo.duration, math.max(_, _))
  }

  /** The `exec.*` per-layer metrics over the window since [[reset]]. */
  def execMetrics: Seq[(String, Double, String)] = {
    val mb = 1048576.0
    Seq(
      ("exec.task_ms", get("task_ms").toDouble, "ms"),
      ("exec.gc_ms", get("gc_ms").toDouble, "ms"),
      ("exec.input_mb", get("input_b") / mb, "MB"),
      ("exec.shuffle_read_mb", get("shuffle_read_b") / mb, "MB"),
      ("exec.shuffle_write_mb", get("shuffle_write_b") / mb, "MB"),
      ("exec.spill_mb", get("spill_b") / mb, "MB"),
      ("exec.max_task_ms", get("max_task_ms").toDouble, "ms"),
      ("exec.jobs", get("jobs").toDouble, "count"),
      ("exec.tasks", get("tasks").toDouble, "count"))
  }
}

/** One Catalyst phase of one query execution, in epoch milliseconds. */
final case class Phase(name: String, startMs: Long, endMs: Long)

/** Registered by class name through `spark.sql.queryExecutionListeners`,
  * so every session (including the tuned child sessions streaming runs
  * on) gets an instance; all instances feed one queue.
  */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PhaseListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PhaseListener.record(qe)
}

object PhaseListener {
  val phases = new ConcurrentLinkedQueue[Phase]()
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (n, p) => phases.add(Phase(n, p.startTimeMs, p.endTimeMs)) }
  def drainAll(): Seq[Phase] = {
    val out = ArrayBuffer[Phase]()
    var p = phases.poll()
    while (p != null) { out += p; p = phases.poll() }
    out.toSeq
  }
}

/** Registered by class name through
  * `spark.sql.streaming.streamingQueryListeners`: a listener added on a
  * parent session never sees queries started on a child session, while
  * the conf is read by every session's query manager.
  */
class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    ProgressListener.progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object ProgressListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  def forRun(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

/** In-memory span recorder. Spans are kept until the end of the run and
  * then written out; with tracing off, [[span]] only runs its body.
  */
final case class Span(id: Int, name: String, parent: Int, trace: String,
                      startUs: Long, endUs: Long)

final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  /** The open top-level span: spans opened on other threads (a streaming
    * query's batches) hang under it.
    */
  @volatile private var root = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def span[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(root)
      if (parent == 0) root = id
      stack.set(id :: stack.get)
      val t0 = Clock.nowUs
      try body
      finally {
        val t1 = Clock.nowUs
        stack.set(stack.get.tail)
        if (root == id) root = 0
        synchronized { spans += Span(id, name, parent, trace, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Attach Catalyst phases as child spans of the innermost span whose
    * interval contains the phase start.
    */
  def attachPhases(phases: Seq[Phase]): Unit = if (enabled) {
    val snapshot = all
    phases.foreach { p =>
      val s = p.startMs * 1000L
      val owner = snapshot.filter(sp => sp.startUs <= s && s <= sp.endUs)
        .sortBy(sp => sp.endUs - sp.startUs).headOption
      owner.foreach { o =>
        synchronized {
          spans += Span(newIdUnsafe(), s"catalyst.${p.name}", o.id, o.trace, s,
            math.max(s, p.endMs * 1000L))
        }
      }
    }
  }
  private def newIdUnsafe(): Int = { nextId += 1; nextId }

  /** Self time per span: duration minus the union of its children. */
  def selfUs: Map[Int, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, (s.endUs - s.startUs) - covered)
    }.toMap
  }

  /** Wall time in ms summed per span name, children included. */
  def inclusiveMsByName: Map[String, Double] =
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => s.endUs - s.startUs).sum / 1000.0 }

  /** Self time in ms summed per span name. */
  def selfMsByName: Map[String, Double] = {
    val self = selfUs
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1000.0 }
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val self = selfUs
    val lines = all.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":"${s.trace}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"self_us":${self(s.id)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
