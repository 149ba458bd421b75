package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query profile from the engine's own telemetry.
  *
  * Usage: runMain graft.Profile <corpusDir> <query> [query...]
  *
  * Each query runs a cold pass, then a warm pass; each pass prints one
  * JSON line:
  *  - `construct_s`: `fn(s, d)` before any action (eager jobs inside the op);
  *  - `materialize_s`: a `noop` write of the result — every column is
  *    produced, where `count()` lets Catalyst prune projections;
  *  - `phases_ms`: the Catalyst phases of that write's `QueryExecution`;
  *  - `stage`: the pass's task metrics ([[Bench.RepMetrics]]);
  *  - `batches`: every streaming progress JSON posted during the pass;
  *  - `forks`: processes the JVM started during the pass
  *    ([[graft.util.ProcessStarts]]);
  *  - `plan`: the write's final adaptive plan, formatted mode.
  *
  * Conf A/Bs need no options: `-Dspark.<key>=<value>` in `run/javaOptions`
  * reaches the session through `SparkConf`.
  */
object Profile {

  /** Streaming progress of every session, child sessions included: the
    * events ride the SparkContext's shared listener bus.
    */
  private final class Progress extends SparkListener {
    val batches = new ConcurrentLinkedQueue[String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => batches.add(p.progress.json)
      case _ =>
    }
  }

  /** The last successful execution of one session. */
  private final class LastExecution extends QueryExecutionListener {
    @volatile var qe: Option[QueryExecution] = None
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      this.qe = Some(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <corpusDir> <query> [query...]")
    val spark = Sessions.local()
    run(spark, args(0), args.drop(1).toSeq)(println)
    spark.stop()
  }

  /** Emit one JSON record per (query, pass), cold before warm. */
  private[graft] def run(spark: SparkSession, dir: String,
      names: Seq[String])(emit: String => Unit): Unit = {
    val sc = spark.sparkContext
    val probe = new Bench.RepProbe
    val progress = new Progress
    sc.addSparkListener(probe)
    sc.addSparkListener(progress)
    try for (name <- names; pass <- Seq("cold", "warm")) {
      val fn = SparkEntry.queries(name)
      org.apache.spark.graft.ListenerDrain.drain(sc)
      probe.reset()
      progress.batches.clear()
      val last = new LastExecution
      val ((df, t0, t1, t2), forks) = graft.util.ProcessStarts.count {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.sparkSession.listenerManager.register(last)
        try {
          df.write.format("noop").mode("overwrite").save()
          (df, t0, t1, System.nanoTime())
        } finally {
          // the bus is async: drain so the pass's task ends, progress
          // events and the write's execution are all delivered
          org.apache.spark.graft.ListenerDrain.drain(sc)
          df.sparkSession.listenerManager.unregister(last)
        }
      }
      val qe = last.qe.getOrElse(df.queryExecution)
      val phases = qe.tracker.phases.toSeq.sortBy(_._1)
        .map { case (p, s) => s"${Verify.jsonString(p)}:${s.durationMs}" }
        .mkString("{", ",", "}")
      emit(String.format(java.util.Locale.ROOT,
        """{"query":%s,"pass":"%s","construct_s":%.3f,"materialize_s":%.3f,"phases_ms":%s,"stage":%s,"batches":%s,"forks":%d,"plan":%s}""",
        Verify.jsonString(name), pass, Double.box((t1 - t0) / 1e9),
        Double.box((t2 - t1) / 1e9), phases, probe.snapshot().json,
        progress.batches.asScala.mkString("[", ",", "]"), Int.box(forks),
        Verify.jsonString(qe.explainString(FormattedMode))))
    } finally {
      sc.removeSparkListener(probe)
      sc.removeSparkListener(progress)
    }
  }
}
