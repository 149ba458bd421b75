package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metric names (printed by every traced run, 0 where a
  * workload does not exercise the layer) and the helpers that fill them.
  */
object Layers {
  val families: Seq[String] =
    Seq("src", "sink", "op", "fn", "join", "agg", "win", "setop", "stream", "ts", "llm", "graph")

  private val durations = Seq(
    "latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
    "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
    "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
    "triggerExecution" -> "trigger_ms")

  /** `registry_sweep`'s per-layer metrics, one set per name-prefix family. */
  val registry: Seq[(String, String)] =
    families.flatMap(f => Seq(s"registry.$f.construct_s" -> "s", s"registry.$f.catalyst_ms" -> "ms",
      s"registry.$f.execute_s" -> "s", s"registry.$f.shuffle_mb" -> "MB"))

  /** Every per-layer metric (`per_layer` in BENCHMARK.json). */
  val all: Seq[(String, String)] =
    Seq("stream.batches" -> "count") ++ durations.map(d => s"stream.${d._2}" -> "ms") ++
      Seq("decode.ms" -> "ms", "decode.rows_in" -> "count", "decode.rows_good" -> "count",
        "decode.rows_quarantined" -> "count", "decode.scan_amplification" -> "ratio",
        "cursor.poll_ms" -> "ms", "cursor.rows_per_batch" -> "count", "cursor.backlog_rows" -> "count",
        "upsert.ms" -> "ms", "upsert.rows_in" -> "count", "upsert.rows_out" -> "count",
        "upsert.dedup_ratio" -> "ratio",
        "sink.data_ms" -> "ms", "sink.dlq_ms" -> "ms", "sink.rows_written" -> "count",
        "sink.statements" -> "count", "sink.failed_batches" -> "count") ++
      Seq("exec.task_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.input_mb" -> "MB",
        "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
        "exec.max_task_ms" -> "ms", "exec.jobs" -> "count", "exec.tasks" -> "count",
        "gen.late_ms_p99" -> "ms", "gen.commit_ms_p50" -> "ms",
        "trace.overhead_pct" -> "%", "trace.unaccounted_pct" -> "%", "trace.catalyst_ms" -> "ms") ++
      registry

  /** `stream.*`: sums of `StreamingQueryProgress.durationMs` over batches. */
  def streamMetrics(r: Result, progress: Seq[StreamingQueryProgress]): Unit = {
    r.put("stream.batches", progress.count(_.numInputRows > 0).toDouble, "count")
    durations.foreach { case (k, name) =>
      r.put(s"stream.$name",
        progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble, "ms")
    }
  }

  def execMetrics(r: Result): Unit =
    ExecProbe.execMetrics.foreach { case (n, v, u) => r.put(n, v, u) }

  /** Traced minus untraced mean wall time of the same kind of operation,
    * as a percentage of the untraced one.
    */
  def overhead(r: Result, traced: Seq[Double], untraced: Seq[Double]): Unit = {
    val t = if (traced.isEmpty) Double.NaN else traced.sum / traced.size
    val u = if (untraced.isEmpty) Double.NaN else untraced.sum / untraced.size
    r.put("trace.overhead_pct", if (u > 0 && !t.isNaN) 100.0 * (t - u) / u else 0.0, "%")
  }

  /** Close a traced run: the unaccounted share under the `root` spans,
    * the span dump, and the self-time rollup on stdout.
    */
  def finishTrace(r: Result, tracer: Tracer, root: String, dump: java.nio.file.Path): Unit = {
    unaccounted(r, tracer, root)
    tracer.write(dump)
    println(s"self time by span (traced run, spans in ${dump.getFileName}):")
    println(selfTimes(tracer))
  }

  /** Share of the `root` spans' wall time not covered by child spans. */
  private def unaccounted(r: Result, tracer: Tracer, root: String): Unit = {
    val self = tracer.selfUs
    val roots = tracer.all.filter(_.name == root)
    val wall = roots.map(s => s.endUs - s.startUs).sum
    val own = roots.map(s => self(s.id)).sum
    r.put("trace.unaccounted_pct", if (wall > 0) 100.0 * own / wall else 0.0, "%")
    r.put("trace.catalyst_ms",
      tracer.all.filter(_.name.startsWith("catalyst.")).map(s => s.endUs - s.startUs).sum / 1000.0, "ms")
  }

  /** Keep only the per-layer metrics `names`, in that order, with 0 for
    * a layer the workload does not have.
    */
  def only(r: Result, names: Seq[(String, String)]): Unit = {
    val kept = names.map { case (n, u) => n -> r.metrics.getOrElse(n, (0.0, u)) }
    r.metrics.clear()
    kept.foreach { case (n, v) => r.metrics(n) = v }
  }

  def selfTimes(tracer: Tracer): String =
    tracer.selfMsByName.toSeq.sortBy(-_._2)
      .map { case (n, ms) => f"$n%-24s $ms%10.1f ms" }.mkString("\n")
}
