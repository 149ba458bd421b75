package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sinks.{AnsiDeleteInsertDialect, JdbcUpsertSink}
import graft.sources.{CdcEnvelope, JdbcSnapshot}

/** `cdc_drain`: closed loop over a backlog of Debezium envelope files.
  * File stream (`maxFilesPerTrigger=1`, `AvailableNow`) -> `foreachBatch`
  * -> `CdcEnvelope.unwrapTolerant` -> `Upsert.applyCdc` ->
  * `JdbcUpsertSink.upsertBatch` into a data table and a dead-letter table.
  */
object Drain {
  val NFiles = 80
  /** Leading seconds of the drain left out of the metrics. */
  val WarmS = 8.0
  val SinkTable = "USERS_SINK"
  val DlqTable = "USERS_DLQ"

  val payload: StructType = StructType(CdcEnvelope.usersPayload.fields ++ Seq(
    StructField("op", StringType), StructField("lsn", LongType)))
  private val kv = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
  private val tsCols = Seq("updated_at", "created_at")

  /** Write the log as one parquet file per batch, with modification times
    * one second apart so the file source takes them in order.
    */
  def writeFiles(spark: SparkSession, log: DrainGen.Log, dir: Path): Unit = {
    val staging = dir.resolveSibling(dir.getFileName.toString + "_staging")
    val sc = spark.sparkContext
    val bEnvs = sc.broadcast(log.envs)
    val bFiles = sc.broadcast(log.files)
    val rows = sc.parallelize(log.files.indices, log.files.length).flatMap { f =>
      val envs = bEnvs.value
      bFiles.value(f).iterator.map { j => Row(DrainGen.keyJson(envs(j)), DrainGen.valueJson(envs(j))) }
    }
    spark.createDataFrame(rows, kv).write.parquet(staging.toString)
    val parts = Files.list(staging).iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
    require(parts.size == log.files.length, s"expected ${log.files.length} files, got ${parts.size}")
    Files.createDirectories(dir)
    val base = System.currentTimeMillis() - 1000L * parts.size - 60000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val target = dir.resolve(f"f-$i%04d.parquet")
      Files.move(p, target)
      target.toFile.setLastModified(base + 1000L * i)
    }
  }

  final class Counters {
    var rowsGood = 0L; var rowsBad = 0L; var rowsOut = 0L
    var failedBatches = 0L
  }

  /** One micro-batch of the pipeline. In traced mode each intermediate
    * result is cached and forced before the next layer is timed.
    */
  def processBatch(url: String, tracer: Tracer, traced: Boolean,
                   c: Counters, batch: DataFrame, id: Long): Unit = {
    val trace = s"batch-$id"
    if (!traced) {
      val (good, bad) = CdcEnvelope.unwrapTolerant(batch, col("value"), payload, tsCols)
      val latest = Upsert.applyCdc(good, col("op"), Seq(col("user_id")), Seq(col("lsn")))
      JdbcUpsertSink.upsertBatch(url, SinkTable, Seq("user_id"))(latest, id)
      JdbcUpsertSink.upsertBatch(url, DlqTable, Seq("raw"))(bad, id)
    } else tracer.span("batch", trace) {
      val (good, bad) = tracer.span("decode", trace) {
        val (g, b) = CdcEnvelope.unwrapTolerant(batch, col("value"), payload, tsCols)
        g.persist(); b.persist()
        c.rowsGood += g.count(); c.rowsBad += b.count()
        (g, b)
      }
      val latest = tracer.span("upsert", trace) {
        val l = Upsert.applyCdc(good, col("op"), Seq(col("user_id")), Seq(col("lsn")))
        l.persist(); c.rowsOut += l.count(); l
      }
      tracer.span("sink.data", trace)(JdbcUpsertSink.upsertBatch(url, SinkTable, Seq("user_id"))(latest, id))
      tracer.span("sink.dlq", trace)(JdbcUpsertSink.upsertBatch(url, DlqTable, Seq("raw"))(bad, id))
      latest.unpersist(); good.unpersist(); bad.unpersist()
    }
  }

  def createTables(url: String): Unit = {
    val sinkSchema = StructType(CdcEnvelope.usersPayload.fields.map { f =>
      if (tsCols.contains(f.name)) f.copy(dataType = TimestampType) else f
    } ++ Seq(StructField("op", StringType), StructField("lsn", LongType)))
    val dlqSchema = StructType(Seq(StructField("raw", StringType), StructField("error", StringType)))
    Harness.exec(url,
      AnsiDeleteInsertDialect.createTableDdlFromSpark("APP", SinkTable, sinkSchema),
      AnsiDeleteInsertDialect.createTableDdlFromSpark("APP", DlqTable, dlqSchema))
  }

  /** Drain `dir` through the pipeline until the backlog is empty or the
    * deadline passes. A batch that starts after the deadline parks until
    * the query is stopped, so every batch either completes or never
    * touches the sink. Returns (batch id, start us, commit us) per batch
    * and the query's run id.
    */
  def drain(spark: SparkSession, url: String, dir: Path, ckpt: Path, deadlineUs: Long,
            tracer: Tracer, traceEvery: Int, c: Counters)
      : (Seq[(Long, Long, Long)], java.util.UUID) = {
    val done = mutable.ArrayBuffer[(Long, Long, Long)]()
    val parked = new CountDownLatch(1)
    val q = spark.readStream.schema(kv).option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .writeStream.option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (Clock.nowUs > deadlineUs) {
          parked.countDown()
          while (true) Thread.sleep(60000L) // interrupted by stop()
        }
        val t0 = Clock.nowUs
        try processBatch(url, tracer, traceEvery > 0 && id % traceEvery == 0, c, batch, id)
        catch { case e: Exception => c.failedBatches += 1; throw e }
        done.synchronized { done += ((id, t0, Clock.nowUs)) }
        ()
      }
      .start()
    while (q.isActive && !parked.await(50, TimeUnit.MILLISECONDS)) ()
    q.stop()
    q.exception.foreach(e => throw e)
    (done.synchronized(done.toSeq), q.runId)
  }

  def run(a: RunArgs, r: Result): Unit = {
    val tracer = new Tracer(a.trace)
    // warm-up: the same pipeline over a small fixed backlog, then fresh tables
    val warmLog = DrainGen.generate(7L, 3, 1000)
    val (spark, url) = Harness.timedSetup(a, r, 3) { (s, i) =>
      val db = s"drain$i"
      if (i > 0) Harness.dropDerby(s"drain${i - 1}")
      Harness.createDerby(db)
      val u = Harness.derbyUrl(db)
      createTables(u)
      val wdir = a.work.resolve(s"warm$i")
      writeFiles(s, warmLog, wdir.resolve("src"))
      drain(s, u, wdir.resolve("src"), wdir.resolve("ckpt"), Long.MaxValue, tracer = new Tracer(false),
        traceEvery = 0, new Counters)
      Harness.exec(u, s"DROP TABLE $SinkTable", s"DROP TABLE $DlqTable")
      createTables(u)
      u
    }
    val log = DrainGen.generate(a.seed, NFiles)
    val src = a.work.resolve("drain/src")
    writeFiles(spark, log, src)
    Harness.log("input written")
    println(s"input checksum cdc_drain seed=${a.seed}: ${DrainGen.checksum(log)}")

    Harness.drainBus(spark)
    ExecProbe.reset(); PhaseListener.drainAll(); ProgressListener.progress.clear()
    val c = new Counters
    val t0 = Clock.nowUs
    val measureFrom = t0 + (WarmS * 1e6).toLong
    val deadline = measureFrom + (a.seconds * 1e6).toLong
    // traced runs trace every other batch; the untraced ones give the overhead
    val (batches, runId) = tracer.span("workload", "cdc_drain") {
      drain(spark, url, src, a.work.resolve("drain/ckpt"), deadline, tracer,
        if (a.trace) 2 else 0, c)
    }
    Harness.drainBus(spark)
    val progress = ProgressListener.forRun(runId)
    val k = batches.size
    r.attempted = math.max(1, k)
    r.failed = c.failedBatches

    // closed loop: a batch's latency is the time from the previous commit
    // to its own. Batches that start in the warm phase (the query start,
    // JIT) are left out; the rate is their envelopes over the time from the
    // last warm commit to the last commit.
    val events = batches.map(b => log.files(b._1.toInt).length.toLong).sum
    val steady = batches.sliding(2).collect { case Seq(p, q) if q._2 >= measureFrom =>
      (log.files(q._1.toInt).length, (q._3 - p._3) / 1000.0) }.toSeq
    // a drain too slow to reach the window still reports its batches
    val cycles = if (steady.nonEmpty) steady
      else batches.map(b => (log.files(b._1.toInt).length, (b._3 - t0) / 1000.0))
    val lagMs = cycles.map(_._2)
    r.put("events_per_s", cycles.map(_._1).sum / (lagMs.sum / 1000.0), "1/s")
    r.put("lag_p50_ms", Harness.quantile(lagMs, 0.5), "ms")
    r.put("lag_p95_ms", Harness.quantile(lagMs, 0.95), "ms")

    Harness.log(s"measured $k batches: " + batches.map(b => (b._3 - b._2) / 1000).mkString(" "))
    check(spark, url, log, k, r)
    Harness.log("checked")
    if (r.errors.nonEmpty) r.failed += 1

    if (a.trace) {
      Layers.streamMetrics(r, progress)
      Layers.execMetrics(r)
      tracer.attachPhases(PhaseListener.drainAll())
      val incl = tracer.inclusiveMsByName
      val tracedIds = batches.map(_._1).filter(_ % 2 == 0).toSet
      val rowsIn = tracedIds.toSeq.map(i => log.files(i.toInt).length.toLong).sum
      r.put("decode.ms", incl.getOrElse("decode", 0.0), "ms")
      r.put("decode.rows_in", rowsIn.toDouble, "count")
      r.put("decode.rows_good", c.rowsGood.toDouble, "count")
      r.put("decode.rows_quarantined", c.rowsBad.toDouble, "count")
      // rows the file source read per envelope: both legs of
      // unwrapTolerant rescan the batch
      r.put("decode.scan_amplification",
        progress.map(_.numInputRows).sum.toDouble / math.max(1L, events), "ratio")
      r.put("upsert.ms", incl.getOrElse("upsert", 0.0), "ms")
      r.put("upsert.rows_in", c.rowsGood.toDouble, "count")
      r.put("upsert.rows_out", c.rowsOut.toDouble, "count")
      r.put("upsert.dedup_ratio", if (c.rowsGood == 0) 0.0 else c.rowsOut.toDouble / c.rowsGood, "ratio")
      r.put("sink.data_ms", incl.getOrElse("sink.data", 0.0), "ms")
      r.put("sink.dlq_ms", incl.getOrElse("sink.dlq", 0.0), "ms")
      r.put("sink.rows_written", (c.rowsOut + c.rowsBad).toDouble, "count")
      // the ANSI dialect sends one DELETE and one INSERT per row
      r.put("sink.statements", 2.0 * (c.rowsOut + c.rowsBad), "count")
      r.put("sink.failed_batches", c.failedBatches.toDouble, "count")
      val wall = batches.map(b => (b._1, (b._3 - b._2) / 1000.0))
      Layers.overhead(r, wall.filter(_._1 % 2 == 0).map(_._2), wall.filter(_._1 % 2 == 1).map(_._2))
      Layers.finishTrace(r, tracer, "batch", a.work.resolve("spans_cdc_drain.jsonl"))
    }
  }

  /** Sink state equals a batch `Upsert.applyCdc` over the processed log
    * and an independent fold over it; the DLQ equals the malformed set.
    */
  def check(spark: SparkSession, url: String, log: DrainGen.Log, k: Int, r: Result): Unit = {
    import spark.implicits._
    val processed = log.files.take(k).flatten.map(log.envs)
    val data = processed.filter(_.kind == 0)
    val fold = data.filter(_.op != "d").groupBy(_.userId).map { case (u, es) =>
      val e = es.maxBy(_.lsn)
      (u, e.username, e.account, e.updatedUs, e.createdUs, e.op, e.lsn)
    }.toSet
    val opLog = data.toSeq.map(e => (e.userId, e.username, e.account, e.updatedUs, e.createdUs, e.op, e.lsn))
      .toDF("user_id", "username", "account_type", "updated_at", "created_at", "op", "lsn")
    val batchApply = Upsert.applyCdc(opLog, col("op"), Seq(col("user_id")), Seq(col("lsn")))
      .as[(Int, String, String, Long, Long, String, Long)].collect().toSet
    val sink = JdbcSnapshot.read(spark, url, SinkTable)
      .select(col("user_id").cast("int"), col("username"), col("account_type"),
        unix_micros(col("updated_at")), unix_micros(col("created_at")), col("op"), col("lsn"))
      .as[(Int, String, String, Long, Long, String, Long)].collect().toSet
    if (batchApply != fold)
      r.fail(s"batch applyCdc (${batchApply.size} rows) differs from the reference fold (${fold.size})")
    if (sink != batchApply)
      r.fail(s"sink state: ${(sink -- batchApply).size} unexpected, ${(batchApply -- sink).size} missing rows")
    val expectDlq = processed.filter(e => e.kind >= 2)
      .map(e => (DrainGen.valueJson(e), DrainGen.reason(e))).toSet
    val dlq = JdbcSnapshot.read(spark, url, DlqTable).as[(String, String)].collect()
    if (dlq.toSet != expectDlq || dlq.length != expectDlq.size)
      r.fail(s"DLQ: ${dlq.length} rows, expected ${expectDlq.size} malformed envelopes")
  }
}
