package perfbench

import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sinks.{AnsiDeleteInsertDialect, JdbcUpsertSink}
import graft.sources.JdbcSnapshot
import graft.streaming.StreamRunner

/** `cdc_tail`: open loop. One generator thread commits one change row per
  * transaction to a Derby change table on a fixed schedule;
  * `StreamRunner.streamJdbcCursor` polls it by the `(commit_us, id)`
  * cursor with a `ProcessingTime` trigger -> `Upsert.applyCdc` ->
  * `JdbcUpsertSink.upsertBatch`. Lag is sink commit minus due time.
  */
object Tail {
  /** About half the rate at which batches start to run back to back. */
  val RatePerS = 1000
  val TriggerMs = 500L
  val MaxRowsPerPoll = 1000L
  val WarmS = 4.0
  val Keys = 2000
  val DeleteShare = 0.10
  /** A run whose generator ran this late at p99 is invalid. */
  val MaxLateMs = 250.0

  private val accounts = Array("Bronze", "Silver", "Gold", "Platinum")
  val SrcTable = "SRC_CHANGES"
  val SinkTable = "USERS_SINK"
  private val sinkCols = Seq("user_id", "username", "account_type", "op", "commit_us", "id")

  def createTables(url: String): Unit = {
    val sinkSchema = StructType(Seq(StructField("user_id", IntegerType),
      StructField("username", StringType), StructField("account_type", StringType),
      StructField("op", StringType), StructField("commit_us", LongType), StructField("id", LongType)))
    Harness.exec(url,
      // the source is the change table a CDC reader tails, keyed by its cursor
      s"""CREATE TABLE $SrcTable (commit_us BIGINT NOT NULL, id BIGINT NOT NULL,
         |op VARCHAR(1), user_id INT, username VARCHAR(64), account_type VARCHAR(16),
         |due_us BIGINT, PRIMARY KEY (commit_us, id))""".stripMargin,
      AnsiDeleteInsertDialect.createTableDdlFromSpark("APP", SinkTable, sinkSchema))
  }

  /** The seeded change stream: row i is due at `startUs + i / rate`. */
  final class Generator(url: String, seed: Long, startUs: Long, endUs: Long) extends Thread("perfbench-gen") {
    setDaemon(true)
    val n: Int = (((endUs - startUs) / 1e6) * RatePerS).toInt
    val due = Array.tabulate(n)(i => startUs + (i * 1e6 / RatePerS).toLong)
    val ops = new Array[String](n)
    val lateUs = new Array[Long](n)
    val commitUs = new Array[Long](n)
    val doneAt = Array.fill(n)(Long.MaxValue)
    @volatile var committed = 0
    @volatile var error: Throwable = null

    override def run(): Unit = try Harness.withConn(url) { c =>
      val rnd = new SplittableRandom(seed)
      val zipf = new Zipf(Keys, 1.0)
      val live = mutable.HashSet[Int]()
      val ins = c.prepareStatement(
        s"INSERT INTO $SrcTable (commit_us, id, op, user_id, username, account_type, due_us) VALUES (?,?,?,?,?,?,?)")
      var lastCommit = 0L
      for (i <- 0 until n) {
        val k = zipf.rank(rnd) + 1
        val op = if (!live(k)) "c" else if (rnd.nextDouble() < DeleteShare) "d" else "u"
        if (op == "d") live -= k else live += k
        ops(i) = op
        val wait = due(i) - Clock.nowUs
        if (wait > 0) LockSupport.parkNanos(wait * 1000L)
        val sent = Clock.nowUs
        lateUs(i) = sent - due(i)
        lastCommit = math.max(sent, lastCommit + 1)
        ins.setLong(1, lastCommit); ins.setLong(2, i.toLong); ins.setString(3, op)
        ins.setInt(4, k); ins.setString(5, s"user${k}_${rnd.nextInt(1000000)}")
        ins.setString(6, accounts(rnd.nextInt(4)))
        ins.setLong(7, due(i))
        ins.executeUpdate() // autocommit: one transaction per row
        doneAt(i) = Clock.nowUs
        commitUs(i) = doneAt(i) - sent
        committed = i + 1
      }
      ins.close()
    } catch { case t: Throwable => error = t }

    /** Rows whose commit had returned by `us`. */
    def committedAt(us: Long): Int = {
      val j = java.util.Arrays.binarySearch(doneAt, us)
      if (j >= 0) j + 1 else -j - 1
    }
  }

  final class Counters {
    var rowsIn = 0L; var rowsOut = 0L; var failedBatches = 0L
  }

  def processBatch(url: String, tracer: Tracer, traced: Boolean,
                   c: Counters, batch: DataFrame, id: Long): Unit = {
    def apply(df: DataFrame): DataFrame =
      Upsert.applyCdc(df, col("op"), Seq(col("user_id")), Seq(col("commit_us"), col("id")))
        .select(sinkCols.map(col): _*)
    if (!traced) JdbcUpsertSink.upsertBatch(url, SinkTable, Seq("user_id"))(apply(batch), id)
    else tracer.span("batch", s"batch-$id") {
      val rows = tracer.span("cursor.read", s"batch-$id") {
        batch.persist(); c.rowsIn += batch.count(); batch
      }
      val latest = tracer.span("upsert", s"batch-$id") {
        val l = apply(rows); l.persist(); c.rowsOut += l.count(); l
      }
      tracer.span("sink.data", s"batch-$id")(JdbcUpsertSink.upsertBatch(url, SinkTable, Seq("user_id"))(latest, id))
      latest.unpersist(); rows.unpersist()
    }
  }

  /** Runs the stream until `stopWhen` holds; returns batch id -> (start,
    * sink commit) stamps in us, and the query's run id.
    */
  def stream(spark: SparkSession, url: String, ckpt: java.nio.file.Path, trigger: Trigger,
             tracer: Tracer, traceEvery: Int, c: Counters)(stopWhen: => Boolean)
      : (Map[Long, (Long, Long)], java.util.UUID) = {
    val stamps = mutable.LinkedHashMap[Long, (Long, Long)]()
    val q = StreamRunner.streamJdbcCursor(spark, url, SrcTable, tsCol = "commit_us", idCol = "id",
        maxRowsPerPoll = Some(MaxRowsPerPoll))
      .writeStream.option("checkpointLocation", ckpt.toString)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = Clock.nowUs
        try processBatch(url, tracer, traceEvery > 0 && id % traceEvery == 0, c, batch, id)
        catch { case e: Exception => c.failedBatches += 1; throw e }
        val stamp = Clock.nowUs
        stamps.synchronized { stamps(id) = (t0, stamp) }
        ()
      }
      .start()
    while (q.isActive && !stopWhen) Thread.sleep(20)
    val requested = q.isActive
    q.stop()
    // stop() interrupts the stream thread, which may be inside a cursor
    // poll; an error surfacing from that is the stop, not a failure
    q.exception.foreach { e =>
      if (requested) Harness.log(s"query ended by stop: ${e.getMessage.take(200)}") else throw e
    }
    (stamps.synchronized(stamps.toMap), q.runId)
  }

  private val IdRe = """"id":(-?\d+)""".r
  def endId(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    IdRe.findFirstMatchIn(p.sources.head.endOffset).map(_.group(1).toLong).getOrElse(Long.MinValue)

  def run(a: RunArgs, r: Result): Unit = {
    val tracer = new Tracer(a.trace)
    val (spark, url) = Harness.timedSetup(a, r, 3) { (s, i) =>
      val db = s"tail$i"
      if (i > 0) Harness.dropDerby(s"tail${i - 1}")
      Harness.createDerby(db)
      val u = Harness.derbyUrl(db)
      createTables(u)
      // warm-up: drain a small fixed change log through the same pipeline
      val now = Clock.nowUs
      val g = new Generator(u, 7L, now - 600000L, now)
      g.run()
      stream(s, u, a.work.resolve(s"warm$i"), Trigger.AvailableNow(), new Tracer(false), 0, new Counters)(false)
      Harness.exec(u, s"DROP TABLE $SrcTable", s"DROP TABLE $SinkTable")
      createTables(u)
      u
    }
    Harness.drainBus(spark)
    ExecProbe.reset(); PhaseListener.drainAll(); ProgressListener.progress.clear()
    val c = new Counters
    val start = Clock.nowUs + 300000L
    val measureFrom = start + (WarmS * 1e6).toLong
    val end = measureFrom + (a.seconds * 1e6).toLong
    val gen = new Generator(url, a.seed, start, end)
    val lastId = gen.n - 1L
    gen.start()
    val drainDeadline = end + 60000000L
    val (stamps, runId) = tracer.span("workload", "cdc_tail") {
      stream(spark, url, a.work.resolve("tail/ckpt"), Trigger.ProcessingTime(TriggerMs), tracer,
        if (a.trace) 2 else 0, c) {
        Clock.nowUs > drainDeadline || gen.error != null ||
          (gen.committed == gen.n && ProgressListener.progress.asScala.exists(endId(_) >= lastId))
      }
    }
    gen.join(10000L)
    Harness.log(s"stream stopped after ${stamps.size} batches")
    Harness.drainBus(spark)
    if (gen.error != null) r.fail(s"generator failed: ${gen.error}")
    val progress = ProgressListener.forRun(runId).filter(p => stamps.contains(p.batchId))
    r.attempted = math.max(1, stamps.size)
    r.failed = c.failedBatches

    // rows (prevEnd, end] of each batch share its commit stamp
    val lagUs = new Array[Long](gen.n)
    java.util.Arrays.fill(lagUs, Long.MinValue)
    var prev = -1L
    progress.foreach { p =>
      val e = math.min(endId(p), lastId)
      var i = prev + 1
      while (i <= e) { lagUs(i.toInt) = stamps(p.batchId)._2 - gen.due(i.toInt); i += 1 }
      prev = math.max(prev, e)
    }
    val measured = (0 until gen.n).filter(i => gen.due(i) >= measureFrom)
    val cu = measured.filter(i => gen.ops(i) != "d")
    val missing = (0 until gen.n).count(i => gen.ops(i) != "d" && lagUs(i) == Long.MinValue)
    if (missing > 0) r.fail(s"$missing committed c/u rows got no lag sample")
    val lagMs = cu.filter(i => lagUs(i) != Long.MinValue).map(i => lagUs(i) / 1000.0)
    val late = gen.lateUs.map(_ / 1000.0).toSeq
    val lateP99 = Harness.quantile(late, 0.99)
    if (lateP99 > MaxLateMs) r.fail(f"generator fell behind schedule: p99 late $lateP99%.1f ms")
    // sink-visible throughput of the window: its rows over the time from
    // the window start to the commit of its last row
    val lastVisible = measured.filter(i => lagUs(i) != Long.MinValue)
      .map(i => gen.due(i) + lagUs(i)).maxOption.getOrElse(end)
    r.put("events_per_s", measured.size / ((lastVisible - measureFrom) / 1e6), "1/s")
    r.put("lag_p50_ms", Harness.quantile(lagMs, 0.5), "ms")
    r.put("lag_p95_ms", Harness.quantile(lagMs, 0.95), "ms")
    Harness.log(f"deletes dropped by design: ${measured.count(i => gen.ops(i) == "d")}; " +
      f"late p99 $lateP99%.2f ms")

    check(spark, url, r)
    Harness.log("checked")
    if (r.errors.nonEmpty) r.failed += 1

    if (a.trace) {
      Layers.streamMetrics(r, progress)
      Layers.execMetrics(r)
      tracer.attachPhases(PhaseListener.drainAll())
      val incl = tracer.inclusiveMsByName
      val polls = progress.map(p => Option(p.durationMs.get("latestOffset")).map(_.longValue).getOrElse(0L))
      r.put("cursor.poll_ms", polls.sum.toDouble + incl.getOrElse("cursor.read", 0.0), "ms")
      r.put("cursor.rows_per_batch", Harness.median(progress.map(_.numInputRows.toDouble)), "count")
      val backlog = progress.map(p => gen.committedAt(stamps(p.batchId)._2) - (math.min(endId(p), lastId) + 1))
      r.put("cursor.backlog_rows", Harness.median(backlog.map(_.toDouble)), "count")
      r.put("upsert.ms", incl.getOrElse("upsert", 0.0), "ms")
      r.put("upsert.rows_in", c.rowsIn.toDouble, "count")
      r.put("upsert.rows_out", c.rowsOut.toDouble, "count")
      r.put("upsert.dedup_ratio", if (c.rowsIn == 0) 0.0 else c.rowsOut.toDouble / c.rowsIn, "ratio")
      r.put("sink.data_ms", incl.getOrElse("sink.data", 0.0), "ms")
      r.put("sink.rows_written", c.rowsOut.toDouble, "count")
      r.put("sink.statements", 2.0 * c.rowsOut, "count")
      r.put("sink.failed_batches", c.failedBatches.toDouble, "count")
      r.put("gen.late_ms_p99", lateP99, "ms")
      r.put("gen.commit_ms_p50", Harness.median(gen.commitUs.map(_ / 1000.0).toSeq), "ms")
      val wall = stamps.toSeq.map { case (id, (s0, s1)) => (id, (s1 - s0) / 1000.0) }
      Layers.overhead(r, wall.filter(_._1 % 2 == 0).map(_._2), wall.filter(_._1 % 2 == 1).map(_._2))
      Layers.finishTrace(r, tracer, "batch", a.work.resolve("spans_cdc_tail.jsonl"))
    }
  }

  /** The sink equals a batch `Upsert.applyCdc` over the change table. */
  def check(spark: SparkSession, url: String, r: Result): Unit = {
    import spark.implicits._
    val expected = Upsert.applyCdc(JdbcSnapshot.read(spark, url, SrcTable), col("op"),
        Seq(col("user_id")), Seq(col("commit_us"), col("id")))
      .select(sinkCols.map(col): _*).as[(Int, String, String, String, Long, Long)].collect().toSet
    val sink = JdbcSnapshot.read(spark, url, SinkTable)
      .select(sinkCols.map(col): _*).as[(Int, String, String, String, Long, Long)].collect().toSet
    if (sink != expected)
      r.fail(s"sink state: ${(sink -- expected).size} unexpected, ${(expected -- sink).size} missing rows")
  }
}
