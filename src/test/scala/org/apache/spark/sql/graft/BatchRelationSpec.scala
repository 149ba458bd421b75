package org.apache.spark.sql.graft

import java.lang.ref.WeakReference
import java.nio.file.Files
import java.sql.DriverManager
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.operators.Upsert
import graft.sinks.{AnsiDeleteInsertDialect, JdbcUpsertSink}
import graft.sources.CdcEnvelope
import graft.util.{Memo, TempDirs}

/** The micro-batch seam of `BatchRelation`: the sink's partition runner
  * and the per-query plan templates of `CdcEnvelope.unwrapTolerant` and
  * `Upsert.latestByKey`. Batches are built the way `foreachBatch` hands
  * them over, a `LogicalRDD` over the batch's rows: every other batch
  * keeps one set of attributes across batches (as a stream's batches do),
  * the rest get fresh ones.
  */
class BatchRelationSpec extends SparkSpec {

  private val payload = StructType(CdcEnvelope.usersPayload.fields ++ Seq(
    StructField("op", StringType), StructField("lsn", LongType)))
  private val tsCols = Seq("updated_at", "created_at")
  private val kv = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))

  /** Batch `b` of a seeded envelope log: changes to 6 keys, with
    * malformed messages (one repeated) and a tombstone.
    */
  private def envelopes(b: Int): Seq[Row] = {
    val rnd = new scala.util.Random(b)
    val changes = (0 until 12).map { i =>
      val lsn = b * 100L + i
      val op = Seq("c", "u", "u", "d")(rnd.nextInt(4))
      val user = 1 + rnd.nextInt(6)
      s"""{"schema":{},"payload":{"user_id":$user,"username":"u${user}_$lsn",""" +
        s""""account_type":"A${rnd.nextInt(3)}","updated_at":${1754155842030174L + lsn},""" +
        s""""created_at":1754155842030174,"op":"$op","lsn":$lsn}}"""
    }
    val bad = Seq(s"{corrupt $b", s"""{"no_payload":$b}""", s"{corrupt $b")
    (changes ++ bad).map(v => Row(s"k$b", v)) :+ Row(s"k$b", null)
  }

  /** Batch `b` as `foreachBatch` hands it over, in `parts` partitions. */
  private def batch(s: SparkSession, b: Int, parts: Int, stable: Seq[Attribute]): DataFrame = {
    val df = s.createDataFrame(s.sparkContext.parallelize(envelopes(b), parts), kv)
    if (b % 2 == 1) df
    else Dataset.ofRows(castToImpl(s),
      LogicalRDD(stable, castToImpl(df).queryExecution.toRdd)(castToImpl(s)))
  }

  /** `batch` as a local relation: the plans are built from scratch. */
  private def local(s: SparkSession, b: Int): DataFrame =
    s.createDataFrame(envelopes(b).asJava, kv)

  private type Apply = (DataFrame, org.apache.spark.sql.Column, Seq[org.apache.spark.sql.Column],
    Seq[org.apache.spark.sql.Column]) => DataFrame

  /** (sink rows, quarantine rows) of one batch through the drain chain. */
  private def chain(batch: DataFrame, apply: Apply): (Seq[String], Seq[String]) = {
    val (good, bad) = CdcEnvelope.unwrapTolerant(batch, col("value"), payload, tsCols)
    val latest = apply(good, col("op"), Seq(col("user_id")), Seq(col("lsn")))
    (latest.collect().map(_.toString).sorted.toSeq, bad.collect().map(_.toString).sorted.toSeq)
  }

  private def builds(prefix: String): Long =
    Memo.stats.collect { case (n, st) if n.startsWith(prefix) => st.builds }.sum

  private val templateNames = Seq("plan/unwrapTolerant.decode/", "plan/unwrapTolerant.legs/",
    "plan/latestByKey/")

  for (parts <- Seq(1, 3); (applyName, apply) <- Seq[(String, Apply)](
      "applyCdc" -> (Upsert.applyCdc(_, _, _, _)),
      "applyCdcWithDeletes" -> (Upsert.applyCdcWithDeletes(_, _, _, _))))
    test(s"$applyName over 20 batches of $parts partition(s): each template builds once, " +
      "outputs equal a fresh build") {
      val s = spark.newSession()
      val stable = DataTypeUtils.toAttributes(kv)
      var built = Seq(0L, 0L, 0L)
      var rows = 0
      (0 until 20).foreach { b =>
        val before = templateNames.map(builds)
        val got = chain(batch(s, b, parts, stable), apply)
        built = templateNames.map(builds).zip(before).zip(built).map { case ((a, z), n) => n + a - z }
        // a session of its own: every plan is built from scratch
        val want = chain(local(spark.newSession(), b), apply)
        assert(got == want, s"batch $b")
        assert(got._2.nonEmpty, s"batch $b: malformed envelopes are quarantined")
        rows += got._1.length
      }
      assert(rows > 20)
      assert(built == Seq(1, 1, 1))
    }

  test("a file stream's foreachBatch builds each template once per query") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft_batch_stream")
    try {
      val src = dir.resolve("src").toString
      s.createDataFrame((0 until 4).flatMap(envelopes).asJava, kv).repartition(4).write.parquet(src)
      val before = templateNames.map(builds)
      val got = new ConcurrentLinkedQueue[(Seq[Row], (Seq[String], Seq[String]))]
      s.readStream.schema(kv).option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          got.add((b.collect().toSeq, chain(b, Upsert.applyCdc(_, _, _, _))))
          ()
        }
        .start().awaitTermination()
      assert(templateNames.map(builds).zip(before).map { case (a, z) => a - z } == Seq(1, 1, 1))
      assert(got.size == 4)
      got.asScala.foreach { case (rows, out) =>
        assert(out == chain(spark.newSession().createDataFrame(rows.asJava, kv),
          Upsert.applyCdc(_, _, _, _)))
      }
    } finally TempDirs.deleteRecursively(dir)
  }

  test("an input with an extra or a renamed column, or a changed session conf, builds a new template") {
    val s = spark.newSession()
    import s.implicits._
    def keyed(rows: Seq[(Int, Long, String)], extra: Boolean, last: String = "s"): DataFrame = {
      val df = rows.toDF("k", "v", last)
      val in = if (extra) df.withColumn("x", col("v") * 2) else df
      castToImpl(s).internalCreateDataFrame(castToImpl(in).queryExecution.toRdd.map(_.copy()),
        in.schema)
    }
    val rows = Seq((1, 1L, "a"), (1, 2L, "b"), (2, 5L, "c"))
    val before = builds("plan/latestByKey/")
    def latest(df: DataFrame) =
      Upsert.latestByKey(df, Seq(col("k")), Seq(col("v"))).collect().map(_.toSeq).toSet
    assert(latest(keyed(rows, extra = false)) == Set(Seq(1, 2L, "b"), Seq(2, 5L, "c")))
    assert(latest(keyed(rows, extra = false)) == Set(Seq(1, 2L, "b"), Seq(2, 5L, "c")))
    assert(builds("plan/latestByKey/") - before == 1)
    assert(latest(keyed(rows, extra = true)) == Set(Seq(1, 2L, "b", 4L), Seq(2, 5L, "c", 10L)))
    assert(builds("plan/latestByKey/") - before == 2)
    // analysis reads the session conf, so a changed setting builds anew
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert(latest(keyed(rows, extra = false)) == Set(Seq(1, 2L, "b"), Seq(2, 5L, "c")))
    assert(builds("plan/latestByKey/") - before == 3)
    // the canonical plan drops column names; the key keeps them
    val renamed = Upsert.latestByKey(keyed(rows, extra = false, last = "t"), Seq(col("k")), Seq(col("v")))
    assert(renamed.columns.toSeq == Seq("k", "v", "t"))
    assert(builds("plan/latestByKey/") - before == 4)
  }

  test("after batch 0, no template holds its RDD or a persisted block of it") {
    val s = spark.newSession()
    val sc = s.sparkContext
    val stable = DataTypeUtils.toAttributes(kv)
    /** Runs batch 0, returns weak refs to its input RDD and decoded relation. */
    def first(): (WeakReference[AnyRef], WeakReference[AnyRef], Int) = {
      val b0 = batch(s, 0, 1, stable)
      val (good, bad) = CdcEnvelope.unwrapTolerant(b0, col("value"), payload, tsCols)
      val latest = Upsert.applyCdc(good, col("op"), Seq(col("user_id")), Seq(col("lsn")))
      assert(latest.count() > 0 && bad.count() > 0)
      val decoded = castToImpl(good).queryExecution.analyzed.collectLeaves()
        .collectFirst { case r: LogicalRDD => r.rdd }.get
      assert(sc.getPersistentRDDs.contains(decoded.id))
      val input = castToImpl(b0).queryExecution.analyzed.collectLeaves()
        .collectFirst { case r: LogicalRDD => r.rdd }.get
      (new WeakReference(input), new WeakReference(decoded), decoded.id)
    }
    val (input, decoded, decodedId) = first()
    (1 until 3).foreach(b => chain(batch(s, b, 1, stable), Upsert.applyCdc(_, _, _, _)))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((input.get != null || decoded.get != null || sc.getPersistentRDDs.contains(decodedId))
        && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100)
    }
    assert(input.get == null, "batch 0's input RDD is still reachable")
    assert(decoded.get == null, "batch 0's decoded RDD is still reachable")
    assert(!sc.getPersistentRDDs.contains(decodedId), "batch 0's decoded blocks are still persisted")
  }

  private val sinkSchema = StructType(Seq(
    StructField("k", IntegerType, nullable = false), StructField("l", LongType),
    StructField("s", StringType), StructField("ts", TimestampType), StructField("d", DateType),
    StructField("amount", DecimalType(12, 3)), StructField("b", BooleanType),
    StructField("x", DoubleType)))

  private def sinkRows: Seq[Row] = Seq(
    Row(1, 10L, "one", java.sql.Timestamp.valueOf("2025-08-02 17:30:42.030174"),
      java.sql.Date.valueOf("2025-08-02"), new java.math.BigDecimal("123456789.125"), true, 1.5),
    Row(2, Long.MinValue, "", java.sql.Timestamp.valueOf("1970-01-01 00:00:00"),
      java.sql.Date.valueOf("1969-12-31"), new java.math.BigDecimal("-0.001"), false, -0.0),
    Row(3, null, null, null, null, null, null, null),
    Row(4, Long.MaxValue, "ü ✓ 'q'", java.sql.Timestamp.valueOf("2038-01-19 03:14:07.999999"),
      java.sql.Date.valueOf("9999-12-31"), new java.math.BigDecimal("999999999.999"), true,
      Double.MaxValue))

  private def derbyTable(url: String, table: String): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(
      AnsiDeleteInsertDialect.createTableDdlFromSpark("app", table, sinkSchema))
    finally c.close()
  }

  private def derbyRows(url: String, table: String): Seq[Seq[AnyRef]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table ORDER BY k")
      val n = rs.getMetaData.getColumnCount
      Iterator.continually(rs.next()).takeWhile(identity)
        .map(_ => (1 to n).map(rs.getObject)).toSeq
    } finally c.close()
  }

  test("upsertBatch writes the rows Dataset.foreachPartition wrote, every column type and nulls") {
    val url = "jdbc:derby:memory:graft_batch_relation;create=true"
    derbyTable(url, "runner"); derbyTable(url, "reference")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(sinkRows, 3), sinkSchema)
    JdbcUpsertSink.upsertBatch(url, "runner", Seq("k"))(df, 0L)
    // the sink's statements as they ran over Dataset.foreachPartition
    val cols = df.schema.fieldNames.toSeq
    df.foreachPartition { rows: Iterator[Row] =>
      val conn = DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        val ins = conn.prepareStatement(AnsiDeleteInsertDialect.insertSql("reference", cols))
        rows.foreach { r =>
          cols.zipWithIndex.foreach { case (c, i) => ins.setObject(i + 1, r.getAs[Any](c)) }
          ins.addBatch()
        }
        ins.executeBatch(); conn.commit()
      } finally conn.close()
    }
    val runner = derbyRows(url, "runner")
    assert(runner.length == sinkRows.length)
    assert(runner == derbyRows(url, "reference"))
    // a replay converges through the delete leg
    JdbcUpsertSink.upsertBatch(url, "runner", Seq("k"))(df, 0L)
    assert(derbyRows(url, "runner") == runner)
  }

  test("one upsertBatch call is one Spark job in one SQL execution a listener sees") {
    val url = "jdbc:derby:memory:graft_batch_relation_jobs;create=true"
    derbyTable(url, "jobs")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(sinkRows, 1), sinkSchema)
    val jobs = new ConcurrentLinkedQueue[Int]
    val executions = new ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
    }
    val qeListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.add(s"failed $funcName")
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      JdbcUpsertSink.upsertBatch(url, "jobs", Seq("k"))(df, 0L)
      ListenerDrain.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    assert(jobs.size == 1, jobs)
    assert(executions.asScala.toSeq == Seq("foreachPartition"))
    assert(derbyRows(url, "jobs").length == sinkRows.length)
  }
}
