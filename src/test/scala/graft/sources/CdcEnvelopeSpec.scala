package graft.sources

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec
import graft.operators.Upsert

/** Envelope decode against the literal captured wire message from the
  * reference run log (reference `README.md:127-129`): JsonConverter
  * envelope with embedded schema, int64-µs MicroTimestamp fields.
  */
class CdcEnvelopeSpec extends SparkSpec {

  private val captured =
    """{"schema":{"type":"struct","fields":[
      |{"type":"int32","optional":false,"default":0,"field":"user_id"},
      |{"type":"string","optional":true,"field":"username"},
      |{"type":"string","optional":true,"field":"account_type"},
      |{"type":"int64","optional":true,"name":"io.debezium.time.MicroTimestamp","version":1,"field":"updated_at"},
      |{"type":"int64","optional":true,"name":"io.debezium.time.MicroTimestamp","version":1,"field":"created_at"}],
      |"optional":false,"name":"postgres_cdc.iman.users.Value"},
      |"payload":{"user_id":1,"username":"user1","account_type":"Bronze",
      |"updated_at":1754155842030174,"created_at":1754155842030174}}""".stripMargin
      .replaceAll("\n", "")

  test("unwrap decodes the captured README.md:127 users message") {
    import spark.implicits._
    val row = CdcEnvelope.unwrap(Seq(captured).toDF("value"), col("value"),
      CdcEnvelope.usersPayload, tsCols).head()
    assert(row.getAs[Int]("user_id") == 1)
    assert(row.getAs[String]("username") == "user1")
    assert(row.getAs[String]("account_type") == "Bronze")
    // 1754155842030174 µs = 2025-08-02T17:30:42.030174 UTC
    val ts = row.getAs[java.sql.Timestamp]("updated_at").toInstant
    assert(ts.toEpochMilli == 1754155842030L)
  }

  test("unwrapTolerant: good decoded, malformed quarantined, tombstones dropped") {
    import spark.implicits._
    val (good, bad) = CdcEnvelope.unwrapTolerant(
      Seq(Some(captured), Some("not json"), None).toDF("value"), col("value"),
      CdcEnvelope.usersPayload, Seq("updated_at", "created_at"))
    assert(good.collect().map(_.getAs[Int]("user_id")).toSeq == Seq(1))
    val q = bad.collect().map(r => (r.getString(0), r.getString(1)))
    assert(q.length == 1 && q.head._1 == "not json")
  }

  test("a microTsCols name missing from the payload is an error, not a skipped column") {
    import spark.implicits._
    val df = Seq(captured).toDF("value")
    for (decode <- Seq(
        () => CdcEnvelope.unwrap(df, col("value"), CdcEnvelope.usersPayload, Seq("updated_ad")),
        () => CdcEnvelope.unwrapTolerant(df, col("value"), CdcEnvelope.usersPayload, Seq("updated_ad"))))
      assert(intercept[IllegalArgumentException](decode()).getMessage.contains("updated_ad"))
  }

  test("tombstone-shaped / malformed JSON decodes to null payload, not error") {
    import spark.implicits._
    val rows = CdcEnvelope.unwrap(Seq("", "not json").toDF("value"), col("value"),
      CdcEnvelope.usersPayload, tsCols).collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("user_id"))))
  }

  private val descriptor =
    captured.substring("{\"schema\":".length, captured.indexOf(",\"payload\":"))

  /** The drain's payload: the users row plus the op and its log position. */
  private val opPayload = StructType(CdcEnvelope.usersPayload.fields ++ Seq(
    StructField("op", StringType), StructField("lsn", LongType)))
  private val tsCols = Seq("updated_at", "created_at")

  private def env(id: Int, name: String, op: String, lsn: Long,
                  schema: String = descriptor): String =
    s"""{"schema":$schema,"payload":{"user_id":$id,"username":"$name",""" +
      s""""account_type":"Bronze","updated_at":${1754155842030174L + lsn},""" +
      s""""created_at":1754155842030174,"op":"$op","lsn":$lsn}}"""

  private val payloadless = """{"schema":{"type":"struct"},"after":{"user_id":5}}"""

  /** Good rows (two updates and a delete among them), a garbage `schema`
    * descriptor next to a valid payload, unparseable JSON, payload-less
    * JSON and a tombstone.
    */
  private val mixed: Seq[Option[String]] = Seq(
    Some(env(1, "a", "c", 1)), Some(env(2, "b", "c", 2)), Some("not json"),
    Some(env(1, "a2", "u", 3)), None, Some(env(3, "c", "c", 4)),
    Some(payloadless), Some(env(3, "c", "d", 5)), Some(""),
    Some(env(2, "b2", "u", 6)), Some("""{"payload":null}"""),
    Some(env(4, "d", "u", 7, schema = "\"garbage\"")))

  /** A micro-batch as `foreachBatch` hands it over: a `LogicalRDD` over
    * `parts` partitions. `reads` counts the source rows computed.
    */
  private def batch(rows: Seq[Option[String]], parts: Int, reads: LongAccumulator): DataFrame = {
    val rdd = spark.sparkContext.parallelize(rows, parts).map { v => reads.add(1); Row(v.orNull) }
    spark.createDataFrame(rdd, StructType(Seq(StructField("value", StringType))))
  }

  private def legs(rows: Seq[Option[String]], parts: Int,
                   reads: LongAccumulator = spark.sparkContext.longAccumulator) =
    CdcEnvelope.unwrapTolerant(batch(rows, parts, reads), col("value"), opPayload, tsCols)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def state(df: DataFrame): Seq[(Int, String, String, Long, Long)] =
    df.select(col("user_id"), col("username"), col("op"), col("lsn"),
        unix_micros(col("updated_at")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(_._4)

  private def dlq(df: DataFrame): Seq[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  test("unwrapTolerant on a mixed batch: good rows, reason tags, tombstone dropped") {
    val (good, bad) = legs(mixed, 1)
    val t0 = 1754155842030174L
    assert(state(good) == Seq((1, "a", "c", 1L, t0 + 1), (2, "b", "c", 2L, t0 + 2),
      (1, "a2", "u", 3L, t0 + 3), (3, "c", "c", 4L, t0 + 4), (3, "c", "d", 5L, t0 + 5),
      (2, "b2", "u", 6L, t0 + 6), (4, "d", "u", 7L, t0 + 7)))
    assert(dlq(bad) == Seq(("", "unparseable_json"), ("not json", "unparseable_json"),
      (payloadless, "missing_payload"), ("""{"payload":null}""", "missing_payload")).sorted)
  }

  test("one-partition batch: each row read once, applyCdc and the DLQ leg plan no Exchange") {
    val reads = spark.sparkContext.longAccumulator("reads")
    // a redelivered bad message: the DLQ leg is key-unique on raw
    val rows = mixed ++ Seq(Some("not json"), Some(""))
    val (good, bad) = legs(rows, 1, reads)
    val latest = Upsert.applyCdc(good, col("op"), Seq(col("user_id")), Seq(col("lsn")))
    assert(!plan(latest).contains("Exchange"), plan(latest))
    assert(!plan(bad).contains("Exchange"), plan(bad))
    good.collect(); latest.collect()
    assert(dlq(bad).size == 4)
    assert(reads.value == rows.size, s"${reads.value} source rows computed for ${rows.size}")
  }

  test("three-partition batch keeps its one Exchange and gives the one-partition results") {
    val (good1, bad1) = legs(mixed, 1)
    val (good3, bad3) = legs(mixed, 3)
    val key = Seq(col("user_id")); val version = Seq(col("lsn"))
    val apply3 = Upsert.applyCdc(good3, col("op"), key, version)
    assert("Exchange hashpartitioning".r.findAllIn(plan(apply3)).size == 1, plan(apply3))
    assert(state(Upsert.applyCdc(good1, col("op"), key, version)) == state(apply3))
    assert(state(apply3).map(r => (r._1, r._4)) == Seq((1, 3L), (3, 4L), (2, 6L), (4, 7L)))
    val withDeletes1 = Upsert.applyCdcWithDeletes(good1, col("op"), key, version)
    val withDeletes3 = Upsert.applyCdcWithDeletes(good3, col("op"), key, version)
    assert(state(withDeletes1) == state(withDeletes3))
    assert(state(withDeletes3).map(_._1) == Seq(1, 2, 4))
    assert(dlq(bad1) == dlq(bad3))
  }
}
