package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BatchRelation
import org.apache.spark.sql.types._

/** Debezium-style CDC envelope decode (SURVEY §1.2 / §2.1).
  *
  * The wire format (reference `README.md:127-129`, produced by the
  * JsonConverter with schemas enabled, `setup.sh:96-99`) is one JSON object
  * per row-change: `{"schema": {...struct descriptor...}, "payload": {col: val}}`
  * with timestamps as int64 microseconds (`io.debezium.time.MicroTimestamp`).
  *
  * Spark mapping: decode is `from_json` into `struct<payload: P>` (a
  * codegen'd expression — stays inside WholeStageCodegen, no UDF), unwrap is
  * `select("payload.*")` (the `ExtractNewRecordState` SMT of reference
  * `setup.sh:105-107`), and MicroTimestamp columns become TIMESTAMP via
  * `timestamp_micros`.
  */
object CdcEnvelope {

  /** Decode schema for a payload row schema: `struct<payload: P>`. The
    * envelope's `schema` descriptor is the same on every message of a topic
    * version, so `from_json` skips it rather than building it per row;
    * building it cost about as much as the rest of the decode.
    */
  def decodeSchema(payload: StructType): StructType =
    StructType(Seq(StructField("payload", payload)))

  /** Payload schema of the reference's `iman.users` table
    * (`postgres-init/init.sql:5-11`); MicroTimestamp columns arrive as int64.
    */
  val usersPayload: StructType = StructType(Seq(
    StructField("user_id", IntegerType),
    StructField("username", StringType),
    StructField("account_type", StringType),
    StructField("updated_at", LongType),
    StructField("created_at", LongType)))

  /** `env.payload.*`, with the named int64-µs columns as timestamps. */
  private def payloadColumns(payload: StructType, microTsCols: Seq[String]): Seq[Column] = {
    require(microTsCols.forall(payload.fieldNames.contains),
      s"microTsCols not in the payload: ${microTsCols.filterNot(payload.fieldNames.contains).mkString(", ")}")
    payload.fieldNames.toSeq.map { f =>
      val c = col("env.payload").getField(f)
      (if (microTsCols.contains(f)) timestamp_micros(c) else c).as(f)
    }
  }

  /** Decode + flatten a column of envelope JSON strings: `payload.*` with the
    * named int64-µs columns converted to timestamps.
    */
  def unwrap(df: DataFrame, jsonCol: Column, payload: StructType,
             microTsCols: Seq[String] = Seq.empty): DataFrame =
    df.select(from_json(jsonCol, decodeSchema(payload)).as("env"))
      .select(payloadColumns(payload, microTsCols): _*)

  /** Bad-record-tolerant decode (the reference's `errors.tolerance=all` +
    * dead-letter logging, `setup.sh:145-147`): rows whose envelope fails to
    * parse or carries no payload are routed to a quarantine DataFrame
    * instead of failing the batch.
    *
    * Returns (good, quarantine). `good` is the same shape as [[unwrap]];
    * `quarantine` is `(raw STRING, error STRING)` — the raw wire bytes plus
    * a reason tag, ready for a dead-letter sink, one row per distinct `raw`
    * (the tag is a function of `raw`), so a dead-letter table keyed on
    * `raw` takes a redelivered or repeated bad message in one batch. Null
    * wire values are tombstones and are silently dropped from both legs
    * (reference `transforms.unwrap.drop.tombstones=true`, `setup.sh:107`).
    *
    * The batch is scanned and decoded once: both legs read one
    * `BatchRelation.computeOnce` relation of `(raw, env)`. `df` must be a
    * batch DataFrame, as `foreachBatch` hands over. The decode and the two
    * legs are analyzed once per query (`BatchRelation.planOnce`).
    */
  def unwrapTolerant(df: DataFrame, jsonCol: Column, payload: StructType,
                     microTsCols: Seq[String] = Seq.empty)
      : (DataFrame, DataFrame) = {
    val Seq(decode) = BatchRelation.planOnce(df, "unwrapTolerant.decode", jsonCol, payload) { in =>
      Seq(in.filter(jsonCol.isNotNull)
        .select(jsonCol.cast(StringType).as("raw"),
          from_json(jsonCol, decodeSchema(payload)).as("env")))
    }
    val decoded = BatchRelation.computeOnce(decode)
    val Seq(good, quarantine) =
      BatchRelation.planOnce(decoded, "unwrapTolerant.legs", payload, microTsCols) { d =>
        // from_json (PERMISSIVE) yields a null-fields row for malformed
        // input, so the reason tag discriminates via try_parse_json on the
        // (small) quarantine leg only: syntactically broken vs
        // valid-JSON-wrong-shape.
        Seq(d.filter(col("env.payload").isNotNull).select(payloadColumns(payload, microTsCols): _*),
          BatchRelation.coalesceIfOnePartition(d
            .filter(col("env").isNull || col("env.payload").isNull)
            .select(col("raw"),
              when(try_parse_json(col("raw")).isNull, lit("unparseable_json"))
                .otherwise(lit("missing_payload")).as("error")))
            .distinct())
      }
    (good, quarantine)
  }
}
