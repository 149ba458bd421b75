package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.sources.{CdcEnvelope, TypeMap}
import graft.streaming.StreamRunner
import graft.util.Checkpoints.Truncate
import graft.util.Memo

/** SURVEY §2.1 — sources / sinks / CDC core. */
object SourceOps {

  /** Full-table snapshot read (Debezium `snapshot.mode=initial`,
    * reference `setup.sh:92`). The scan is a bare parquet read: Catalyst
    * prunes columns/partitions; at scale this is the JDBC/parquet backfill
    * leg of snapshot-then-stream.
    */
  val srcSnapshotScan: Q = Q.sql(
    "src_snapshot_scan",
    "SELECT * FROM customer ORDER BY c_custkey NULLS FIRST")

  /** JDBC snapshot round-trip (the reference's production leg: table →
    * SQL database → partitioned snapshot read, reference `setup.sh:92`):
    * customer is written into embedded Derby over JDBC, then read back
    * with a range-partitioned JDBC scan. The oracle is the plain table —
    * the round-trip must be value-exact, hash-checked like any other op.
    */
  val srcJdbcSnapshot: Q = Q(
    "src_jdbc_snapshot",
    (s, d) => {
      val url = "jdbc:derby:memory:graftsnap;create=true"
      val c = Tables.read(s, d, "customer")
      c.write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "customer_snap").save()
      val (lo, hi) = {
        val r = c.agg(min(col("c_custkey")), max(col("c_custkey"))).head()
        (r.getLong(0), r.getLong(1))
      }
      graft.sources.JdbcSnapshot
        .partitioned(s, url, "customer_snap", "c_custkey", lo, hi + 1, 8)
        .orderBy(asc_nulls_first("c_custkey"))
    },
    Some("SELECT * FROM customer ORDER BY c_custkey NULLS FIRST"))

  /** Typed field extraction from a JSON record payload (the JsonConverter
    * surface, reference `setup.sh:96-99`). `get_json_object` is codegen'd.
    */
  val srcJsonPayloadExtract: Q = Q(
    "src_json_payload_extract",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
        .orderBy(asc_nulls_first("event_id")),
    Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
            FROM events ORDER BY event_id NULLS FIRST"""))

  /** Debezium envelope unwrap (`ExtractNewRecordState` SMT, reference
    * `setup.sh:105-107`): build envelope JSON strings from `events` rows,
    * then decode via the real CdcEnvelope path. Non-SQL-expressible → no
    * oracle; unit-tested against the literal captured messages
    * (reference `README.md:127-129`).
    */
  /** Payload row schema + envelope-JSON synthesis shared by the unwrap op
    * and its dead-letter sibling ([[srcCdcQuarantine]]).
    */
  private val cdcEventsPayload = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("updated_at", LongType)))

  private def cdcEnvelopeJson: org.apache.spark.sql.Column =
    concat(
      lit("""{"schema":{"type":"struct","fields":[{"type":"int64","optional":false,"field":"event_id"}],"name":"postgres_cdc.iman.events.Value"},"payload":"""),
      to_json(struct(
        col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("updated_at"))),
      lit("}"))

  val srcCdcEnvelopeUnwrap: Q = Q(
    "src_cdc_envelope_unwrap",
    (s, d) => {
      val raw = Tables.read(s, d, "events")
        .select(cdcEnvelopeJson.as("value"))
      // the MicroTimestamp contract (int64 µs → TIMESTAMP) is exercised by
      // the unwrap and spec-pinned; the registered output renders the µs
      // count back out (unix_micros is exact) so the cross-engine hash
      // never depends on timestamp canonicalization
      CdcEnvelope.unwrap(raw, col("value"), cdcEventsPayload, Seq("updated_at"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("updated_at")).as("updated_at_us"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""SELECT event_id, user_id, event_type, epoch_us(ts) AS updated_at_us
            FROM events ORDER BY event_id NULLS FIRST"""))

  /** CDC dead-letter quarantine (`errors.tolerance=all` +
    * `errors.log.enable=true`, reference `setup.sh:145-148`): the CDC leg
    * of the [[srcCsvQuarantine]] contract — a malformed envelope must
    * neither kill the batch nor silently decay to NULL columns; it lands
    * in a quarantine table with its RAW wire text intact for replay.
    *
    * The op synthesizes the events envelope feed, then deterministically
    * injects the three failure classes a real wire shows: event_id ≡ 0
    * (mod 97) → the JSON is truncated mid-schema (syntactically broken),
    * ≡ 1 → valid JSON with the payload field absent (shape drift), ≡ 2 →
    * a NULL wire value (Debezium tombstone — silently dropped per
    * `transforms.unwrap.drop.tombstones=true`, `setup.sh:107`). Routing
    * is [[CdcEnvelope.unwrapTolerant]]'s, over the same decode schema.
    * Output is a per-status audit of the messages: status, message count,
    * and (good leg) the event_id sum as an equality probe. It counts
    * messages, while `unwrapTolerant`'s quarantine leg holds one row per
    * distinct `raw`: here every truncated message shares one 40-character
    * prefix and every payload-less one is the same literal, so a
    * dead-letter table would hold 2 rows where the audit counts about
    * N/97 of each kind.
    * Fully deterministic → driver rows-check + golden fixture spec
    * (cross-engine JSON-error semantics differ, so no DuckDB oracle).
    * Scale: corrupt detection is a per-row expression, the audit is one
    * map-side-combinable hash agg; quarantine rows shuffle only their
    * raw text, never the decoded corpus.
    */
  val srcCdcQuarantine: Q = Q(
    "src_cdc_quarantine",
    (s, d) => {
      val wire = Tables.read(s, d, "events").select(
        // % not pmod: Spark % follows the dividend's sign like DuckDB's %,
        // so the corruption class matches the oracle even for negative ids
        when(col("event_id") % lit(97) === 0,
          substring(cdcEnvelopeJson, 1, 40))
          .when(col("event_id") % lit(97) === 1,
            lit("""{"schema":null,"payload_dropped":true}"""))
          .when(col("event_id") % lit(97) === 2,
            lit(null).cast(StringType))
          .otherwise(cdcEnvelopeJson).as("value"))
      // Single-pass audit: the same classification unwrapTolerant's two
      // legs apply (null wire = tombstone → dropped; null env →
      // unparseable vs payload-less via try_parse_json; else ok), folded
      // in one map-side-combinable hash agg that counts messages (the
      // quarantine leg keeps one row per distinct raw text). unwrapTolerant
      // keeps its legs as rows for the sinks, from a per-batch persisted
      // decode; an audit over the whole corpus needs neither the rows nor
      // the persist. The fixture spec pins this audit to the identical
      // routing.
      wire.filter(col("value").isNotNull)
        .select(col("value"),
          from_json(col("value"),
            CdcEnvelope.decodeSchema(cdcEventsPayload)).as("env"))
        .select(
          when(col("env.payload").isNotNull, lit("ok"))
            .when(try_parse_json(col("value")).isNull, lit("unparseable_json"))
            .otherwise(lit("missing_payload")).as("status"),
          col("env.payload.event_id").as("eid"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("eid")).cast(LongType).as("id_checksum"))
        .orderBy(asc_nulls_first("status"))
    },
    // The corruption classes are deterministic BY CONSTRUCTION
    // (event_id mod 97), so the oracle derives the expected audit from
    // the events table with no JSON machinery at all — gating that the
    // Spark decode path routes every wire record to exactly its
    // constructed class and loses none.
    Some("""SELECT CASE WHEN event_id % 97 = 0 THEN 'unparseable_json'
                        WHEN event_id % 97 = 1 THEN 'missing_payload'
                        ELSE 'ok' END AS status,
                   count(*) AS n,
                   CAST(sum(CASE WHEN event_id % 97 NOT IN (0, 1)
                                 THEN event_id END) AS BIGINT) AS id_checksum
            FROM events WHERE event_id % 97 <> 2
            GROUP BY 1 ORDER BY status NULLS FIRST"""))

  /** Continuous keyed-record stream from earliest offsets (reference
    * `setup.sh:144`): the source leg auto-selects — a live
    * `format("kafka")` read when a broker is configured
    * ([[graft.streaming.StreamRunner.kafkaBootstrap]]; gated integration
    * spec), the file-streaming replay otherwise (this offline harness,
    * byte-identical to the pre-seam behavior) — run to completion.
    */
  val srcKafkaStream: Q = Q(
    "src_kafka_stream",
    (s, d) => {
      val streamed = StreamRunner.streamTableOrKafka(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      StreamRunner.runToTable(streamed, "append").orderBy(asc_nulls_first("event_id"))
    },
    Some("""SELECT event_id, user_id, event_type
            FROM events ORDER BY event_id NULLS FIRST"""))

  /** Topic routing by regex (`RegexRouter` `^postgres_cdc\.iman\.(.*)$` → $1,
    * reference `setup.sh:119-122`), exercised over synthesized topic names.
    */
  val opTopicRouteRegex: Q = Q(
    "op_topic_route_regex",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("postgres_cdc.iman."), col("source")).as("topic"))
        .withColumn("route",
          regexp_extract(col("topic"), "^postgres_cdc\\.iman\\.(.*)$", 1))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""SELECT doc_id, 'postgres_cdc.iman.' || source AS topic,
            regexp_extract('postgres_cdc.iman.' || source, '^postgres_cdc\.iman\.(.*)$', 1) AS route
            FROM documents ORDER BY doc_id NULLS FIRST"""))

  /** ReplacingMergeTree state read: latest event per user_id
    * (reference `setup.sh:63,136-137`), deterministic tiebreak event_id desc.
    */
  val sinkUpsertLatestByKey: Q = Q(
    "sink_upsert_latest_by_key",
    (s, d) => {
      val ev = Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), expr("ts div 1000").as("ts_us"))
      Upsert.latestByKey(ev, Seq(col("user_id")), Seq(col("ts_us"), col("event_id")))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH ranked AS (
              SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events)
            SELECT user_id, event_id, event_type, value, ts_us
            FROM ranked WHERE rn = 1 ORDER BY user_id NULLS FIRST"""))

  /** CDC op-log apply with the reference's delete semantics (deletes never
    * reach the sink, reference `setup.sh:94,107,192-197`). Golden-replay
    * tested; here exercised over a synthesized op-log. Rows-only check.
    */
  val sinkCdcApplyUpsertOnly: Q = Q(
    "sink_cdc_apply_upsert_only",
    (s, d) => {
      // version = (µs, event_id), the same portable ordering as the
      // oracled delete-propagating sibling: raw nanos are Spark-only
      // (engines truncate the column differently), and the event_id
      // tiebreak decides equal-µs collisions identically everywhere
      val opLog = Tables.read(s, d, "events").select(
        col("user_id"), col("event_id"), col("value"),
        expr("ts div 1000").as("ts_us"),
        when(col("event_type") === "error", lit("d")).otherwise(lit("u")).as("op"))
      Upsert.applyCdc(opLog, col("op"), Seq(col("user_id")),
          Seq(col("ts_us"), col("event_id")))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH log AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                                CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
                         FROM events),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
                       FROM log WHERE op <> 'd')
            SELECT user_id, event_id, value, ts_us, op
            FROM ranked WHERE rn = 1 ORDER BY user_id NULLS FIRST"""))

  /** CDC op-log apply WITH delete propagation — the semantic the reference
    * observably never provides (`setup.sh:192-197` deletes a row and probes
    * the sink, but `drop.tombstones` means the delete can never arrive): a
    * key whose LATEST op is a delete is absent from the final state; a
    * delete overtaken by a newer upsert is resurrected. Same synthesized
    * op-log as `sink_cdc_apply_upsert_only` (event_type='error' ⇒ op='d'),
    * same one key-window shuffle; µs timestamps (`ts div 1000` ↔ DuckDB
    * `epoch_us`) so the version order is oracle-portable.
    */
  val sinkCdcApplyWithDeletes: Q = Q(
    "sink_cdc_apply_with_deletes",
    (s, d) => {
      val opLog = Tables.read(s, d, "events").select(
        col("user_id"), col("event_id"), col("value"),
        expr("ts div 1000").as("ts_us"),
        when(col("event_type") === "error", lit("d")).otherwise(lit("u")).as("op"))
      Upsert.applyCdcWithDeletes(opLog, col("op"), Seq(col("user_id")),
          Seq(col("ts_us"), col("event_id")))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH log AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                                CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
                         FROM events),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
                       FROM log)
            SELECT user_id, event_id, value, ts_us, op
            FROM ranked WHERE rn = 1 AND op <> 'd'
            ORDER BY user_id NULLS FIRST"""))

  /** Schema introspection + PG→CH DDL synthesis (reference `setup.sh:36-66`),
    * swept over EVERY table like the reference's for-loop over
    * `information_schema.tables` (`setup.sh:29-34`): one DDL row per corpus
    * table from its live Spark schema, plus the reference's `iman.users`
    * table rendered from Postgres column types (golden output unit-tested
    * against reference `README.md:108`). Driver-only metadata work — free at
    * any data scale.
    */
  val opSchemaDdlTypemap: Q = Q(
    "op_schema_ddl_typemap",
    (s, d) => {
      val usersDdl = TypeMap.renderDdl("iman", "users", Seq(
        "user_id" -> "integer", "username" -> "character varying",
        "account_type" -> "character varying",
        "updated_at" -> "timestamp without time zone",
        "created_at" -> "timestamp without time zone"))
      val rows = Tables.all.map { t =>
        ("graft", t, TypeMap.renderDdlFromSpark("graft", t, Tables.read(s, d, t).schema))
      } :+ (("iman", "users", usersDdl))
      import s.implicits._
      rows.toDF("schema_name", "table_name", "ddl")
        .orderBy(asc_nulls_first("schema_name"), asc_nulls_first("table_name"))
    },
    None)

  /** Catalog-driven multi-table schema-sync fan-out — the form the
    * reference actually EXECUTES (`setup.sh:29-34`): it does not know its
    * table list, it discovers it from `information_schema.tables` and
    * loops the DDL generator over whatever it finds. Spark analogue: the
    * corpus tables are registered in the session catalog, then the op
    * DISCOVERS them via `spark.catalog.listTables` (never a hard-coded
    * list — [[opSchemaDdlTypemap]] keeps the static-inventory form) and
    * renders one sink DDL per discovered table from its live schema.
    * Catalog metadata is O(#tables) driver state — free at any data
    * scale. DDL text is engine-specific → rows-check + a spec pinning
    * discovery-equals-inventory.
    */
  val opSchemaDdlFanout: Q = Q(
    "op_schema_ddl_fanout",
    (s, d) => {
      val prefix = "graft_cat_"
      Tables.all.foreach(t =>
        Tables.read(s, d, t).createOrReplaceTempView(s"$prefix$t"))
      val discovered = s.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith(prefix)).sorted
      val rows = discovered.toSeq.map { v =>
        val t = v.stripPrefix(prefix)
        ("graft", t, TypeMap.renderDdlFromSpark("graft", t, s.table(v).schema))
      }
      import s.implicits._
      rows.toDF("schema_name", "table_name", "ddl")
        .orderBy(asc_nulls_first("schema_name"), asc_nulls_first("table_name"))
    },
    None)

  /** One day-partitioned copy of `events` per (JVM, corpus) — reused by
    * every rep of [[opDppStarJoin]] (writing ~31 partitions per bench
    * repetition would be pure write-path noise; the layout is a pure
    * function of the corpus, exactly the [[graft.streaming.StreamingOps]]
    * late-split discipline).
    */
  private def dppFactDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "dpp_fact") {
      val dir = graft.util.TempDirs.create("graft_dpp").resolve("fact").toString
      Tables.read(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .write.partitionBy("day").parquet(dir)
      dir
    }

  /** Dynamic partition pruning — the star-join runtime optimization that
    * static pruning ([[srcPartitionedRoundtrip]]) cannot express: the
    * fact side is partitioned by day, the dim side's filter (day ≡ 3
    * mod 7) is only known at runtime through the join, and Catalyst
    * injects a dynamic pruning subquery into the fact scan's partition
    * filters so only the matching ~1/7 of partitions are read at all —
    * THE optimization that makes a 100 TB star join read 1/7 of 100 TB
    * instead of all of it. PlanSpec pins `dynamicpruning` in the scan;
    * the oracle derives the same filtered aggregate relationally.
    */
  val opDppStarJoin: Q = Q(
    "op_dpp_star_join",
    (s, d) => {
      val fact = s.read.parquet(dppFactDir(s, d))
      val dim = Tables.read(s, d, "events")
        .select(expr("(ts div 1000) div 86400000000").as("day")).distinct()
        .filter(col("day") % lit(7) === 3) // % matches DuckDB sign semantics
        .withColumn("day_label", concat(lit("day_"), col("day")))
      fact.join(broadcast(dim), "day")
        .groupBy(col("day"), col("day_label"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
        .orderBy(asc_nulls_first("day"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, value
                       FROM events),
            dim AS (SELECT DISTINCT day, 'day_' || day AS day_label
                    FROM e WHERE day % 7 = 3)
            SELECT day, day_label, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM e JOIN dim USING (day)
            GROUP BY day, day_label ORDER BY day NULLS FIRST"""))

  /** ANALYZE-style table profile — the statistics pass every warehouse
    * sync runs after landing a table (and what a CBO consumes): per
    * column, the row count, NULL count and exact distinct count, derived
    * from the LIVE schema (works on any table, like the DDL generator).
    * Plan shape: ONE corpus scan — all per-column null-sums and
    * count-distincts ride a single Aggregate (Spark plans the multi-
    * distinct via one Expand: rows × (n_distinct_cols+1) through the
    * shuffle, each carrying one column — the standard plan, vs one
    * scan per column), then `stack` pivots the single stats row to
    * long form. min/max are deliberately omitted: cross-engine numeric→
    * string rendering differs, and the CBO-relevant cardinalities are
    * the integers. Oracle = per-column UNION ALL of the same integers.
    */
  val opTableProfile: Q = Q(
    "op_table_profile",
    (s, d) => {
      val t = Tables.read(s, d, "orders")
      val cols = t.schema.fields.map(_.name).sorted
      val statCols = cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c")))
      val one = t.agg(count(lit(1)).as("__nr"), statCols: _*)
      val stackArgs = cols.map(c => s"'$c', __nn_$c, __nd_$c").mkString(", ")
      one.select(col("__nr").as("n_rows"),
          expr(s"stack(${cols.length}, $stackArgs) AS (column_name, n_nulls, n_distinct)"))
        .select(col("column_name"), col("n_rows"),
          col("n_nulls").cast(LongType).as("n_nulls"),
          col("n_distinct").cast(LongType).as("n_distinct"))
        .orderBy(asc_nulls_first("column_name"))
    },
    Some {
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      cols.map(c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
            FROM orders""").mkString("", " UNION ALL ", " ORDER BY column_name NULLS FIRST")
    })

  /** Row inserts into a table (reference `setup.sh:155-161`): real
    * write-append-read cycle through the parquet sink. Rows-only check.
    */
  val opInsertAppend: Q = Q(
    "op_insert_append",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_append").toString
      val c = Tables.read(s, d, "customer")
      c.filter(col("c_custkey") <= 50).write.mode("overwrite").parquet(dir)
      c.filter(col("c_custkey") > 50 && col("c_custkey") <= 100)
        .write.mode("append").parquet(dir)
      s.read.parquet(dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n
            FROM customer WHERE c_custkey <= 100
            GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST"""))

  /** CSV source/sink round-trip: write a table out as headered CSV, read
    * it back with an EXPLICIT schema (schema inference is a full extra
    * scan and non-deterministic under drift — never at 100 TB), then
    * aggregate. The oracle runs the same aggregate on the ORIGINAL
    * parquet, so a pass proves byte-level format fidelity, not just
    * plumbing. Exact-typed columns only — CSV is not a float-safe
    * transport.
    */
  val srcCsvRoundtrip: Q = Q(
    "src_csv_roundtrip",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_csv").toString
      Tables.read(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
        .write.mode("overwrite").option("header", "true").csv(dir)
      s.read.option("header", "true")
        .schema("c_custkey BIGINT, c_nationkey INT, c_mktsegment STRING")
        .csv(dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
        .orderBy(asc_nulls_first("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
                   min(c_custkey) AS min_key, max(c_custkey) AS max_key
            FROM customer GROUP BY c_mktsegment
            ORDER BY c_mktsegment NULLS FIRST"""))

  /** JSON-lines source/sink round-trip — same fidelity contract as the
    * CSV op (explicit schema on read, oracle on the original parquet).
    * JSONL is the interchange format of most public text corpora, so the
    * round-trip is the ingest path of a real training pipeline.
    */
  val srcJsonlRoundtrip: Q = Q(
    "src_jsonl_roundtrip",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_jsonl").toString
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").json(dir)
      s.read
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .json(dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(asc_nulls_first("lang"))
    },
    Some("""SELECT lang, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY lang ORDER BY lang NULLS FIRST"""))

  /** SCD-type-2 historization of a change stream — the OTHER standard CDC
    * sink shape next to `sink_upsert_latest_by_key`: instead of keeping
    * only the latest row per key, every change becomes a validity
    * interval [valid_from, valid_to) with an `is_current` flag, so the
    * warehouse can answer "what was the value at time T". One key-ordered
    * window (`lead`) over the change stream — a single shuffle keyed by
    * the CDC key, exact integer timestamps throughout.
    */
  val opScd2Intervals: Q = Q(
    "op_scd2_intervals",
    (s, d) => Upsert.scd2Intervals(Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          expr("ts div 1000").as("ts_us")))
      .orderBy(asc_nulls_first("user_id"), asc("valid_from_us"), asc("event_id")),
    Some("""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
                       FROM events)
            SELECT user_id, event_id, value,
                   ts_us AS valid_from_us,
                   lead(ts_us) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS valid_to_us,
                   lead(ts_us) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) IS NULL AS is_current
            FROM e
            ORDER BY user_id NULLS FIRST, valid_from_us, event_id"""))

  /** Incremental SCD2 maintenance — the APPLY half [[opScd2Intervals]]
    * leaves implicit: a historized dimension exists as of a cutoff
    * (mid-window: min day + 15), then a late delta batch (the rows past
    * the cutoff) is applied WITHOUT rebuilding history. Keys absent from
    * the delta pass through untouched; for touched keys, closed
    * intervals pass through as-is and only the OPEN (is_current) row
    * joins the delta in a re-windowing — so apply cost ∝ delta keys
    * (one semi/anti key join + a window over touched-current ∪ delta),
    * never dimension size, the same delta discipline as the MV
    * refreshes. At 100 TB the pass-throughs are partition/file
    * references, not rewrites. The oracle is the FULL-history SCD2
    * window over all events, so the hash gate proves incrementally
    * applied state ≡ complete rebuild — the invariant every warehouse
    * SCD2 merge job must hold.
    */
  val sinkScd2Apply: Q = Q(
    "sink_scd2_apply",
    (s, d) => {
      val ev = Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          expr("ts div 1000").as("ts_us"),
          expr("(ts div 1000) div 86400000000").as("day"))
      // O(1) driver scalar, reproduced by the oracle's own min-day agg
      val cut = ev.agg(min(col("day"))).head.getLong(0) + 15L
      val base = Upsert.scd2Intervals(ev.filter(col("day") < cut)
        .select(col("user_id"), col("event_id"), col("value"), col("ts_us")))
        .truncated // the apply references base three ways — cut the replay
      val delta = ev.filter(col("day") >= cut)
        .select(col("user_id"), col("event_id"), col("value"), col("ts_us"))
        .truncated // referenced by the touched-key list AND the re-window
      // NULL-SAFE key routing (<=>): the SCD2 window partitions NULL keys
      // into ONE partition, so a NULL-keyed delta must close the
      // NULL-keyed base current row exactly like any other key — a plain
      // equi-join would silently route NULL base rows to "untouched" and
      // leave two open intervals, diverging from the full rebuild
      val touched = delta.select(col("user_id").as("t_user_id")).distinct()
      val untouched = base.join(touched,
        col("user_id") <=> col("t_user_id"), "left_anti")
      val touchedBase = base.join(touched,
        col("user_id") <=> col("t_user_id"), "left_semi")
      val closed = touchedBase.filter(!col("is_current"))
      val reopened = touchedBase.filter(col("is_current"))
        .select(col("user_id"), col("event_id"), col("value"),
          col("valid_from_us").as("ts_us"))
      untouched.unionByName(closed)
        .unionByName(Upsert.scd2Intervals(reopened.unionByName(delta)))
        .orderBy(asc_nulls_first("user_id"), asc("valid_from_us"), asc("event_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
                       FROM events)
            SELECT user_id, event_id, value,
                   ts_us AS valid_from_us,
                   lead(ts_us) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS valid_to_us,
                   lead(ts_us) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) IS NULL AS is_current
            FROM e
            ORDER BY user_id NULLS FIRST, valid_from_us, event_id"""))

  /** Hive-style partitioned write + partition-pruned read-back: events
    * written `partitionBy(event_type)`, then ONE partition read with a
    * filter that must prune at the source (the same mechanism the IVF
    * index rides; LlmOpsSpec proves pruning there via scan metrics). The
    * oracle aggregates the original parquet with the same predicate —
    * passing proves the partition layout preserved every row of the
    * selected partition.
    */
  val srcPartitionedRoundtrip: Q = Q(
    "src_partitioned_roundtrip",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_part").toString
      Tables.read(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      s.read.parquet(dir)
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("click_value"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""SELECT user_id, count(*) AS n_clicks,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
            FROM events WHERE event_type = 'click'
            GROUP BY user_id ORDER BY user_id NULLS FIRST"""))

  /** ORC source/sink round-trip — the third columnar interchange format
    * next to parquet and the text formats above (ORC is Spark-native; the
    * warehouse-migration ingest path). Same fidelity contract as the
    * CSV/JSONL ops: write, read back, aggregate; the oracle runs the same
    * aggregate over the ORIGINAL parquet, so passing proves the ORC
    * round-trip preserved every row and value. Columnar-to-columnar means
    * predicate pushdown and column pruning survive on the read-back side
    * exactly as on parquet.
    */
  val srcOrcRoundtrip: Q = Q(
    "src_orc_roundtrip",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_orc").toString
      Tables.read(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"))
        .orderBy(asc_nulls_first("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
            FROM lineitem GROUP BY l_returnflag
            ORDER BY l_returnflag NULLS FIRST"""))

  /** XML source/sink round-trip — the fourth interchange format next to
    * CSV/JSONL/ORC, via Spark 4's NATIVE xml data source (no external
    * package; reader and writer ship in spark-sql). Same fidelity
    * contract as the siblings: write each row as a `<doc>` element,
    * read back with an EXPLICIT schema (XML schema inference is a full
    * extra scan — never at 100 TB), aggregate, and oracle the same
    * aggregate over the ORIGINAL parquet — a pass proves value-level
    * round-trip fidelity through the XML text encoding (including
    * entity escaping), not just plumbing. Exact-typed columns only,
    * like the CSV op: XML is not a float-safe transport.
    */
  val srcXmlRoundtrip: Q = Q(
    "src_xml_roundtrip",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_xml").toString
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").option("rowTag", "doc").xml(dir)
      s.read.option("rowTag", "doc")
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .xml(dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(asc_nulls_first("source"))
    },
    Some("""SELECT source, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY source ORDER BY source NULLS FIRST"""))

  /** Raw-lines (text datasource) round-trip — the fifth interchange
    * format: one record per LINE, fields tab-joined (the one-doc-per-line
    * shape raw web-corpus dumps ship in, before anything imposes CSV or
    * JSON structure). Write via the single-column `text` sink, read back
    * with `spark.read.text` + an explicit split/cast parse (the
    * parse-on-read every raw-lines ingest does); the oracle aggregates
    * the ORIGINAL parquet, so a pass proves the line encoding + parse
    * round-tripped every field. Corpus text is newline- and tab-free by
    * construction (space-joined tokens), which is exactly the
    * precondition this format requires — stated here because at 100 TB
    * the guard is a quarantine filter upstream
    * ([[srcCsvQuarantine]]-style), not an assumption.
    */
  val srcTextRoundtrip: Q = Q(
    "src_text_roundtrip",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_text").toString
      Tables.read(s, d, "documents")
        .select(concat_ws("\t", col("doc_id"), col("lang"), col("text"))
          .as("value"))
        .write.mode("overwrite").text(dir)
      s.read.text(dir)
        .select(split(col("value"), "\t").as("f"))
        .select(element_at(col("f"), 1).cast(LongType).as("doc_id"),
          element_at(col("f"), 2).as("lang"),
          element_at(col("f"), 3).as("text"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).as("total_text_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(asc_nulls_first("lang"))
    },
    Some("""SELECT lang, count(*) AS n,
                   CAST(sum(len(text)) AS BIGINT) AS total_text_chars,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY lang ORDER BY lang NULLS FIRST"""))

  /** Metadata-only partition counts — the `count(*)`-from-footers
    * optimization every lakehouse runtime applies to unfiltered counts
    * (Spark's own `LocalLimit 0`-style metadata answers, Delta/Iceberg
    * stats-based counts): write the corpus partitioned by `lang`, then
    * answer "rows per partition" from parquet FOOTER row counts alone —
    * zero data pages read, cost O(#files) metadata probes regardless of
    * table bytes (the same budget class as the zone-map ops; at cluster
    * scale the footer loop distributes over the path list). The oracle
    * recomputes the counts relationally from the source table, so the
    * hash gate proves the metadata answer exactly equals the data
    * answer — the invariant the optimization rests on. Round18bSpec
    * additionally pins that the footer path launches NO Spark job.
    */
  val opCountMetadataOnly: Q = Q(
    "op_count_metadata_only",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_meta_count").toString
      Tables.read(s, d, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(dir)
      metadataPartitionCounts(s, dir, "lang")
    },
    Some("""SELECT lang, count(*) AS n_rows
            FROM documents GROUP BY lang ORDER BY lang NULLS FIRST"""))

  /** Footer-count engine (unit-test seam): per `key=value` partition dir
    * of a partitioned parquet table, the row count summed from footers.
    */
  private[operators] def metadataPartitionCounts(
      s: SparkSession, dir: String, key: String): DataFrame = {
    import s.implicits._
    graft.util.Fs.listChildDirs(s, dir, s"$key=")
      .map { case (name, path) =>
        val value = name.substring(key.length + 1)
        val files = graft.util.Fs.listPartFiles(s, path)
        (value, graft.util.Fs.footerRowCount(s, files))
      }
      .toDF(key, "n_rows")
      .orderBy(asc_nulls_first(key))
  }

  /** Merge-on-read EQUALITY DELETES (Iceberg equality-delete files /
    * Delta deletion-vector semantics at key granularity) — the OTHER
    * delete strategy next to the copy-on-write rewrites the compaction
    * ops implement: deletes land as a small KEY FILE next to the
    * immutable base data, and every read applies them as an anti-join —
    * no base file is rewritten, so a delete costs O(deleted keys)
    * regardless of table size, and the read-side anti-join build side
    * is the delete file (broadcast-sized until compaction folds it in,
    * exactly the lakehouse maintenance cycle `sink_compact_merge_dedup`
    * closes). The oracle states the post-delete table relationally, so
    * the hash gate proves read-time apply ≡ physical delete.
    */
  val sinkEqualityDeleteRead: Q = Q(
    "sink_equality_delete_read",
    (s, d) => {
      val base = graft.util.TempDirs.create("graft_mor_base").toString
      val dv = graft.util.TempDirs.create("graft_mor_dv").toString
      val docs = Tables.read(s, d, "documents")
      docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(base)
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
        .write.mode("overwrite").parquet(dv)
      s.read.parquet(base)
        .join(broadcast(s.read.parquet(dv)), Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(asc_nulls_first("lang"))
    },
    Some("""SELECT lang, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents WHERE doc_id % 7 <> 3
            GROUP BY lang ORDER BY lang NULLS FIRST"""))

  /** Bit-interleave (Morton / Z-order) of k bucketed dimensions: column
    * j's bit i lands at position i·k + j. Input columns must be
    * non-negative and fit in `bits` bits; the interleaved value needs
    * k·`bits` ≤ 62 bits to stay a positive long.
    */
  private[operators] def zInterleaveK(cols: Seq[Column], bits: Int): Column = {
    val k = cols.length
    require(k * bits <= 62, s"z-value needs $k*$bits bits — over a signed long")
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order (Morton-curve) data layout + 2-D-pruned read-back — the
    * multi-dimensional generalization of `src_partitioned_roundtrip`'s
    * single-key layout, i.e. what a warehouse's OPTIMIZE ZORDER does:
    * a single-column sort gives parquet min/max footers that prune on ONE
    * dimension only, while range-partitioning + sorting by the
    * interleaved z-value keeps files tight in BOTH dimensions, so a 2-D
    * box predicate skips most row groups on both axes at once
    * (ZorderSpec proves it via the scan's numOutputRows against a
    * 1-D-sorted control layout). Pipeline: one tiny exact min/max stats
    * pass (the stats job every layout optimizer runs — four scalars to
    * the driver), integer-exact normalization of each dimension to
    * `bits` buckets, bit interleave, `repartitionByRange` on z (one
    * sampled range shuffle) + in-partition sort. At 100 TB the write is
    * the same one shuffle, and file count scales with data; the oracle
    * aggregates the ORIGINAL table under the same box predicate, proving
    * the re-layout preserved every row.
    */
  val opZorderLayout: Q = Q(
    "op_zorder_layout",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_zorder").toString
      zorderWrite(Tables.read(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_returnflag")),
        "l_partkey", "l_suppkey", dir)
      s.read.parquet(dir)
        .filter(col("l_partkey").between(10, 50) &&
          col("l_suppkey").between(2, 8))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"))
        .orderBy(asc_nulls_first("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
            FROM lineitem
            WHERE l_partkey BETWEEN 10 AND 50 AND l_suppkey BETWEEN 2 AND 8
            GROUP BY l_returnflag
            ORDER BY l_returnflag NULLS FIRST"""))

  /** Schema-merge-on-read round-trip: two partitions written with DRIFTED
    * schemas (the newer one adds a column — the exact shape a CDC
    * auto-evolve pipeline leaves on disk, `sources/SchemaEvolution`'s
    * write-side counterpart), read back with `mergeSchema` so the old
    * partition surfaces the new column as NULL. The oracle aggregates the
    * ORIGINAL table emulating the null pattern, so a pass proves the
    * merged read preserved every row and nulled exactly the missing
    * column. Scale note: mergeSchema reconciles FOOTERS (one metadata
    * task per file), not data — the scan itself stays one pass with
    * pushdown intact.
    */
  val srcSchemaMergeRoundtrip: Q = Q(
    "src_schema_merge_roundtrip",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_schema_merge").toString
      val c = Tables.read(s, d, "customer")
      c.filter(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$dir/gen=1")
      c.filter(col("c_custkey") > 500)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
        .write.mode("overwrite").parquet(s"$dir/gen=2")
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          count(col("c_nationkey")).as("n_with_nation"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
        .orderBy(asc_nulls_first("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
                   count(CASE WHEN c_custkey > 500 THEN c_nationkey END)
                     AS n_with_nation,
                   min(c_custkey) AS min_key, max(c_custkey) AS max_key
            FROM customer GROUP BY c_mktsegment
            ORDER BY c_mktsegment NULLS FIRST"""))

  /** 3-D Z-order layout + explicit z-RANGE pruning — the k-dimensional
    * generalization of `op_zorder_layout`, with the pruning contract made
    * first-class: the layout keeps its `_z` column, and the reader turns
    * the 3-D box into z-interval predicates ([[zBoxPredicate]] over
    * [[zIntervals]]'s z-prefix decomposition) conjoined with the exact
    * natural-column residuals. Row-group skipping is then driven by the
    * SORTED `_z` column's own min/max footers — exact by construction —
    * instead of relying on the natural columns' min/max happening to stay
    * tight under interleaving; the z intervals may over-approximate (gap
    * bridging), the residuals keep the answer exact. The oracle
    * aggregates the ORIGINAL table under the same box, proving the
    * re-layout + two-stage predicate preserved every row.
    */
  val opZorder3Layout: Q = Q(
    "op_zorder3_layout",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_zorder3").toString
      val bits = 7
      val zCols = Seq("l_partkey", "l_suppkey", "l_linenumber")
      val ranges = zorderWriteK(Tables.read(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_linenumber"), col("l_quantity"), col("l_returnflag")),
        zCols, dir, bits, keepZ = true)
      val box = Seq((10L, 50L), (2L, 8L), (1L, 3L))
      s.read.parquet(dir)
        .filter(zBoxPredicate(box, ranges, bits) &&
          col("l_partkey").between(10, 50) &&
          col("l_suppkey").between(2, 8) &&
          col("l_linenumber").between(1, 3))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"))
        .orderBy(asc_nulls_first("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
            FROM lineitem
            WHERE l_partkey BETWEEN 10 AND 50 AND l_suppkey BETWEEN 2 AND 8
              AND l_linenumber BETWEEN 1 AND 3
            GROUP BY l_returnflag
            ORDER BY l_returnflag NULLS FIRST"""))

  /** Layout engine (unit-test seam): z-orders `df` on k integer columns
    * into `numFiles` range-partitioned, internally-sorted parquet files
    * under `dir`. Returns the per-dimension exact (min, max) from the
    * stats pass — the normalization contract a reader needs to build
    * z-interval predicates ([[zBoxPredicate]]). `keepZ` keeps the `_z`
    * column in the files so z-range pruning works off `_z`'s own
    * row-group min/max footers (the written data is `_z`-sorted, so those
    * footers bracket each row group's z range EXACTLY — pruning no longer
    * relies on incidental min/max correlation of the natural columns).
    * Bucketing is exact integer arithmetic (`div`, not double `/`+floor)
    * clamped to the top bucket, so a value at the dimension max can never
    * overflow into bit `bits` and alias near z=0.
    */
  private[operators] def zorderWriteK(df: DataFrame, zCols: Seq[String],
                                      dir: String, bits: Int = 12,
                                      numFiles: Int = 16,
                                      keepZ: Boolean = false): Seq[(Long, Long)] = {
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c)).cast(LongType), max(col(c)).cast(LongType)))
    val Array(stats) = df.agg(aggs.head, aggs.tail: _*).collect()
    zCols.indices.foreach(j => require(!stats.isNullAt(2 * j),
      s"cannot z-order an empty input — min(${zCols(j)}) is NULL"))
    val ranges = zCols.indices.map(j => (stats.getLong(2 * j), stats.getLong(2 * j + 1)))
    // bucketCol/bucketOf compute (v − lo)·2^bits in Long: a dimension
    // span ≥ 2^(63−bits) would overflow and silently scramble the layout
    // (the k·bits ≤ 62 require below guards the INTERLEAVED output, not
    // this input arithmetic) — fail fast instead
    ranges.zip(zCols).foreach { case ((lo, hi), c) =>
      require(hi - lo >= 0 && hi - lo < (1L << (63 - bits)),
        s"z-order dimension `$c` span ${hi}−${lo} exceeds 2^${63 - bits}−1; " +
          s"pre-scale the column or lower bits=$bits") }
    val withZ = df.withColumn("_z", zInterleaveK(
        zCols.zip(ranges).map { case (c, (lo, hi)) => bucketCol(c, lo, hi, bits) },
        bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
    (if (keepZ) withZ else withZ.drop("_z"))
      .write.mode("overwrite").parquet(dir)
    ranges
  }

  /** 2-D seam kept for the existing op/spec call sites. */
  private[operators] def zorderWrite(df: DataFrame, xCol: String, yCol: String,
                                     dir: String, bits: Int = 12,
                                     numFiles: Int = 16): Unit =
    zorderWriteK(df, Seq(xCol, yCol), dir, bits, numFiles)

  /** Exact integer bucket of `name` into [0, 2^bits): (v − lo)·2^bits div
    * (hi − lo + 1), clamped to the top bucket.
    */
  private def bucketCol(name: String, lo: Long, hi: Long, bits: Int): Column = {
    val nb = 1L << bits
    least(
      expr(s"((cast(`$name` as bigint) - ${lo}L) * ${nb}L) div ${hi - lo + 1}L"),
      lit(nb - 1))
  }

  /** Driver-side mirror of [[bucketCol]] (exact same integer arithmetic,
    * so reader-built predicates land in the writer's buckets).
    */
  private def bucketOf(v: Long, lo: Long, hi: Long, bits: Int): Long = {
    val nb = 1L << bits
    math.min((math.max(v, lo) - lo) * nb / (hi - lo + 1), nb - 1)
  }

  /** Decompose a k-D box in BUCKET space into z-value intervals: a
    * recursive z-prefix (2^k-ary) descent that emits a region's exact z
    * range when the region is fully inside the box, prunes it when
    * disjoint, and otherwise splits on the next z bit. Exactness is
    * bounded two ways — a budget guard over-approximates once the raw
    * decomposition outgrows 8× the interval budget, and the final merge
    * bridges the narrowest gaps down to `maxIntervals` — both SAFE
    * (supersets of the box), because callers conjoin the exact natural-
    * column residual predicates; the z intervals only decide which row
    * groups are read. Pure driver arithmetic over O(k·bits · boundary)
    * nodes — never touches data.
    */
  private[operators] def zIntervals(box: Seq[(Long, Long)], bits: Int,
                                    maxIntervals: Int = 64): Seq[(Long, Long)] = {
    val k = box.length
    require(box.forall { case (lo, hi) => lo <= hi },
      s"empty box dimension in $box")
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def recurse(q: Int, zlo: Long, dims: Array[(Long, Long)]): Unit = {
      if (dims.indices.exists(j =>
        dims(j)._2 < box(j)._1 || dims(j)._1 > box(j)._2)) return
      val contained = dims.indices.forall(j =>
        dims(j)._1 >= box(j)._1 && dims(j)._2 <= box(j)._2)
      if (contained || q == 0 || acc.length >= 8 * maxIntervals) {
        acc += ((zlo, zlo + (1L << q) - 1L)); return
      }
      val qq = q - 1
      val j = qq % k // descending z bits cycle dims k-1, k-2, …, 0, k-1, …
      val (lo, hi) = dims(j)
      val mid = lo + (hi - lo) / 2
      val d0 = dims.clone(); d0(j) = (lo, mid)
      recurse(qq, zlo, d0)
      val d1 = dims.clone(); d1(j) = (mid + 1, hi)
      recurse(qq, zlo + (1L << qq), d1)
    }
    recurse(k * bits, 0L, Array.fill(k)((0L, (1L << bits) - 1L)))
    if (acc.isEmpty) return Seq.empty // box disjoint from the bucket space
    val sorted = acc.sortBy(_._1).toList
    val merged = sorted.tail.foldLeft(List(sorted.head)) {
      case ((alo, ahi) :: rest, (lo, hi)) =>
        if (lo <= ahi + 1) (alo, math.max(ahi, hi)) :: rest
        else (lo, hi) :: (alo, ahi) :: rest
      case (Nil, iv) => List(iv)
    }.reverse
    if (merged.lengthCompare(maxIntervals) <= 0) merged
    else {
      // keep the maxIntervals-1 widest gaps, bridge the rest (superset)
      val keep = merged.sliding(2).collect {
        case List((_, ahi), (blo, _)) => (blo - ahi, ahi, blo)
      }.toSeq.sortBy(-_._1).take(maxIntervals - 1)
        .map(g => (g._2, g._3)).toSet
      merged.tail.foldLeft(List(merged.head)) {
        case ((alo, ahi) :: rest, (blo, bhi)) =>
          if (keep((ahi, blo))) (blo, bhi) :: (alo, ahi) :: rest
          else (alo, bhi) :: rest
        case (Nil, iv) => List(iv)
      }.reverse
    }
  }

  /** Turn a k-D NATURAL-value box into a z-interval predicate on the
    * written `_z` column, given the writer's per-dimension (min, max)
    * normalization stats ([[zorderWriteK]]'s return). The box is clamped
    * to the data range, mapped to bucket space with the writer's exact
    * integer arithmetic, decomposed by [[zIntervals]], and emitted as an
    * OR-chain of BETWEENs — a pushable parquet filter whose row-group
    * skipping is driven by `_z`'s own sorted min/max footers.
    */
  private[operators] def zBoxPredicate(naturalBox: Seq[(Long, Long)],
                                       ranges: Seq[(Long, Long)], bits: Int,
                                       zCol: Column = col("_z")): Column = {
    // a box dimension entirely outside the data range clamps to an empty
    // bucket interval — the correct predicate is FALSE (no rows), not a
    // decomposition crash
    if (naturalBox.zip(ranges).exists { case ((a, b), (lo, hi)) =>
      b < lo || a > hi || a > b }) return lit(false)
    val bucketBox = naturalBox.zip(ranges).map { case ((a, b), (lo, hi)) =>
      (bucketOf(math.max(a, lo), lo, hi, bits),
        bucketOf(math.min(b, hi), lo, hi, bits))
    }
    zIntervals(bucketBox, bits)
      .map { case (zlo, zhi) => zCol.between(zlo, zhi) }
      .reduce(_ || _)
  }

  /** Dynamic partition overwrite — the incremental-backfill sink
    * semantics every partitioned lakehouse pipeline depends on: rewrite
    * ONE day's partition in place while every other partition survives
    * untouched. The op writes the full daily-partitioned table, then
    * overwrites only the earliest day with corrected rows (values
    * doubled) under `partitionOverwriteMode=dynamic`, reads the
    * directory back and aggregates per day. The oracle derives the same
    * final state logically — so the hash gate FAILS if the overwrite
    * were static (all other partitions would vanish) or if the rewrite
    * leaked into other days: the gate proves the semantics, not just
    * the plumbing. The overwritten-day pick is a one-value stats agg
    * (the z-order discipline); ×2 on a double is exact in both engines.
    */
  val sinkDynamicPartitionOverwrite: Q = Q(
    "sink_dynamic_partition_overwrite",
    (s, d) => {
      val e = Tables.read(s, d, "events")
        .select(col("event_id"), expr("(ts div 1000) div 86400000000").as("day"),
          col("value"))
      val dir = graft.util.TempDirs.create("graft_dynover").toString
      // overwrite because TempDirs pre-creates the directory; this first
      // write is the full-table STATIC overwrite (all partitions)
      e.write.mode("overwrite").partitionBy("day").parquet(dir)
      val d0 = e.agg(min(col("day"))).head().getLong(0)
      e.filter(col("day") === d0)
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(dir)
      s.read.parquet(dir)
        .groupBy(col("day").cast(LongType).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_value"))
        .orderBy(asc("day"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
                              CAST(value AS DECIMAL(18,2)) AS v
                       FROM events),
            m AS (SELECT min(day) AS d0 FROM e)
            SELECT day, count(*) AS n,
                   CAST(sum(CASE WHEN day = (SELECT d0 FROM m)
                                 THEN v * 2 ELSE v END) AS DOUBLE)
                     AS total_value
            FROM e GROUP BY day ORDER BY day"""))

  /** Malformed-row quarantine — the ingestion-robustness contract a real
    * feed forces: bad lines must neither kill the job (FAILFAST) nor
    * vanish (DROPMALFORMED), they must land in a quarantine table with
    * their RAW text intact for replay after the upstream fix. PERMISSIVE
    * parse with `columnNameOfCorruptRecord`: a parseable line yields
    * typed columns + NULL corrupt column, a malformed one yields NULLs +
    * the verbatim line. The op seeds a CSV feed from lineitem, injects
    * two malformed lines (wrong arity, non-numeric field), and returns
    * the per-status counts plus the quarantined payloads — fully
    * deterministic, so the oracle is BY CONSTRUCTION (the
    * src_cdc_quarantine trick): DuckDB derives the expected audit from
    * lineitem — 10 parseable rows, two verbatim injected bad lines —
    * without replicating any CSV parser semantics. Scale:
    * the parse is one streamed pass, the corrupt column prunes away for
    * clean downstream readers, and quarantine is a filter — no shuffle.
    */
  val srcCsvQuarantine: Q = Q(
    "src_csv_quarantine",
    (s, d) => {
      val dir = graft.util.TempDirs.create("graft_quarantine")
      val good = Tables.read(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(asc("l_orderkey"), asc("l_linenumber"), asc("l_quantity"))
        .limit(10).collect()
        .map(r => s"${r.getLong(0)},${r.getInt(1)},${r.getDouble(2)}")
      val lines = (good :+ "9999,1,2,EXTRA_COLUMN" :+ "not_a_number,2,3.0").toSeq
      java.nio.file.Files.write(dir.resolve("feed.csv"),
        String.join("\n", lines: _*).getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("_raw", StringType)))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_raw")
        .csv(dir.resolve("feed.csv").toString)
        .cache()
      parsed
        .select(when(col("_raw").isNull, "ok").otherwise("quarantined").as("status"),
          col("_raw").as("raw_payload"))
        .groupBy(col("status"), col("raw_payload"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("status"), asc_nulls_first("raw_payload"))
    },
    // By-construction oracle: the op injects exactly two malformed lines
    // into a 10-row feed, so the expected audit is derivable from
    // lineitem alone — the 'ok' count is the (LIMIT 10) feed size
    // (boundary ties can reorder WHICH rows feed, never how many parse),
    // and the quarantined payloads are the injected constants verbatim.
    Some("""WITH g AS (SELECT l_orderkey FROM lineitem
                       ORDER BY l_orderkey, l_linenumber, l_quantity
                       LIMIT 10)
            SELECT 'ok' AS status, CAST(NULL AS VARCHAR) AS raw_payload,
                   (SELECT count(*) FROM g) AS n
            UNION ALL
            SELECT 'quarantined', '9999,1,2,EXTRA_COLUMN', CAST(1 AS BIGINT)
            UNION ALL
            SELECT 'quarantined', 'not_a_number,2,3.0', CAST(1 AS BIGINT)
            ORDER BY status NULLS FIRST, raw_payload NULLS FIRST"""))

  /** One deliberately-fragmented copy of `orders` per (JVM, corpus) —
    * 64 tiny files, the layout a micro-batch sink leaves behind (one
    * file per trigger per partition; this repo's own foreachBatch sinks
    * produce exactly this). Built once: the FRAGMENTATION is fixture,
    * the compaction is the op.
    */
  private[operators] def fragmentedOrdersDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "fragmented_orders") {
      val dir = graft.util.TempDirs.create("graft_frag").resolve("orders").toString
      Tables.read(s, d, "orders").repartition(64)
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** Bin-pack + range-compact the fragmented table into ~target-size
    * files keyed by `o_orderkey`; returns the compacted dir. Factored
    * out so [[CompactionSpec]] can pin the physical layout (file count,
    * disjoint per-file key ranges) that the oracle can't see.
    */
  private[operators] def compactOrders(s: SparkSession, d: String): String = {
    val in = fragmentedOrdersDir(s, d)
    // size the output from the REAL input byte count, not a row guess:
    // nOut = ceil(bytes / 1 MiB) — at 100 TB the same arithmetic with a
    // 512 MiB target yields ~200k right-sized files instead of billions
    val bytes = graft.util.Fs.partFileBytes(s, in)
    val nOut = math.max(1, math.ceil(bytes / (1024.0 * 1024.0)).toInt)
    val outDir = graft.util.TempDirs.create("graft_compacted").toString
    s.read.parquet(in)
      // repartitionByRange on the sort key: ONE shuffle whose range
      // boundaries come from sampling, and the output files carry
      // DISJOINT key ranges — so parquet footer min/max pruning (and any
      // downstream merge join) survives compaction instead of being
      // destroyed by a hash repartition
      .repartitionByRange(nOut, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(outDir)
    outDir
  }

  /** Small-file compaction — the operational sink step between streaming
    * ingest and fast reads (the half of the reference's ReplacingMergeTree
    * the repo hadn't reproduced: `setup.sh:63` delegates merge-time
    * compaction to ClickHouse background merges; dedup-on-read is
    * [[sinkUpsertLatestByKey]]): bin-pack a 64-fragment table into
    * target-size range-partitioned files, then prove the content
    * unchanged by aggregating the COMPACTED copy against an oracle on
    * the base table. At 100 TB fragmented metadata alone (listing,
    * footers, task scheduling) dominates scan cost — compaction is what
    * keeps a streaming-written lake readable.
    */
  val sinkCompactSmallFiles: Q = Q(
    "sink_compact_small_files",
    (s, d) => {
      val outDir = compactOrders(s, d)
      s.read.parquet(outDir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(asc_nulls_first("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority NULLS FIRST"""))

  /** Day-partitioned (sum, count) partials of `events` as of the base
    * snapshot (rows with event_id % 7 ≠ 0) — one materialized view per
    * (JVM, corpus), the fixture [[sinkMvIncrementalRefresh]] refreshes.
    */
  private[operators] def mvBaseDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "mv_base") {
      val dir = graft.util.TempDirs.create("graft_mv").resolve("mv").toString
      Tables.read(s, d, "events")
        .filter(col("event_id") % lit(7) =!= 0)
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .write.partitionBy("day").parquet(dir)
      dir
    }

  /** Incremental materialized-view maintenance — the aggregate
    * counterpart of [[sinkUpsertLatestByKey]] and the standard warehouse
    * pattern: a per-(day, event_type) partial-aggregate MV is maintained
    * under a CDC delta batch by REFRESHING ONLY THE TOUCHED GROUPS,
    * never rescanning the base table. The delta is late data for the
    * day % 5 ≡ 2 slice: inserts (+1, +v) for the snapshot's missing
    * rows (event_id % 7 = 0, non-error) and retractions (−1, −v) for
    * the error rows the upstream fix deletes. Mechanics, each the 100 TB
    * shape: signed delta partials (one small agg), touched-day list
    * (O(#days) driver state; past [[touchedDayInBudget]] the In-literal
    * degrades to a broadcast semi-join, never a failure), PARTITION-PRUNED read of just
    * the touched MV partitions merged full-outer with the delta
    * (count ≤ 0 groups drop), a write of ONLY those partitions, and a
    * Hive-style publish — untouched partitions pass through by
    * reference, so refresh cost ∝ touched data, not MV size
    * ([[CompactionSpec]] pins the pruned scan and the 1/5 write). The
    * oracle proves refreshed state ≡ full recompute by construction.
    */
  /** Soft In-literal budget for the touched-day predicate: below it a
    * static `isin` prunes MV partitions at PLAN time; above it Catalyst
    * In-lists of thousands of elements analyze/codegen slowly, so the
    * filter degrades to a broadcast semi/anti join against the O(#days)
    * touched frame (still partition-prunable at scale via dynamic
    * partition pruning) instead of hard-failing the refresh (ADVICE r15).
    */
  private val touchedDayInBudget = 1000

  /** `keep = true` → MV rows ON a touched day; `keep = false` → rows off
    * every touched day. Both paths drop NULL-day rows, matching the
    * static `isin` / `!isin` three-valued-logic behavior exactly.
    */
  private[operators] def filterByTouchedDays(
      mv: DataFrame, touched: Seq[Long], keep: Boolean): DataFrame =
    if (touched.length <= touchedDayInBudget) {
      if (keep) mv.filter(col("day").isin(touched: _*))
      else mv.filter(!col("day").isin(touched: _*))
    } else {
      import mv.sparkSession.implicits._
      val tf = touched.toDF("day")
      if (keep) mv.join(broadcast(tf), Seq("day"), "left_semi")
      else mv.where(col("day").isNotNull)
        .join(broadcast(tf), Seq("day"), "left_anti")
    }

  /** Run the refresh write; returns (mv0 dir, refreshed-partitions dir,
    * touched days) — the spec seam for the layout pins the oracle can't
    * see (pruned mv0 scan, only ~1/5 of partitions written).
    */
  private[operators] def mvRefresh(s: SparkSession, d: String)
      : (String, String, Seq[Long]) = {
    val mv0dir = mvBaseDir(s, d)
    val mv0 = s.read.parquet(mv0dir)
      .withColumn("day", col("day").cast(LongType))
    val delta = Tables.read(s, d, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"),
        col("value").cast(DecimalType(18, 2)).as("v"), col("event_id"))
      .filter(col("day") % lit(5) === 2)
      .withColumn("w",
        when(col("event_id") % lit(7) === 0 && col("event_type") =!= "error", 1L)
          .when(col("event_id") % lit(7) =!= 0 && col("event_type") === "error", -1L))
      .filter(col("w").isNotNull)
    val deltaP = delta.groupBy(col("day"), col("event_type"))
      .agg(sum((col("w") * col("v")).cast(DecimalType(28, 2))).as("ds"),
        sum(col("w")).as("dn"))
    val touched = deltaP.select(col("day")).distinct().collect().map(_.getLong(0)).toSeq
    val refreshed = filterByTouchedDays(mv0, touched, keep = true)
      .join(deltaP, Seq("day", "event_type"), "full_outer")
      .select(col("day"), col("event_type"),
        // coalesce CHAIN, not zero-default: a group whose values are all
        // NULL must publish a NULL sum (matching the oracle's sum(v)),
        // not a fabricated 0
        coalesce(col("s") + col("ds"), col("s"), col("ds"))
          .cast(DecimalType(28, 2)).as("s"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
      .filter(col("n") > 0)
    val refreshDir = graft.util.TempDirs.create("graft_mv_refresh").toString
    refreshed.write.partitionBy("day").mode("overwrite").parquet(refreshDir)
    (mv0dir, refreshDir, touched)
  }

  val sinkMvIncrementalRefresh: Q = Q(
    "sink_mv_incremental_refresh",
    (s, d) => {
      val (mv0dir, refreshDir, touched) = mvRefresh(s, d)
      val mv0 = s.read.parquet(mv0dir)
        .withColumn("day", col("day").cast(LongType))
      // publish: refreshed partitions + untouched partitions by reference.
      // A refresh that produced NO partitions (empty delta, or every
      // touched group cancelled to n=0) writes only _SUCCESS — reading it
      // would throw schema-inference errors where the correct publish is
      // "untouched partitions only"
      val untouched = filterByTouchedDays(mv0, touched, keep = false)
        .select(col("day"), col("event_type"), col("s").cast(DecimalType(28, 2)), col("n"))
      val wrotePartitions = graft.util.Fs.hasChildDir(s, refreshDir, "day=")
      val mvNew =
        if (!wrotePartitions) untouched
        else s.read.parquet(refreshDir)
          .withColumn("day", col("day").cast(LongType))
          .select(col("day"), col("event_type"), col("s").cast(DecimalType(28, 2)), col("n"))
          .unionByName(untouched)
      mvNew.select(col("event_type"), col("day"),
          col("n").cast(LongType).as("n_rows"),
          col("s").cast(DoubleType).as("total_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
    },
    // by-construction oracle: refreshed MV state must equal the full
    // recompute over (base rows on untouched days) ∪ (non-error rows on
    // touched days) — inserts add the %7≡0 slice, retractions remove
    // every error row on the touched days
    // three-valued-logic alignment: a NULL event_type is never inserted
    // (w's =!= 'error' arm is NULL) and never retracted (=== 'error' is
    // NULL), so on touched days base NULL-type rows SURVIVE while delta
    // NULL-type rows never arrive — the oracle spells both arms out
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                              CAST(value AS DECIMAL(18,2)) AS v, event_id
                       FROM events)
            SELECT event_type, day, count(*) AS n_rows,
                   CAST(sum(v) AS DOUBLE) AS total_value
            FROM e
            WHERE (day % 5 <> 2 AND event_id % 7 <> 0)
               OR (day % 5 = 2 AND event_id % 7 <> 0
                   AND (event_type <> 'error' OR event_type IS NULL))
               OR (day % 5 = 2 AND event_id % 7 = 0 AND event_type <> 'error')
            GROUP BY event_type, day
            ORDER BY event_type NULLS FIRST, day NULLS FIRST"""))

  /** Rendering of a column as the portable string the profile sketch
    * hashes: doubles go through DECIMAL(18,2) (shortest-round-trip float
    * rendering differs across engines — 1.0E7 vs 10000000.0); everything
    * else casts directly (int/date/string renderings agree).
    */
  private def portableRender(f: StructField): String = f.dataType match {
    case DoubleType | FloatType =>
      s"cast(cast(${f.name} as decimal(18,2)) as string)"
    case _ => s"cast(${f.name} as string)"
  }

  /** The 100 TB statistics pass — [[opTableProfile]]'s exact per-column
    * `countDistinct` plans a multi-distinct Expand (rows × (n_cols+1)
    * through one shuffle: the standard plan, and the blow-up a CBO stats
    * collector cannot afford at 100 TB). This variant keeps the SAME
    * output shape but estimates distincts with the portable KMV sketch
    * ([[graft.functions.KmvSketch]] at k=256, σ≈6%): every column's
    * O(256) sketch rides ONE Aggregate over ONE scan — no Expand
    * ([[CompactionSpec]] pins the plan) — and the integer-exact estimate
    * floor(255·2³²/h₂₅₆) reproduces bit-for-bit in the DuckDB oracle
    * (columns under 256 distinct hashes compare as exact counts).
    */
  val opTableProfileSketch: Q = Q(
    "op_table_profile_sketch",
    (s, d) => {
      val t = Tables.read(s, d, "orders")
      val fields = t.schema.fields.sortBy(_.name)
      val kmv = udaf(new graft.functions.KmvSketch(256))
      val statCols = fields.flatMap { f =>
        val c = f.name
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
          kmv(expr(s"coalesce(cast(conv(substring(md5(${portableRender(f)})" +
            s", 1, 8), 16, 10) as bigint), -1)")).as(s"__nd_$c"))
      }
      val one = t.agg(count(lit(1)).as("__nr"), statCols.toSeq: _*)
      val stackArgs = fields.map(f =>
        s"'${f.name}', __nn_${f.name}, __nd_${f.name}").mkString(", ")
      one.select(col("__nr").as("n_rows"),
          expr(s"stack(${fields.length}, $stackArgs)" +
            " AS (column_name, n_nulls, n_distinct_est)"))
        .select(col("column_name"), col("n_rows"),
          col("n_nulls").cast(LongType).as("n_nulls"),
          col("n_distinct_est").cast(LongType).as("n_distinct_est"))
        .orderBy(asc_nulls_first("column_name"))
    },
    Some {
      // per column: the identical KMV estimate from the k=256th smallest
      // distinct md5-derived hash (agg_kmv_distinct's oracle, global
      // form at the profile's tighter k), over the same portable
      // rendering as the Spark side
      val cols = Seq(
        "o_custkey" -> "CAST(o_custkey AS VARCHAR)",
        "o_orderdate" -> "CAST(o_orderdate AS VARCHAR)",
        "o_orderkey" -> "CAST(o_orderkey AS VARCHAR)",
        "o_orderpriority" -> "CAST(o_orderpriority AS VARCHAR)",
        "o_orderstatus" -> "CAST(o_orderstatus AS VARCHAR)",
        "o_totalprice" -> "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)")
      cols.map { case (c, render) =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_nulls,
                   CAST(coalesce((
                     WITH h AS (SELECT DISTINCT
                           CAST(('0x' || substr(md5($render), 1, 8)) AS BIGINT) AS hv
                         FROM orders WHERE $c IS NOT NULL),
                       r AS (SELECT hv,
                                    row_number() OVER (ORDER BY hv) AS rn,
                                    count(*) OVER () AS nd
                             FROM h)
                     SELECT CASE WHEN nd < 256 THEN nd
                                 ELSE (255 * 4294967296) // hv END
                     FROM r WHERE rn = least(nd, 256)), 0) AS BIGINT)
                     AS n_distinct_est
            FROM orders"""
      }.mkString("", " UNION ALL ", " ORDER BY column_name NULLS FIRST")
    })

  /** Fixture for [[srcBinaryFiles]]: one opaque blob file per doc of the
    * deterministic `doc_id % 100 = 7` shard (the doc's UTF-8 text bytes
    * standing in for an image/audio payload, as in
    * `llm_multimodal_features`). Built once per corpus via a driver
    * write — the fixture is test harness, not the op; the op under test
    * is the partition-parallel `binaryFile` READ.
    */
  private[operators] def binaryBlobsDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "binary_blobs") {
      val dir = graft.util.TempDirs.create("graft_bin_blobs")
      Tables.read(s, d, "documents")
        .filter(col("doc_id") % 100 === 7)
        .select(col("doc_id"), col("text")).collect()
        .foreach { r =>
          java.nio.file.Files.write(dir.resolve(s"${r.getLong(0)}.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
      dir.toString
    }

  /** Opaque-binary ingestion via Spark's `binaryFile` source — the first
    * step of every multimodal pipeline (image/audio/video corpora arrive
    * as blob DIRECTORIES, not tables): read (path, length, content) with
    * partition-parallel file scans, parse the id out of the path, and
    * digest the payload. At 100 TB this is the same plan — the source
    * lists files into splits, each task streams its blobs, and a
    * `length < N` predicate pushes down to skip oversized payloads
    * without reading them; decode/feature-extract then continues on the
    * typed per-partition surface of `llm_multimodal_features`. The
    * oracle never touches the files: the fixture derives from
    * `documents`, so DuckDB recomputes byte length and md5 from the
    * source table — proving the write→list→read→digest round trip
    * reproduces the table exactly.
    */
  val srcBinaryFiles: Q = Q(
    "src_binary_files",
    (s, d) => {
      val dir = binaryBlobsDir(s, d)
      s.read.format("binaryFile").load(dir)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast(LongType).as("doc_id"),
          col("length"),
          md5(col("content")).as("digest"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS length,
                   md5(text) AS digest
            FROM documents WHERE doc_id % 100 = 7
            ORDER BY doc_id NULLS FIRST"""))

  /** One deliberately-fragmented copy of `events` per (JVM, corpus) —
    * 64 tiny files with every user's rows scattered across them: the
    * layout a keyed CDC micro-batch sink leaves behind, and the input
    * shape ClickHouse's background merge consumes. Projected to the
    * upsert op's 5 portable columns (µs timestamps; raw nanos are
    * Spark-only).
    */
  private[operators] def fragmentedEventsDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "fragmented_events") {
      val dir = graft.util.TempDirs.create("graft_frag_ev").resolve("events").toString
      Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), expr("ts div 1000").as("ts_us"))
        .repartition(64)
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** The fused merge: ONE range shuffle on the key, in-partition sort
    * (key asc, version desc), then a streaming first-row-per-key pass —
    * returns the merged dir. Factored out so [[CompactionSpec]] can pin
    * the single-exchange plan and the disjoint per-file key ranges.
    */
  /** The fused merge as an unexecuted frame — the seam [[CompactionSpec]]
    * plan-checks (the single-exchange property must hold on the REAL
    * pipeline, not a rebuilt lookalike).
    */
  private[operators] def mergeDedupFrame(s: SparkSession, d: String): DataFrame = {
    val in = fragmentedEventsDir(s, d)
    val bytes = graft.util.Fs.partFileBytes(s, in)
    val nOut = math.max(1, math.ceil(bytes / (1024.0 * 1024.0)).toInt)
    val frag = s.read.parquet(in)
    val keyIdx = frag.schema.fieldIndex("user_id")
    val sorted = frag
      .repartitionByRange(nOut, col("user_id"))
      .sortWithinPartitions(col("user_id").asc_nulls_first,
        col("ts_us").desc, col("event_id").desc)
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(sorted.schema)
    // per-partition imperative scan (the mapPartitions exception the
    // engine guide carves out): range partitioning co-locates every key,
    // the sort puts its latest version first, so "keep first row per
    // key" over the sorted iterator IS the ReplacingMergeTree merge —
    // no second shuffle, no window state
    sorted.mapPartitions { it =>
      var started = false
      var last: Any = null
      it.filter { r =>
        val k = r.get(keyIdx)
        val keep = !started || !java.util.Objects.equals(k, last)
        started = true
        last = k
        keep
      }
    }
  }

  private[operators] def compactMergeDedup(s: SparkSession, d: String): String = {
    val outDir = graft.util.TempDirs.create("graft_merge_dedup").toString
    mergeDedupFrame(s, d).write.mode("overwrite").parquet(outDir)
    outDir
  }

  /** Fused compaction + keyed dedup — the FULL ReplacingMergeTree
    * background merge (reference `setup.sh:63`: ClickHouse both
    * bin-packs parts AND collapses key versions in the same merge pass;
    * this repo previously reproduced the halves separately as
    * [[sinkCompactSmallFiles]] and [[sinkUpsertLatestByKey]]): a
    * 64-fragment keyed CDC spill is range-shuffled ONCE on `user_id`,
    * sorted within partitions (key asc, version desc), deduplicated by a
    * streaming first-row-per-key pass, and written as right-sized files
    * with disjoint key ranges. At 100 TB this halves the standard
    * compact-then-dedup pipeline: the window dedup's hash shuffle
    * disappears into the compaction's range shuffle, and the output
    * layout keeps footer pruning and merge joins alive. The oracle is
    * the upsert op's: merged state ≡ latest version per key.
    */
  val sinkCompactMergeDedup: Q = Q(
    "sink_compact_merge_dedup",
    (s, d) => {
      val outDir = compactMergeDedup(s, d)
      s.read.parquet(outDir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts_us"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH ranked AS (
              SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events)
            SELECT user_id, event_id, event_type, value, ts_us
            FROM ranked WHERE rn = 1 ORDER BY user_id NULLS FIRST"""))

  /** The range layout the zone map indexes — built once per (JVM,
    * corpus): a FIXED 16-way `repartitionByRange` on the key rather than
    * [[compactOrders]]'s byte-sized output (which collapses the smallest
    * test corpus to one file, leaving a zone map nothing to skip). At
    * production scale the granule count comes from the byte-based
    * compaction arithmetic; the 16 granules here keep the skipping
    * behavior observable at every test sf.
    */
  private[operators] def zonemapLayoutDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "zonemap_layout") {
      val dir = graft.util.TempDirs.create("graft_zonemap").resolve("orders").toString
      Tables.read(s, d, "orders")
        .repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** Build the per-file zone map and prune it for the mid-corpus key
    * box: returns (selected files, total files, lo, hi) — the spec seam
    * for the pruning the oracle can't see. The zone-map build reads
    * parquet FOOTER statistics only ([[graft.util.Fs.footerLongStats]])
    * — no data pages are touched, so build cost is O(#files) metadata
    * reads regardless of table bytes; the map itself is O(#files)
    * driver state — the same budget class as a catalog's file manifest,
    * and at 100 TB it persists as its own tiny table instead of being
    * rebuilt per query.
    */
  private[operators] def zonemapPrune(s: SparkSession, d: String)
      : (Seq[String], Int, Long, Long) = {
    val dir = zonemapLayoutDir(s, d)
    val zm = graft.util.Fs.footerLongStats(
      s, graft.util.Fs.listPartFiles(s, dir), "o_orderkey")
    val gmn = zm.map(_._2).min
    val gmx = zm.map(_._3).max
    // deterministic data-derived box: the [40%, 50%] slice of the key
    // span, integer arithmetic so the oracle reproduces it exactly
    val lo = gmn + (gmx - gmn) * 2 / 5
    val hi = gmn + (gmx - gmn) / 2
    val sel = zm.filter(f => f._3 >= lo && f._2 <= hi).map(_._1)
    (sel, zm.length, lo, hi)
  }

  /** Zone-map (min/max skip-index) pruned scan — the reference engine's
    * sparse primary index / skip-index read path (ClickHouse prunes
    * granules by primary-key min/max marks) re-expressed for a lake
    * layout: a per-file (min, max) zone map over the range-compacted
    * orders files answers a key-box query by reading ONLY the files
    * whose zone overlaps the box — file-level skipping BEFORE parquet
    * footer row-group pruning even starts, which at 100 TB is the
    * difference between listing/scheduling 200k files and ~20k. The
    * residual predicate still pushes into the selected scans, so
    * correctness never depends on the map ([[CompactionSpec]] pins the
    * file-count reduction; the oracle pins the values).
    */
  val opZonemapPrune: Q = Q(
    "op_zonemap_prune",
    (s, d) => {
      val (files, _, lo, hi) = zonemapPrune(s, d)
      // zero overlapping files is a VALID answer (a key-span gap under
      // the box): parquet() with no paths throws on schema inference, so
      // degrade to an always-false scan of the layout — same schema,
      // empty result, matching the oracle's empty group-by
      val base =
        if (files.isEmpty)
          s.read.parquet(zonemapLayoutDir(s, d)).filter(lit(false))
        else s.read.parquet(files: _*)
      base
        .filter(col("o_orderkey").between(lo, hi))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(asc_nulls_first("o_orderpriority"))
    },
    Some("""WITH b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx
                       FROM orders)
            SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM orders, b
            WHERE o_orderkey >= mn + (mx - mn) * 2 // 5
              AND o_orderkey <= mn + (mx - mn) // 2
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority NULLS FIRST"""))

  /** Zone-map maintenance under a late append — the index-refresh half
    * [[opZonemapPrune]] leaves implicit: a 16-file range layout is
    * indexed, then a 2-file UNSORTED tail (`o_orderkey % 10 = 3`, each
    * file spanning the whole key range — the realistic shape of a
    * streaming append) lands AFTER the index was built. The refresh
    * lists the directory, diffs against the files the index already
    * covers, and reads ONLY the delta files' parquet FOOTERS
    * ([[graft.util.Fs.footerLongStats]] — no data pages) — index
    * maintenance cost ∝ appended FILES, never ∝ table size or even
    * appended bytes, the same delta discipline as the MV refreshes. At
    * 100 TB this is the manifest-diff loop every lakehouse table
    * service runs; a full rebuild would re-footer every file on every
    * append. Returns (layout dir, updated per-file (path, min, max)
    * index, delta file paths, total file count), built once per corpus
    * per JVM.
    */
  private[operators] def zonemapIncremental(s: SparkSession, d: String)
      : (String, Seq[(String, Long, Long)], Seq[String], Int) =
    Memo.corpus(d, "zonemap_incremental") {
      val dir = graft.util.TempDirs.create("graft_zonemap_incr")
        .resolve("orders").toString
      val orders = Tables.read(s, d, "orders")
      orders.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(dir)
      val baseIdx = graft.util.Fs.footerLongStats(
        s, graft.util.Fs.listPartFiles(s, dir), "o_orderkey")
      orders.filter(col("o_orderkey") % lit(10) === 3)
        .repartition(2).write.mode("append").parquet(dir)
      // diff by file NAME (part-file names are UUID-unique), so the
      // index diff is robust to scheme-spelling drift (file:/ vs
      // file:///) between listings
      val indexed = baseIdx.map(_._1.split('/').last).toSet
      val all = graft.util.Fs.listPartFiles(s, dir)
      val delta = all.filterNot(p => indexed(p.split('/').last))
      val deltaIdx = graft.util.Fs.footerLongStats(s, delta, "o_orderkey")
      (dir, baseIdx ++ deltaIdx, delta, all.size)
    }

  /** Incremental zone-map pruned scan: the key-box query of
    * [[opZonemapPrune]] answered from the POST-APPEND index — proving the
    * delta-maintained index stays correct for unsorted tail files (both
    * append files overlap every box, so they are always selected and
    * their rows filtered by the residual predicate; CompactionSpec pins
    * the 2-file delta scan and the strict-subset read).
    */
  val opZonemapIncremental: Q = Q(
    "op_zonemap_incremental",
    (s, d) => {
      val (dir, idx, _, _) = zonemapIncremental(s, d)
      val gmn = idx.map(_._2).min
      val gmx = idx.map(_._3).max
      val lo = gmn + (gmx - gmn) * 2 / 5
      val hi = gmn + (gmx - gmn) / 2
      val sel = idx.filter(f => f._3 >= lo && f._2 <= hi).map(_._1)
      val base =
        if (sel.isEmpty) s.read.parquet(dir).filter(lit(false))
        else s.read.parquet(sel: _*)
      base.filter(col("o_orderkey").between(lo, hi))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(asc_nulls_first("o_orderpriority"))
    },
    // logical table = base layout ∪ late tail; the tail duplicates the
    // `% 10 = 3` slice, so the oracle reproduces it by UNION ALL — and
    // the global (mn, mx) equal the base table's, keeping the box
    // arithmetic identical to op_zonemap_prune's
    Some("""WITH t AS (SELECT * FROM orders
                       UNION ALL
                       SELECT * FROM orders WHERE o_orderkey % 10 = 3),
            b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx
                  FROM t)
            SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM t, b
            WHERE o_orderkey >= mn + (mx - mn) * 2 // 5
              AND o_orderkey <= mn + (mx - mn) // 2
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority NULLS FIRST"""))

  /** Portable md5-derived 32-bit hash of `user_id` for the KMV sketch
    * MV; NULL users map to the sketch's −1 skip sentinel.
    */
  private def userHash: Column =
    graft.functions.PortableHash.hash32OrSkip(col("user_id"))

  /** Day-partitioned per-(day, event_type) KMV minima (k=64) of distinct
    * user hashes as of the base snapshot (event_id % 7 ≠ 0) — the
    * sketch-partial MV [[sinkMvSketchRefresh]] refreshes.
    */
  private[operators] def mvSketchBaseDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "mv_sketch_base") {
      val dir = graft.util.TempDirs.create("graft_mv_sketch").resolve("mv").toString
      val kmvM = udaf(new graft.functions.KmvMinima(64))
      Tables.read(s, d, "events")
        .filter(col("event_id") % lit(7) =!= 0)
        .select(expr("(ts div 1000) div 86400000000").as("day"),
          col("event_type"), userHash.as("hv"))
        .groupBy(col("day"), col("event_type"))
        .agg(kmvM(col("hv")).as("mins"))
        .write.partitionBy("day").parquet(dir)
      dir
    }

  /** Run the sketch-MV refresh write; returns (mv0 dir, refreshed dir,
    * touched days) — the [[CompactionSpec]] seam.
    */
  private[operators] def mvSketchRefresh(s: SparkSession, d: String)
      : (String, String, Seq[Long]) = {
    val mv0dir = mvSketchBaseDir(s, d)
    val mv0 = s.read.parquet(mv0dir).withColumn("day", col("day").cast(LongType))
    val kmvM = udaf(new graft.functions.KmvMinima(64))
    // sketches are INSERT-only (a KMV cannot retract a hash), so the
    // delta is the late-insert slice alone — the standard restriction of
    // sketch-partial MVs to monotone streams; deletions force the exact
    // (sum, count) MV [[sinkMvIncrementalRefresh]] or a full rebuild
    val deltaP = Tables.read(s, d, "events")
      .select(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"),
        col("user_id"), col("event_id"))
      .filter(col("day") % lit(5) === 2 && col("event_id") % lit(7) === 0)
      .groupBy(col("day"), col("event_type"))
      .agg(kmvM(userHash).as("dmins"))
    val touched = deltaP.select(col("day")).distinct().collect().map(_.getLong(0)).toSeq
    // merge = k smallest of the union, declaratively: array_union dedups,
    // array_sort orders, slice truncates to k — EXACTLY KmvBuf.mergeSorted
    // (KmvSketchProps pins that law), so refreshed partials are
    // bit-identical to a full recompute
    val refreshed = filterByTouchedDays(mv0, touched, keep = true)
      .join(deltaP, Seq("day", "event_type"), "full_outer")
      .select(col("day"), col("event_type"),
        expr("""slice(array_sort(array_union(
                  coalesce(mins, cast(array() as array<bigint>)),
                  coalesce(dmins, cast(array() as array<bigint>)))), 1, 64)""")
          .as("mins"))
    val refreshDir = graft.util.TempDirs.create("graft_mv_sketch_refresh").toString
    refreshed.write.partitionBy("day").mode("overwrite").parquet(refreshDir)
    (mv0dir, refreshDir, touched)
  }

  /** Sketch-partial incremental MV — the approximate sibling of
    * [[sinkMvIncrementalRefresh]] and the reason sketches exist at
    * 100 TB: a per-(day, event_type) distinct-users MV stores the O(k)
    * KMV minima instead of user sets, so refresh cost is ∝ touched
    * partitions × k bytes and NEVER rescans the base table — stored
    * partials and delta partials merge losslessly (the k minima of a
    * union are computable from the two k-minima synopses; proven in
    * KmvSketchProps), which an HLL/exact-distinct MV only matches by
    * keeping engine-opaque state. Same partition-pruned read / touched-
    * partition write / publish-by-reference mechanics as the exact MV;
    * the estimate is one integer expression over the stored array, so
    * the DuckDB oracle reproduces the refreshed state bit-for-bit by
    * full recompute over the post-delta row set.
    */
  val sinkMvSketchRefresh: Q = Q(
    "sink_mv_sketch_refresh",
    (s, d) => {
      val (mv0dir, refreshDir, touched) = mvSketchRefresh(s, d)
      val mv0 = s.read.parquet(mv0dir).withColumn("day", col("day").cast(LongType))
      val untouched = filterByTouchedDays(mv0, touched, keep = false)
        .select(col("day"), col("event_type"), col("mins"))
      // same empty-refresh guard as the exact MV: a refresh that wrote
      // no day= partitions publishes untouched-only instead of a
      // schema-inference failure
      val wrotePartitions = graft.util.Fs.hasChildDir(s, refreshDir, "day=")
      val mvNew =
        if (!wrotePartitions) untouched
        else s.read.parquet(refreshDir)
          .withColumn("day", col("day").cast(LongType))
          .select(col("day"), col("event_type"), col("mins"))
          .unionByName(untouched)
      mvNew.select(col("day"), col("event_type"),
          expr("""cast(case when size(mins) < 64 then size(mins)
                       else (63 * 4294967296) div element_at(mins, 64) end as bigint)""")
            .as("est_users"))
        .orderBy(asc_nulls_first("day"), asc_nulls_first("event_type"))
    },
    // by-construction oracle: refreshed sketch state ≡ full KMV recompute
    // over (base rows) ∪ (late inserts on touched days); user_id is
    // non-null corpus-wide, so the NOT NULL guard only mirrors the
    // sketch's −1 sentinel skip
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                              user_id, event_id
                       FROM events),
            base AS (SELECT day, event_type, user_id FROM e
                     WHERE event_id % 7 <> 0
                        OR (day % 5 = 2 AND event_id % 7 = 0)),
            h AS (SELECT DISTINCT day, event_type,
                    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
                  FROM base WHERE user_id IS NOT NULL),
            r AS (SELECT day, event_type, hv,
                         row_number() OVER (PARTITION BY day, event_type ORDER BY hv) AS rn,
                         count(*) OVER (PARTITION BY day, event_type) AS nd
                  FROM h)
            SELECT day, event_type,
                   CAST(CASE WHEN nd < 64 THEN nd
                             ELSE (63 * 4294967296) // hv END AS BIGINT) AS est_users
            FROM r WHERE rn = least(nd, 64)
            ORDER BY day NULLS FIRST, event_type NULLS FIRST"""))

  /** Time-range pruned events scan — the read path every event-time query
    * at 100 TB starts from: the [lo, hi) window predicate is applied to
    * the NATIVE `ts` column via [[Tables.eventsRange]], so it reaches the
    * parquet source as an atomic pushed filter and row-group min/max
    * stats skip everything outside the two-day window BEFORE any bytes
    * decode (PlanSpec pins the pushed range). Canonicalization to
    * epoch-nanos happens after the pruned scan, so downstream event-time
    * arithmetic is unchanged. The window is a fixed mid-corpus slice —
    * 2024-01-10T00:00Z to 2024-01-12T00:00Z — valid at every sf (corpus
    * spans 2024-01-01..01-30). min/max per group, not sum: a µs-epoch sum
    * overflows a signed long at large sf.
    */
  val srcTsRangePrune: Q = Q(
    "src_ts_range_prune",
    (s, d) => {
      val ev = Tables.eventsRange(s, d,
        loMicros = 1704844800000000L, hiMicros = 1705017600000000L)
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(expr("ts div 1000")).as("first_us"),
          max(expr("ts div 1000")).as("last_us"))
        .orderBy(asc_nulls_first("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
                   min(epoch_us(ts)) AS first_us,
                   max(epoch_us(ts)) AS last_us
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts <  TIMESTAMP '2024-01-12 00:00:00'
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Versioned snapshot chain for the time-travel read: v0 = base orders
    * (generation 0); v1 = v0 with an upsert delta applied (keys
    * `o_orderkey % 7 = 3` re-priced +1000.0, status 'U', generation 1,
    * latest-per-key by generation); v2 = v1 with keys `% 11 = 5`
    * deleted. One build per corpus dir per JVM; each version is a full
    * queryable parquet snapshot — the storage shape of a lakehouse
    * commit log where versions share unchanged files by reference (the
    * sharing is the format's concern; the READ semantics are what this
    * op reproduces).
    */
  private[operators] def timeTravelChainDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "time_travel_chain") {
      val base = graft.util.TempDirs.create("graft_time_travel").toString
      val v0 = Tables.read(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("generation", lit(0L))
      v0.write.parquet(s"$base/v0")
      // +1000.0, not ×1.1: an integer shift leaves the price's fractional
      // bits untouched, so the later DECIMAL(18,2) casts round identically
      // on both engines (a product mints new half-cent ties, and Spark
      // rounds HALF_UP where DuckDB rounds HALF_EVEN)
      val delta1 = v0.filter(col("o_orderkey") % 7 === 3)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"), lit(1L).as("generation"))
      val v1 = Upsert.latestByKey(v0.unionByName(delta1),
        Seq(col("o_orderkey")), Seq(col("generation")))
      v1.write.parquet(s"$base/v1")
      v1.filter(col("o_orderkey") % 11 =!= 5).write.parquet(s"$base/v2")
      base
    }

  /** Time-travel read — the lakehouse `VERSION AS OF` surface
    * (Delta/Iceberg snapshot reads; the reference's analogue is querying
    * ReplacingMergeTree state as of an earlier merge): against a 3-deep
    * version chain (base → upsert delta → delete delta), read the MIDDLE
    * version — upserts visible, later deletes NOT — and aggregate it.
    * The AS-OF read is an O(1) manifest lookup + an ordinary pruned scan
    * of that snapshot's files; cost does not depend on chain length,
    * and time-travel queries get the same pushdown/pruning as head
    * reads. The oracle reconstructs v1 relationally (base ∪ delta,
    * latest-per-key by generation), so the materialized snapshot is
    * hash-checked against its logical definition.
    */
  val srcTimeTravelRead: Q = Q(
    "src_time_travel_read",
    (s, d) => {
      val base = timeTravelChainDir(s, d)
      s.read.parquet(s"$base/v1")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_price"))
        .orderBy(asc_nulls_first("o_orderstatus"))
    },
    Some("""WITH v0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                               0 AS generation
                        FROM orders),
            delta AS (SELECT o_orderkey, 'U' AS o_orderstatus,
                             o_totalprice + 1000.0 AS o_totalprice, 1 AS generation
                      FROM v0 WHERE o_orderkey % 7 = 3),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                                    ORDER BY generation DESC) AS rn
                       FROM (SELECT * FROM v0 UNION ALL SELECT * FROM delta)),
            v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM ranked WHERE rn = 1)
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price
            FROM v1 GROUP BY o_orderstatus
            ORDER BY o_orderstatus NULLS FIRST"""))

  /** Fixture + result state for the retention vacuum: value is
    * (per-version manifests, head file list, deleted orphan dirs,
    * all data dirs before vacuum). One build+vacuum per corpus per JVM.
    *
    * The chain SHARES untouched buckets by reference — the storage shape
    * [[timeTravelChainDir]]'s full-snapshot copies abstract away, and the
    * one that makes vacuum a real operation (deleting a version must not
    * delete files the head still references):
    *   v0 = orders bucketed by `o_orderkey % 4` → dirs b0_g0..b3_g0;
    *   v1 = bucket 1 re-priced (+1000.0, status 'U') → b1_g1, manifest
    *        references b0_g0, b1_g1, b2_g0, b3_g0;
    *   v2 = keys `% 8 = 6` deleted (all live in bucket 2) → b2_g2.
    */
  private[operators] def vacuumChain(s: SparkSession, d: String)
      : (Map[Int, Seq[String]], Seq[String], Seq[String], Seq[String]) =
    Memo.corpus(d, "vacuum_chain") {
      val base = graft.util.TempDirs.create("graft_vacuum").toString
      val orders = Tables.read(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      def bdir(name: String) = s"$base/data/$name"
      (0 to 3).foreach(k => orders.filter(col("o_orderkey") % 4 === k)
        .write.parquet(bdir(s"b${k}_g0")))
      orders.filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
        .write.parquet(bdir("b1_g1"))
      orders.filter(col("o_orderkey") % 4 === 2 && col("o_orderkey") % 8 =!= 6)
        .write.parquet(bdir("b2_g2"))
      val manifests = Map(
        0 -> Seq("b0_g0", "b1_g0", "b2_g0", "b3_g0").map(bdir),
        1 -> Seq("b0_g0", "b1_g1", "b2_g0", "b3_g0").map(bdir),
        2 -> Seq("b0_g0", "b1_g1", "b2_g2", "b3_g0").map(bdir))
      val all = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/data"))
      val allDirs = try {
        import scala.jdk.CollectionConverters._
        all.iterator().asScala.map(_.toString).toSeq.sorted
      } finally all.close()
      // vacuum, retention = head only: an O(#files) manifest-diff against
      // the union of RETAINED manifests (here just v2's), then orphan
      // deletion — no data is read, the same metadata budget class as the
      // zone-map refresh
      val live = manifests(2).map(p => java.nio.file.Paths.get(p).getFileName.toString).toSet
      val orphans = allDirs.filterNot(p =>
        live(java.nio.file.Paths.get(p).getFileName.toString))
      orphans.foreach(p =>
        graft.util.TempDirs.deleteRecursively(java.nio.file.Paths.get(p)))
      (manifests, manifests(2), orphans, allDirs)
    }

  /** 16-file doc_id-range layout of documents + a per-file bloom over
    * `xxhash64(md5(text))` — the content-digest point-lookup index. The
    * build is ONE scan (at 100 TB it rides the layout write itself, or
    * parquet's own column bloom filters); the index is O(#files × KB)
    * driver state, the zone-map budget class. Returns (layout dir,
    * per-file serialized bloom sketches), built once per corpus per JVM.
    */
  private[operators] def bloomSkipIndex(s: SparkSession, d: String)
      : (String, Seq[(String, Array[Byte])]) =
    Memo.corpus(d, "bloom_skip_index") {
      val dir = graft.util.TempDirs.create("graft_bloom_idx")
        .resolve("documents").toString
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      Tables.read(s, d, "documents")
        .repartitionByRange(16, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.parquet(dir)
      val idx = s.read.parquet(dir)
        .groupBy(input_file_name().as("file"))
        .agg(expr(
          "graft_bloom_agg(xxhash64(md5(cast(text as binary))), 5000L, 65536L)")
          .as("bf"))
        .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toSeq
      (dir, idx)
    }

  /** Bloom-filter skip index point lookup — the reference sink's
    * `bloom_filter` SKIP INDEX (ClickHouse data-skipping indexes for
    * point predicates on non-sort columns) on a lake layout: the layout
    * is ordered by `doc_id`, but the query is "fetch the document(s)
    * with THIS content digest" — a predicate the doc_id zone map cannot
    * skip for. A per-file bloom over the content-digest hash answers
    * which files MIGHT contain the probe; only those are scanned, the
    * exact digest predicate filters residually, so correctness never
    * depends on the sketch (false positives cost a wasted scan, false
    * negatives cannot occur — BloomSkipSpec pins both the strict-subset
    * read and the no-false-negative draw). The probe digest is derived
    * from a deterministic mid-corpus doc (min doc_id + 42), so the
    * DuckDB oracle reproduces the whole lookup relationally. At 100 TB
    * this is the digest-keyed point-fetch every dedup audit trail runs,
    * without maintaining a digest-sorted second copy of the corpus.
    */
  val opBloomSkipIndex: Q = Q(
    "op_bloom_skip_index",
    (s, d) => {
      val (dir, idx) = bloomSkipIndex(s, d)
      // probe digest + its xxhash64, each an O(1)-row driver lookup (the
      // hash via a 1-row query so driver and build hash identically)
      val docs = Tables.read(s, d, "documents")
      val probeId = docs.agg(min(col("doc_id"))).head.getLong(0) + 42L
      val probe = docs.filter(col("doc_id") === probeId)
        .select(md5(col("text").cast("binary"))).head.getString(0)
      val probeHash = s.range(1)
        .select(xxhash64(lit(probe))).head.getLong(0)
      val sel = idx.filter { case (_, bytes) =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainLong(probeHash)
      }.map(_._1)
      val base =
        if (sel.isEmpty) s.read.parquet(dir).filter(lit(false))
        else s.read.parquet(sel: _*)
      base.filter(md5(col("text").cast("binary")) === probe)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH p AS (SELECT md5(text) AS probe FROM documents
                       WHERE doc_id = (SELECT min(doc_id) + 42 FROM documents))
            SELECT doc_id, lang, source, n_chars
            FROM documents, p
            WHERE md5(text) = p.probe
            ORDER BY doc_id NULLS FIRST"""))

  /** Data-quality constraint audit — the Deequ / dbt-test / Great-
    * Expectations pattern every warehouse sync runs before publishing:
    * declared constraints checked in bulk, emitting one audit row per
    * constraint with violation and checked counts (the audit TABLE is
    * the contract — alerting thresholds read it, WAP-style gates join
    * it). Checks: range (l_quantity ∈ [1, 50], l_discount ∈ [0, 0.1]),
    * domain (o_orderstatus ∈ {F, O, P}), NOT NULL (o_custkey), key
    * uniqueness (o_orderkey), referential containment (l_orderkey ⊆
    * orders). Scale shape: ALL per-row predicates on one table fuse
    * into ONE conditional-sum aggregate scan of that table (never one
    * scan per check); uniqueness is one keyed agg; the FK check is a
    * left-anti join that AQE sizes — 100 TB cost is two table scans +
    * one join, independent of how many row-level constraints are
    * declared.
    */
  val opConstraintAudit: Q = Q(
    "op_constraint_audit",
    (s, d) => {
      import s.implicits._
      val li = Tables.read(s, d, "lineitem")
      val ord = Tables.read(s, d, "orders").truncated // agg + dup + FK legs
      // NULL counts as a violation of range/domain constraints (standard
      // constraint semantics; `|| isNull` matches the oracle's OR IS NULL)
      val liAgg = li.agg(
        count(lit(1)).as("n_li"),
        sum(when(!col("l_quantity").between(1, 50) || col("l_quantity").isNull,
          1L).otherwise(0L)).as("qty_bad"),
        sum(when(!col("l_discount").between(0.0, 0.1) || col("l_discount").isNull,
          1L).otherwise(0L)).as("disc_bad")
      ).head()
      val ordAgg = ord.agg(
        count(lit(1)).as("n_ord"),
        sum(when(!col("o_orderstatus").isin("F", "O", "P") ||
          col("o_orderstatus").isNull, 1L).otherwise(0L)).as("st_bad"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("cust_null")
      ).head()
      val dupKeys = ord.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
      val fkOrphans = li.select(col("l_orderkey"))
        .join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .count()
      Seq(
        ("fk_lineitem_orders", fkOrphans, liAgg.getLong(0)),
        ("not_null_o_custkey", ordAgg.getLong(2), ordAgg.getLong(0)),
        ("range_l_discount", liAgg.getLong(2), liAgg.getLong(0)),
        ("range_l_quantity", liAgg.getLong(1), liAgg.getLong(0)),
        ("status_domain", ordAgg.getLong(1), ordAgg.getLong(0)),
        ("unique_o_orderkey", dupKeys, ordAgg.getLong(0))
      ).toDF("check_name", "n_violations", "n_checked")
        .orderBy(asc_nulls_first("check_name"))
    },
    Some("""SELECT 'fk_lineitem_orders' AS check_name,
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))
                     AS n_violations,
                   (SELECT count(*) FROM lineitem) AS n_checked
            UNION ALL
            SELECT 'not_null_o_custkey',
                   (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
                   (SELECT count(*) FROM orders)
            UNION ALL
            SELECT 'range_l_discount',
                   (SELECT count(*) FROM lineitem
                    WHERE l_discount NOT BETWEEN 0.0 AND 0.1
                       OR l_discount IS NULL),
                   (SELECT count(*) FROM lineitem)
            UNION ALL
            SELECT 'range_l_quantity',
                   (SELECT count(*) FROM lineitem
                    WHERE l_quantity NOT BETWEEN 1 AND 50 OR l_quantity IS NULL),
                   (SELECT count(*) FROM lineitem)
            UNION ALL
            SELECT 'status_domain',
                   (SELECT count(*) FROM orders
                    WHERE o_orderstatus NOT IN ('F', 'O', 'P')
                       OR o_orderstatus IS NULL),
                   (SELECT count(*) FROM orders)
            UNION ALL
            SELECT 'unique_o_orderkey',
                   (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
                     (SELECT count(*) AS c FROM orders
                      GROUP BY o_orderkey HAVING count(*) > 1)),
                   (SELECT count(*) FROM orders)
            ORDER BY check_name NULLS FIRST"""))

  /** MERGE INTO — the canonical three-branch warehouse merge (ANSI
    * MERGE; Delta/Iceberg `MERGE INTO`), the branch-conditional
    * generalization of the CDC apply ops: a source delta carries an op
    * column, and WHEN MATCHED AND op='U' updates, WHEN MATCHED AND
    * op='D' deletes, WHEN NOT MATCHED (op='I') inserts — in ONE pass.
    * Physical shape is the join-based merge every lakehouse engine
    * runs: a single full-outer key join of target and source, then a
    * per-row CASE selects the surviving (status, price) — one shuffle
    * on the merge key; at 100 TB engines prune it further with a
    * touched-file pre-join, which is [[opZonemapPrune]]'s machinery.
    * The delta is derived deterministically (updates `% 7 = 3` with
    * +1000.0 re-price, deletes `% 11 = 5`, inserts = re-keyed `% 13 =
    * 1` rows above max key via one O(1) scalar), so the oracle states
    * the merged table relationally and the hash gate checks every
    * surviving row of all three branches.
    */
  val sinkMergeInto: Q = Q(
    "sink_merge_into",
    (s, d) => {
      val target = Tables.read(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .truncated // referenced by the max probe, 3 branches, and the join
      // O(1) driver scalar, reproduced by the oracle's own max() agg
      val maxKey = target.agg(max(col("o_orderkey"))).head.getLong(0)
      val src = target.filter(col("o_orderkey") % 7 === 3)
        .select(col("o_orderkey").as("s_key"), lit("U").as("op"),
          (col("o_totalprice") + 1000.0).as("s_price"))
        .unionByName(target.filter(col("o_orderkey") % 11 === 5)
          .select(col("o_orderkey").as("s_key"), lit("D").as("op"),
            lit(null).cast(DoubleType).as("s_price")))
        .unionByName(target.filter(col("o_orderkey") % 13 === 1)
          .select((col("o_orderkey") + maxKey).as("s_key"), lit("I").as("op"),
            col("o_totalprice").as("s_price")))
        // deterministic clause precedence for keys matching several
        // branches (e.g. % 7 = 3 AND % 11 = 5): 'U' > 'D' — the update
        // wins and carries its re-price; insert keys are disjoint (> max)
        .groupBy(col("s_key"))
        .agg(max(col("op")).as("op"), max(col("s_price")).as("s_price"))
      target.join(src, col("o_orderkey") === col("s_key"), "full_outer")
        .filter(!(col("op") === "D" && col("o_orderkey").isNotNull) ||
          col("op").isNull)
        .select(
          coalesce(col("o_orderkey"), col("s_key")).as("o_orderkey"),
          when(col("op") === "U", lit("U"))
            .when(col("op") === "I" && col("o_orderkey").isNull, lit("I"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          coalesce(col("s_price"), col("o_totalprice")).as("o_totalprice"))
        .orderBy(asc_nulls_first("o_orderkey"))
    },
    Some("""WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
            updates AS (SELECT o_orderkey AS s_key, 'U' AS op,
                               o_totalprice + 1000.0 AS s_price
                        FROM orders WHERE o_orderkey % 7 = 3),
            deletes AS (SELECT o_orderkey AS s_key, 'D' AS op,
                               CAST(NULL AS DOUBLE) AS s_price
                        FROM orders WHERE o_orderkey % 11 = 5),
            inserts AS (SELECT o_orderkey + mx.mk AS s_key, 'I' AS op,
                               o_totalprice AS s_price
                        FROM orders, mx WHERE o_orderkey % 13 = 1),
            src AS (SELECT s_key, max(op) AS op, max(s_price) AS s_price
                    FROM (SELECT * FROM updates UNION ALL
                          SELECT * FROM deletes UNION ALL
                          SELECT * FROM inserts)
                    GROUP BY s_key),
            merged AS (SELECT COALESCE(t.o_orderkey, s.s_key) AS o_orderkey,
                              CASE WHEN s.op = 'U' THEN 'U'
                                   WHEN s.op = 'I' AND t.o_orderkey IS NULL THEN 'I'
                                   ELSE t.o_orderstatus END AS o_orderstatus,
                              COALESCE(s.s_price, t.o_totalprice) AS o_totalprice,
                              t.o_orderkey AS t_key, s.op AS op
                       FROM orders t FULL JOIN src s ON t.o_orderkey = s.s_key)
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM merged
            WHERE NOT (op = 'D' AND t_key IS NOT NULL) OR op IS NULL
            ORDER BY o_orderkey NULLS FIRST"""))

  /** One WAP cycle: stage `candidate` under `base/staging/<name>`, run
    * the intrinsic audits (non-empty; no NULL day; (day, event_type)
    * unique — ONE aggregate pass over the staged files), and publish by
    * pointing the manifest at the staged dir ONLY if every audit holds.
    * Returns the audit rows.
    */
  private def wapCycle(s: SparkSession, base: String, name: String,
                       candidate: DataFrame): Seq[(String, String, Boolean)] = {
    val stageDir = s"$base/staging/$name"
    candidate.write.mode("overwrite").parquet(stageDir)
    val staged = s.read.parquet(stageDir)
    // coalesce the null-count: over an EMPTY candidate sum() is NULL, and
    // the empty build must surface as a red non_empty audit, not an NPE
    val m = staged.agg(
      count(lit(1)).as("rows"),
      coalesce(sum(when(col("day").isNull, 1L).otherwise(0L)), lit(0L))
        .as("null_days"),
      count_distinct(col("day"), col("event_type")).as("keys")).head()
    val audits = Seq(
      (name, "non_empty", m.getLong(0) > 0L),
      (name, "no_null_day", m.getLong(1) == 0L),
      (name, "key_unique", m.getLong(2) == m.getLong(0)))
    if (audits.forall(_._3)) {
      val tmp = Paths.get(s"$base/MANIFEST.tmp")
      Files.write(tmp, stageDir.getBytes("UTF-8"))
      Files.move(tmp, Paths.get(s"$base/MANIFEST"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    audits
  }

  /** Write-audit-publish — the lakehouse WAP pattern (Iceberg's
    * `write.wap.enabled` branch-audit-cherry-pick flow; dbt/Delta blue-
    * green table swaps) that completes the table-service family next to
    * [[srcTimeTravelRead]] and [[sinkVacuumRetention]]: every rebuild of
    * a published table is STAGED to its own directory, AUDITED there
    * (one aggregate pass: non-empty, no NULL partition key, key
    * uniqueness), and only a fully-green audit atomically repoints the
    * manifest — readers never observe a half-written or corrupt table.
    * The fixture runs two cycles: a good daily-aggregate build
    * (publishes), then a CORRUPT rebuild with a duplicated day slice
    * (key-uniqueness audit fails → manifest untouched). The op reads
    * THROUGH the manifest, so the oracle hash-checks that the corrupt
    * candidate never leaked; Round18Spec pins the staged-but-unpublished
    * directory and the audit log. At 100 TB: audits are one agg over the
    * staged files, publish is an O(1) metadata swap. Returns (manifest
    * path, audit log of (candidate, check, passed), published data dir),
    * built once per corpus per JVM.
    */
  private[operators] def wapPublish(s: SparkSession, d: String)
      : (String, Seq[(String, String, Boolean)], String) =
    Memo.corpus(d, "wap_publish") {
      val base = graft.util.TempDirs.create("graft_wap").toString
      val daily = Tables.read(s, d, "events")
        .groupBy(expr("(ts div 1000) div 86400000000").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DecimalType(28, 2)).as("total_value"))
      val a1 = wapCycle(s, base, "v_good", daily)
      // the corrupt rebuild: an upstream join bug duplicates the
      // day % 5 = 2 slice → key-uniqueness audit must catch it
      val corrupt = daily.unionByName(daily.filter(col("day") % 5 === 2))
      val a2 = wapCycle(s, base, "v_corrupt", corrupt)
      val published = new String(Files.readAllBytes(
        Paths.get(s"$base/MANIFEST")), "UTF-8")
      (s"$base/MANIFEST", a1 ++ a2, published)
    }

  val sinkWapPublish: Q = Q(
    "sink_wap_publish",
    (s, d) => {
      val (_, _, publishedDir) = wapPublish(s, d)
      s.read.parquet(publishedDir)
        .select(col("day"), col("event_type"), col("n_rows"),
          col("total_value").cast(DoubleType).as("total_value"))
        .orderBy(asc_nulls_first("day"), asc_nulls_first("event_type"))
    },
    Some("""SELECT epoch_us(ts) // 86400000000 AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_value
            FROM events
            GROUP BY 1, 2
            ORDER BY day NULLS FIRST, event_type NULLS FIRST"""))

  /** Retention vacuum over a version chain with FILE SHARING — the
    * lakehouse `VACUUM` (Delta `VACUUM`, Iceberg `expireSnapshots`) that
    * completes [[srcTimeTravelRead]]'s chain story: versions v0–v2 share
    * untouched bucket files by reference; vacuuming to retention = head
    * diffs the data listing against the union of retained manifests and
    * deletes only ORPHANED files (b1_g0, b2_g0 — superseded and
    * unreferenced), never files the head still shares (b0_g0, b3_g0
    * survive from v0). The op reads the head THROUGH the post-vacuum
    * manifest and aggregates; the oracle derives the same state
    * logically (update on bucket 1, delete of the `% 8 = 6` slice), so
    * the hash gate proves vacuum deleted nothing the head needs.
    * VacuumSpec pins the other half — the orphans are really gone and
    * are exactly the superseded set. At 100 TB vacuum is this same
    * O(#files) manifest diff; the deletes are metadata ops.
    */
  val sinkVacuumRetention: Q = Q(
    "sink_vacuum_retention",
    (s, d) => {
      val (_, head, _, _) = vacuumChain(s, d)
      s.read.parquet(head: _*)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_price"))
        .orderBy(asc_nulls_first("o_orderstatus"))
    },
    Some("""WITH t AS (SELECT CASE WHEN o_orderkey % 4 = 1 THEN 'U'
                                   ELSE o_orderstatus END AS o_orderstatus,
                              CASE WHEN o_orderkey % 4 = 1
                                   THEN o_totalprice + 1000.0
                                   ELSE o_totalprice END AS o_totalprice
                       FROM orders WHERE o_orderkey % 8 <> 6)
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price
            FROM t GROUP BY o_orderstatus
            ORDER BY o_orderstatus NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    srcSnapshotScan, srcJdbcSnapshot, srcJsonPayloadExtract,
    srcCdcEnvelopeUnwrap, srcKafkaStream, opTopicRouteRegex,
    sinkUpsertLatestByKey, sinkCdcApplyUpsertOnly, sinkCdcApplyWithDeletes,
    opSchemaDdlTypemap, opSchemaDdlFanout,
    opInsertAppend, srcCsvRoundtrip, srcJsonlRoundtrip, opScd2Intervals,
    srcPartitionedRoundtrip, srcOrcRoundtrip, srcSchemaMergeRoundtrip,
    opZorderLayout, opZorder3Layout, sinkDynamicPartitionOverwrite,
    srcCsvQuarantine, srcCdcQuarantine, opTableProfile, opDppStarJoin,
    sinkCompactSmallFiles, opTableProfileSketch, sinkMvIncrementalRefresh,
    sinkCompactMergeDedup, opZonemapPrune, sinkMvSketchRefresh,
    srcTsRangePrune, opZonemapIncremental, srcTimeTravelRead,
    sinkScd2Apply, sinkVacuumRetention, opBloomSkipIndex, sinkWapPublish,
    sinkMergeInto, opConstraintAudit, srcBinaryFiles, srcXmlRoundtrip,
    srcTextRoundtrip, opCountMetadataOnly, sinkEqualityDeleteRead)
}
