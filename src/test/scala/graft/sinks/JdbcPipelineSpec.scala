package graft.sinks

import java.nio.file.{Files, Path}
import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Upsert
import graft.sources.JdbcSnapshot

/** End-to-end CDC pipeline over REAL JDBC (embedded Derby, which ships
  * with Spark): the reference's full dataflow — op-log stream → per-batch
  * dedup → keyed upsert into a SQL sink → snapshot read-back — with the
  * golden scenario from reference `setup.sh:155-207`. Two micro-batches
  * (inserts, then delete+insert+update) exercise cross-batch state.
  */
class JdbcPipelineSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private val writeSingleFile =
    graft.streaming.StreamingOps.writeSingleFile(_: DataFrame, _: Path, _: Path, _: Long)

  /** Execute DDL, tolerating Derby's table-exists error (SQLState
    * X0Y32) so any test in this suite can ensure its fixture without
    * depending on which sibling ran first.
    */
  private def ensureTable(ddl: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(ddl)
    catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
    } finally conn.close()
  }

  private val users3Ddl = AnsiDeleteInsertDialect.createTableDdl("app", "users3",
    Seq("user_id" -> "integer", "username" -> "character varying",
      "account_type" -> "character varying",
      "updated_at" -> "timestamp without time zone",
      "created_at" -> "timestamp without time zone"))

  test("streaming CDC op-log upserts into Derby; snapshot read-back matches golden") {
    import spark.implicits._
    ensureTable(
      "CREATE TABLE users (user_id INT PRIMARY KEY, username VARCHAR(255), " +
        "account_type VARCHAR(50), version BIGINT)")

    val base = graft.util.TempDirs.create("graft_jdbc")
    val streamDir = base.resolve("stream")
    Files.createDirectories(streamDir)
    // batch 1: the three inserts (setup.sh:155-161)
    writeSingleFile(
      Seq(("u", 1, "user1", "Bronze", 1L), ("u", 2, "user2", "Silver", 2L),
        ("u", 3, "user3", "Gold", 3L))
        .toDF("op", "user_id", "username", "account_type", "version"),
      base.resolve("b1"), streamDir.resolve("b1.parquet"), 1000000L)
    // batch 2: delete user 1 (dropped), insert + update 999 (setup.sh:191-207)
    writeSingleFile(
      Seq(("d", 1, null, null, 4L), ("u", 999, "test_user", "Test", 5L),
        ("u", 999, "updated_user", "Test", 6L))
        .toDF("op", "user_id", "username", "account_type", "version"),
      base.resolve("b2"), streamDir.resolve("b2.parquet"), 2000000L)

    val schema = spark.read.parquet(streamDir.toString).schema
    val sink = JdbcUpsertSink.upsertBatch(url, "users", Seq("user_id"))
    val query = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // reference delete semantics: tombstones dropped before the sink;
        // key-unique per batch via the deterministic latest-by-key window
        sink(Upsert.applyCdc(batch, col("op"), Seq(col("user_id")),
          Seq(col("version"))).drop("op"), id)
      }
      .option("checkpointLocation", base.resolve("cp").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()

    val state = JdbcSnapshot.read(spark, url, "users")
      .select("user_id", "username", "account_type")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(state == Set(
      (1, "user1", "Bronze"), (2, "user2", "Silver"), (3, "user3", "Gold"),
      (999, "updated_user", "Test")))
  }

  test("tolerant CDC apply: good rows land, malformed quarantined, replay converges") {
    import spark.implicits._
    ensureTable("CREATE TABLE users2 (user_id INT PRIMARY KEY, " +
      "username VARCHAR(255), account_type VARCHAR(50), " +
      "updated_at TIMESTAMP, created_at TIMESTAMP)")
    ensureTable("CREATE TABLE users2_dlq (raw VARCHAR(2000), error VARCHAR(50))")

    def env(id: Int, name: String): String =
      s"""{"schema":{"type":"struct","fields":[],"name":"postgres_cdc.iman.users.Value"},""" +
        s""""payload":{"user_id":$id,"username":"$name","account_type":"Bronze",""" +
        s""""updated_at":1754155842030174,"created_at":1754155842030174}}"""
    // 2 good envelopes, 1 malformed (errors.tolerance=all keeps going),
    // 1 tombstone (null value — dropped silently, setup.sh:107)
    val batch = Seq(Some(env(1, "user1")), Some(env(2, "user2")),
      Some("{corrupt"), None).toDF("value")

    val sink = JdbcUpsertSink.tolerantCdcBatch(url, "users2", Seq("user_id"),
      "users2_dlq", col("value"), graft.sources.CdcEnvelope.usersPayload,
      Seq("updated_at", "created_at"))
    sink(batch, 0L)
    sink(batch, 0L) // at-least-once redelivery must converge, not duplicate

    val users = graft.sources.JdbcSnapshot.read(spark, url, "users2")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(users == Set((1, "user1"), (2, "user2")))
    val dlq = graft.sources.JdbcSnapshot.read(spark, url, "users2_dlq")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(dlq.toSeq == Seq(("{corrupt", "unparseable_json")))
  }

  test("tolerant CDC apply: a bad message twice in one batch lands once in a raw-keyed DLQ") {
    import spark.implicits._
    // its own database, so the catalog-walk inventory below stays fixed
    val dlqUrl = "jdbc:derby:memory:graftdlq;create=true"
    val conn = DriverManager.getConnection(dlqUrl)
    try {
      conn.createStatement().execute("CREATE TABLE users (user_id INT PRIMARY KEY, " +
        "username VARCHAR(255), account_type VARCHAR(50), " +
        "updated_at TIMESTAMP, created_at TIMESTAMP)")
      // the DLQ DDL derived from the quarantine schema: PRIMARY KEY (raw)
      conn.createStatement().execute(AnsiDeleteInsertDialect.createTableDdlFromSpark(
        "app", "users_dlq", org.apache.spark.sql.types.StructType.fromDDL("raw STRING, error STRING")))
    } finally conn.close()
    val good = """{"payload":{"user_id":1,"username":"user1","account_type":"Bronze",""" +
      """"updated_at":1754155842030174,"created_at":1754155842030174}}"""
    // a redelivered corrupt message and two empty strings in one micro-batch
    // of one partition (one file), so one sink transaction sees each twice
    val batch = Seq(good, "{corrupt", "", "{corrupt", "").toDF("value").coalesce(1)
    JdbcUpsertSink.tolerantCdcBatch(dlqUrl, "users", Seq("user_id"), "users_dlq",
      col("value"), graft.sources.CdcEnvelope.usersPayload,
      Seq("updated_at", "created_at"))(batch, 0L)

    val users = JdbcSnapshot.read(spark, dlqUrl, "users").collect().map(_.getInt(0)).toSeq
    assert(users == Seq(1))
    val dlq = JdbcSnapshot.read(spark, dlqUrl, "users_dlq")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dlq == Set(("{corrupt", "unparseable_json"), ("", "unparseable_json")))
  }

  test("dialect renderers: ClickHouse is the reference golden; ANSI is executable") {
    val refCols = Seq(
      "user_id" -> "integer", "username" -> "character varying",
      "account_type" -> "character varying",
      "updated_at" -> "timestamp without time zone",
      "created_at" -> "timestamp without time zone")
    // the exact DDL the reference generates and ships (README.md:108)
    assert(ClickHouseDialect.createTableDdl("iman", "users", refCols) ==
      "CREATE TABLE IF NOT EXISTS iman.users (user_id UInt32, username String, " +
        "account_type String, updated_at DateTime64(6), created_at DateTime64(6)) " +
        "ENGINE = ReplacingMergeTree() ORDER BY user_id;")
    // ReplacingMergeTree upsert = INSERT-only: merge-time dedup replaces
    // the keyed delete (setup.sh:63)
    assert(ClickHouseDialect.deleteByKeySql("iman.users", Seq("user_id")).isEmpty)
    assert(ClickHouseDialect.insertSql("iman.users", Seq("user_id", "username")) ==
      "INSERT INTO iman.users (user_id, username) VALUES (?, ?)")
    // ANSI renders the delete+insert pair, and its DDL executes on Derby
    assert(AnsiDeleteInsertDialect.deleteByKeySql("users", Seq("user_id")) ==
      Some("DELETE FROM users WHERE user_id = ?"))
    val ansiDdl = AnsiDeleteInsertDialect.createTableDdl("app", "users3", refCols)
    assert(ansiDdl == "CREATE TABLE users3 (user_id INT, username VARCHAR(255), " +
      "account_type VARCHAR(255), updated_at TIMESTAMP, created_at TIMESTAMP, " +
      "PRIMARY KEY (user_id))")
    ensureTable(ansiDdl) // proves the rendered DDL executes on Derby
  }

  test("upsert through the explicit dialect seam replays idempotently on Derby") {
    import spark.implicits._
    ensureTable(users3Ddl) // order-independent fixture
    val batch = Seq((7, "d1"), (8, "d2")).toDF("user_id", "username")
    val sink = JdbcUpsertSink.upsertBatch(url, "users3", Seq("user_id"),
      AnsiDeleteInsertDialect)
    sink(batch, 0L)
    sink(batch, 0L) // replay must converge via the dialect's delete leg
    val got = JdbcSnapshot.read(spark, url, "users3")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((7, "d1"), (8, "d2")))
  }

  test("JDBC catalog discovery ≡ inventory (the reference's information_schema walk)") {
    // the reference discovers its table list over the wire
    // (setup.sh:29-34); DatabaseMetaData.getTables is the JDBC-standard
    // rendering of that walk — here against Derby's system catalog.
    // Fixtures ensured here too, so the test is order-independent.
    ensureTable("CREATE TABLE users (user_id INT PRIMARY KEY, " +
      "username VARCHAR(255), account_type VARCHAR(50), version BIGINT)")
    ensureTable("CREATE TABLE users2 (user_id INT PRIMARY KEY, " +
      "username VARCHAR(255), account_type VARCHAR(50), " +
      "updated_at TIMESTAMP, created_at TIMESTAMP)")
    ensureTable("CREATE TABLE users2_dlq (raw VARCHAR(2000), error VARCHAR(50))")
    ensureTable(users3Ddl)
    val discovered = JdbcSnapshot.discoverTables(url, "APP")
    assert(discovered == Seq("USERS", "USERS2", "USERS2_DLQ", "USERS3"),
      s"catalog walk drifted from the created inventory: $discovered")
    // no-pattern default scopes to the CONNECTION's current schema (APP
    // for Derby embedded) — a "%" default would fan out every schema on
    // a shared catalog and collide same-named tables across schemas
    assert(JdbcSnapshot.discoverTables(url) == discovered,
      "default discovery must equal the current-schema walk")
    // the cross-schema walk keeps the qualifier, so same-named tables in
    // different schemas stay distinct through the fan-out
    val qualified = JdbcSnapshot.discoverSchemaTables(url, "APP")
    assert(qualified == discovered.map(("APP", _)),
      s"schema-qualified walk drifted: $qualified")
    // discovery feeds the same per-table DDL fan-out the session-catalog
    // path runs (op_schema_ddl_fanout): one rendered DDL per discovery
    val ddls = discovered.map(t =>
      ClickHouseDialect.createTableDdlFromSpark("app", t.toLowerCase,
        JdbcSnapshot.read(spark, url, t).schema))
    assert(ddls.length == discovered.length &&
      ddls.forall(_.startsWith("CREATE TABLE IF NOT EXISTS app.")))
  }

  test("partitioned JDBC snapshot returns the same rows as single-connection") {
    val whole = JdbcSnapshot.read(spark, url, "users")
      .collect().map(_.getInt(0)).toSet
    val parts = JdbcSnapshot.partitioned(spark, url, "users",
      "user_id", lower = 0, upper = 1000, numPartitions = 3)
    assert(parts.rdd.getNumPartitions == 3)
    assert(parts.collect().map(_.getInt(0)).toSet == whole)
  }
}
