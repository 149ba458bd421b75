package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.sources.{SchemaEvolution, TypeMap}

class SkewAndEvolutionSpec extends SparkSpec {

  /** Skew-salted equi join (SURVEY §4.3 "salting for skew"): the big side
    * gets a deterministic salt from a unique column (never `rand()`, so a
    * retried task makes the same rows), the small side is replicated over
    * every salt, and the join key becomes (key, salt). `join_skew_salted`
    * is the registry cell built this way.
    */
  private def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String, smallKey: String,
                         bigSaltSource: Column, buckets: Int): DataFrame = {
    val saltedBig = big.withColumn("__graft_salt", pmod(xxhash64(bigSaltSource), lit(buckets.toLong)))
    val replicatedSmall = small.withColumn("__graft_salt",
      explode(expr(s"sequence(0L, ${buckets - 1}L)")))
    saltedBig.join(replicatedSmall,
        saltedBig(bigKey) === replicatedSmall(smallKey) &&
          saltedBig("__graft_salt") === replicatedSmall("__graft_salt"))
      .drop("__graft_salt")
  }

  test("DDL sweep emits one row per corpus table plus the golden users DDL") {
    val rows = SourceOps.opSchemaDdlTypemap.fn(spark, sf).collect()
    assert(rows.length == Tables.all.length + 1)
    val byTable = rows.map(r => r.getString(1) -> r.getString(2)).toMap
    assert(Tables.all.forall(t => byTable(t).startsWith(s"CREATE TABLE IF NOT EXISTS graft.$t (")))
    assert(byTable("users") ==
      "CREATE TABLE IF NOT EXISTS iman.users (user_id UInt32, username String, " +
        "account_type String, updated_at DateTime64(6), created_at DateTime64(6)) " +
        "ENGINE = ReplacingMergeTree() ORDER BY user_id;")
  }

  test("salted join returns exactly the plain join's rows") {
    val o = Tables.read(spark, sf, "orders")
    val c = Tables.read(spark, sf, "customer")
    val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val salted = saltedJoin(o, c, "o_custkey", "c_custkey",
        col("o_orderkey"), buckets = 8)
      .select("o_orderkey", "c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(salted.sameElements(plain))
  }

  test("salted join shuffles on (key, salt)") {
    val o = Tables.read(spark, sf, "orders")
    val c = Tables.read(spark, sf, "customer")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = saltedJoin(o, c, "o_custkey", "c_custkey",
        col("o_orderkey"), buckets = 8).queryExecution.executedPlan.toString()
      assert(p.contains("__graft_salt"), p)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("salting a skewed events key keeps rows and shrinks the hottest shuffle partition") {
    // model a Zipf head on events.user_id: route ~75% of rows to one hot key
    val ev = Tables.read(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(4)) =!= 0, lit(42L)).otherwise(col("user_id")))
      .cache()
    val dim = ev.select(col("user_id").as("d_key")).distinct()
      .withColumn("d_tag", concat(lit("u"), col("d_key")))
    // row-equivalence: salted join emits exactly the plain join's rows
    val plain = ev.join(dim, ev("user_id") === dim("d_key"))
      .select("event_id", "d_tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val salted = saltedJoin(ev, dim, "user_id", "d_key",
        col("event_id"), buckets = 8)
      .select("event_id", "d_tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
    // partition balance: hashing the big side by (key, salt) must shrink
    // the hottest shuffle partition well below the unsalted hot-key one
    def maxPartitionRows(df: org.apache.spark.sql.DataFrame): Long =
      df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
    val unsaltedMax = maxPartitionRows(ev.repartition(32, col("user_id")))
    val saltedMax = maxPartitionRows(
      ev.withColumn("__graft_salt", pmod(xxhash64(col("event_id")), lit(8L)))
        .repartition(32, col("user_id"), col("__graft_salt")))
    val total = ev.count()
    assert(unsaltedMax >= (total * 3) / 4, s"hot key should dominate: $unsaltedMax / $total")
    assert(saltedMax * 3 < unsaltedMax,
      s"salting should spread the hot key: salted=$saltedMax unsalted=$unsaltedMax")
  }

  test("AQE skew-join splits the hot partition the manual salt otherwise cures") {
    // Same Zipf-headed events key as the salting test above, run through
    // Spark's OWN runtime cure: AQE's OptimizeSkewedJoin re-plans the hot
    // shuffle partition into sub-splits after the map stage publishes its
    // sizes. This pins WHEN the manual `saltedJoin` is needed: a
    // plain shuffle JOIN on a skewed key is AQE's case — no salt required
    // at any scale, just skew-join left enabled. The salt remains the
    // only cure where AQE cannot act: skewed AGGREGATIONS (no join to
    // split), and — found while building this fixture — joins whose
    // shuffle is not DIRECTLY under the join's sort: the rule's pattern
    // match rejects any operator in between, so a dim built by
    // `distinct()` (final HashAggregate above the exchange) silently
    // disables the split. The dim here is therefore a plain keyed frame.
    def hotEvents(s: org.apache.spark.sql.SparkSession) =
      Tables.read(s, sf, "events")
        .select(col("user_id"), col("event_id"))
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(4)) =!= 0, lit(42L)).otherwise(col("user_id")))
        // ~100 B/row payload, KEPT in the join output so pruning cannot
        // drop it: the sf0.001 rows are two longs with a constant hot
        // key — they compress below any byte threshold the detector
        // could meaningfully use
        .withColumn("pad", lpad(col("event_id").cast("string"), 100, "x"))
        // the single-file corpus scans as ONE map task, and AQE splits a
        // skewed reduce partition at map-output-BLOCK granularity — fan
        // the map side out first so the hot partition is splittable, as
        // any real multi-file table would be
        .repartition(8, col("event_id"))
    def joinOf(s: org.apache.spark.sql.SparkSession) = {
      val ev = hotEvents(s)
      // covers every user id incl. the hot 42; aggregation-free so the
      // dim side is a bare shuffle under the join (see comment above)
      val dim = s.range(0, 20000).select(col("id").as("d_key"))
        .withColumn("d_tag", concat(lit("u"), col("d_key")))
      ev.join(dim, ev("user_id") === dim("d_key")).select("event_id", "pad", "d_tag")
    }
    // AQE-tuned sibling session (conf stays session-local): thresholds
    // shrink the skew DETECTOR to this corpus' KB-scale partitions — the
    // production defaults (256 MB / factor 5) express the same rule
    def session(skewJoin: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s
    }
    val aqe = joinOf(session(skewJoin = true))
    val rows = aqe.collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    // the FINAL adaptive plan (printed only after execution) must carry
    // the skew-split marker on the join
    val plan = aqe.queryExecution.executedPlan.toString()
    assert(plan.contains("skew=true"), plan.take(1500))
    // the split is a pure re-plan: rows identical to the undoctored join
    val control = joinOf(session(skewJoin = false))
    val controlRows = control.collect()
      .map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(!control.queryExecution.executedPlan.toString().contains("skew=true"))
    assert(rows == controlRows && rows.nonEmpty)
  }

  test("schema evolution: DDL + conform reproduce auto.evolve semantics") {
    import spark.implicits._
    val v1 = StructType(Seq(
      StructField("user_id", LongType), StructField("username", StringType)))
    val v2 = StructType(Seq(
      StructField("user_id", LongType), StructField("username", StringType),
      StructField("email", StringType), StructField("score", DoubleType)))

    assert(SchemaEvolution.missingColumns(v1, v2).map(_.name) == Seq("email", "score"))
    assert(SchemaEvolution.missingColumns(v1, v2).map(f =>
      s"ALTER TABLE iman.users ADD COLUMN IF NOT EXISTS ${f.name} ${TypeMap.sparkToClickHouse(f.dataType)};") == Seq(
      "ALTER TABLE iman.users ADD COLUMN IF NOT EXISTS email String;",
      "ALTER TABLE iman.users ADD COLUMN IF NOT EXISTS score Float64;"))
    assert(SchemaEvolution.missingColumns(v2, v1).isEmpty) // additive only

    val evolved = SchemaEvolution.evolve(v1, v2)
    val oldBatch = Seq((1L, "a")).toDF("user_id", "username")
    val newBatch = Seq((2L, "b", "b@x", 0.5)).toDF("user_id", "username", "email", "score")
    val unioned = SchemaEvolution.conform(oldBatch, evolved)
      .unionByName(SchemaEvolution.conform(newBatch, evolved))
      .orderBy("user_id").collect()
    assert(unioned.length == 2)
    assert(unioned.head.isNullAt(2) && unioned.head.isNullAt(3)) // back-filled
    assert(unioned(1).getString(2) == "b@x" && unioned(1).getDouble(3) == 0.5)
  }
}
