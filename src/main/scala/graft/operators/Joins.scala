package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Q, Tables}

/** SURVEY §2.3 — joins (all EXT; star-schema surface).
  *
  * Scale notes: equi joins shuffle on their keys and AQE picks
  * broadcast/skew handling at runtime; `join_broadcast` pins the broadcast
  * explicitly for the dimension side. The as-of join deliberately avoids a
  * per-key sort-merge self-join: it is a union + single key-partitioned
  * window pass (one shuffle), which survives 100× scale-up; the interval
  * join keeps an equality key so Catalyst plans a hash join with the range
  * as a post-filter (never a BroadcastNestedLoop over the fact table).
  */
object Joins {

  val joinInnerHash: Q = Q.sql(
    "join_inner_hash",
    """SELECT o_orderkey, c_custkey, c_name, o_totalprice
       FROM orders JOIN customer ON o_custkey = c_custkey
       ORDER BY o_orderkey NULLS FIRST""")

  /** Broadcast equi join — same result as a shuffled join, physically a
    * BroadcastHashJoin (the correct plan for a 25-row dimension at any
    * scale).
    */
  val joinBroadcast: Q = Q(
    "join_broadcast",
    (s, d) => {
      val n = Tables.read(s, d, "nation")
      val r = Tables.read(s, d, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(asc_nulls_first("n_nationkey"))
    },
    Some("""SELECT n_nationkey, n_name, r_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
            ORDER BY n_nationkey NULLS FIRST"""))

  val joinLeftOuter: Q = Q.sql(
    "join_left_outer",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
       FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""")

  val joinRightOuter: Q = Q.sql(
    "join_right_outer",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
       FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
       ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""")

  /** Full outer over deliberately part-disjoint key subsets of nation. */
  val joinFullOuter: Q = Q.sql(
    "join_full_outer",
    """SELECT n1.k1, n1.name1, n2.k2, n2.name2
       FROM (SELECT n_nationkey AS k1, n_name AS name1 FROM nation WHERE n_nationkey < 15) n1
       FULL JOIN (SELECT n_nationkey AS k2, n_name AS name2 FROM nation WHERE n_nationkey >= 10) n2
         ON n1.k1 = n2.k2
       ORDER BY k1 NULLS FIRST, k2 NULLS FIRST""")

  val joinLeftSemi: Q = Q(
    "join_left_semi",
    (s, d) => {
      val c = Tables.read(s, d, "customer")
      val o = Tables.read(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(asc_nulls_first("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey NULLS FIRST"""))

  val joinLeftAnti: Q = Q(
    "join_left_anti",
    (s, d) => {
      val c = Tables.read(s, d, "customer")
      val o = Tables.read(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(asc_nulls_first("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey NULLS FIRST"""))

  val joinCross: Q = Q.sql(
    "join_cross",
    """SELECT a.r_regionkey AS ka, a.r_name AS name_a,
              b.r_regionkey AS kb, b.r_name AS name_b
       FROM region a CROSS JOIN region b
       ORDER BY ka NULLS FIRST, kb NULLS FIRST""")

  /** Non-equi theta join (BroadcastNestedLoop — acceptable only because both
    * sides are tiny dimensions; never do this on a fact table).
    */
  val joinThetaRange: Q = Q(
    "join_theta_range",
    (s, d) => {
      val n = Tables.read(s, d, "nation")
      val a = n.select(col("n_nationkey").as("ka"), col("n_name").as("name_a"))
      val b = n.select(col("n_nationkey").as("kb"), col("n_name").as("name_b"))
      a.join(b, col("ka") < col("kb"))
        .orderBy(asc_nulls_first("ka"), asc_nulls_first("kb"))
    },
    Some("""SELECT a.n_nationkey AS ka, a.n_name AS name_a,
                   b.n_nationkey AS kb, b.n_name AS name_b
            FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
            ORDER BY ka NULLS FIRST, kb NULLS FIRST"""))

  /** Shared backward-as-of engine: merge-tagged union + one user-keyed
    * LOCF window, returning each click with its latest signup at-or-before
    * (pre-presentation; consumers add tolerance/null-out/sort).
    */
  private def asofBackwardMatched(s: SparkSession, d: String): DataFrame = {
    // NULL user_ids excluded up front (mirrored in the oracle): the
    // window's partitionBy groups NULL keys together, which would match
    // NULL-user clicks to NULL-user signups while a SQL equi-join never
    // matches NULLs — the asof family's contract is non-null keys
    val ev = Tables.read(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"),
        lit(null).cast("bigint").as("signup_ts"), lit(null).cast("bigint").as("signup_id"),
        lit(1).as("kind"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("signup_id"))
      .select(col("user_id"), col("ts_us"), lit(null).cast("bigint").as("click_id"),
        col("ts_us").as("signup_ts"), col("signup_id"), lit(0).as("kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("kind"), col("click_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signups.unionByName(clicks)
      .withColumn("last_signup_ts", last(col("signup_ts"), ignoreNulls = true).over(w))
      .withColumn("last_signup_id", last(col("signup_id"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("click_id").as("event_id"), col("user_id"), col("ts_us"),
        col("last_signup_ts").as("signup_ts"), col("last_signup_id").as("signup_id"))
  }

  /** As-of join (backward): each click matched to the latest prior-or-equal
    * signup of the same user. No native Spark asof → union-tag + one
    * key-partitioned window with `last(_, ignoreNulls=true)`. Signups are
    * pre-deduped to max event_id per (user, ts) so the inclusive tie is
    * deterministic (matches the oracle's ASOF + tiebreak contract).
    * Timestamps are µs (`ts div 1000` ↔ DuckDB `epoch_us`) — DuckDB 1.0's
    * parquet reader truncates nano timestamps to µs, so µs is the highest
    * cross-engine-exact resolution.
    */
  val joinAsofBackward: Q = Q(
    "join_asof_backward",
    (s, d) => asofBackwardMatched(s, d).orderBy(asc_nulls_first("event_id")),
    Some("""WITH clicks AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us
              FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
            signups AS (
              SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS signup_id
              FROM events WHERE event_type = 'signup' AND user_id IS NOT NULL
              GROUP BY user_id, epoch_us(ts))
            SELECT c.event_id, c.user_id, c.ts_us,
                   s.ts_us AS signup_ts, s.signup_id
            FROM clicks c ASOF LEFT JOIN signups s
              ON c.user_id = s.user_id AND c.ts_us >= s.ts_us
            ORDER BY c.event_id NULLS FIRST"""))

  /** Bounded-staleness as-of join — the feature-store form of
    * [[joinAsofBackward]]: a click takes its user's latest signup only
    * if that signup is at most 1 h stale; older matches null out while
    * the click row survives (left semantics). This is the join every
    * online-feature pipeline runs ("most recent feature value, but never
    * serve one older than the freshness SLA"). Same single user-keyed
    * LOCF window as the backward op — tolerance is a per-row projection
    * on top, so the 100 TB plan is unchanged.
    */
  val joinAsofTolerance: Q = Q(
    "join_asof_tolerance",
    (s, d) => {
      val tolUs = 3600000000L // 1 h freshness SLA
      asofBackwardMatched(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(col("ts_us") - col("signup_ts") <= tolUs, col("signup_ts"))
            .as("signup_ts"),
          when(col("ts_us") - col("signup_ts") <= tolUs, col("signup_id"))
            .as("signup_id"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""WITH clicks AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us
              FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
            signups AS (
              SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS signup_id
              FROM events WHERE event_type = 'signup' AND user_id IS NOT NULL
              GROUP BY user_id, epoch_us(ts))
            SELECT c.event_id, c.user_id, c.ts_us,
                   CASE WHEN c.ts_us - s.ts_us <= 3600000000
                        THEN s.ts_us END AS signup_ts,
                   CASE WHEN c.ts_us - s.ts_us <= 3600000000
                        THEN s.signup_id END AS signup_id
            FROM clicks c ASOF LEFT JOIN signups s
              ON c.user_id = s.user_id AND c.ts_us >= s.ts_us
            ORDER BY c.event_id NULLS FIRST"""))

  /** Forward as-of join — the mirror of `join_asof_backward`: each click
    * matched to the NEXT signup of the same user at or after the click
    * (ts_us >= click ts). Same scale-safe union-tag shape: one user-keyed
    * window, `first(ignoreNulls)` over the FORWARD frame (current row →
    * unbounded following); clicks sort before same-timestamp signups so
    * equality matches, mirroring DuckDB's `ASOF ... c.ts <= s.ts`.
    */
  val joinAsofForward: Q = Q(
    "join_asof_forward",
    (s, d) => {
      // NULL user_ids excluded up front (mirrored in the oracle): the
      // window's partitionBy groups NULL keys together, which would match
      // NULL-user clicks to NULL-user signups while a SQL equi-join never
      // matches NULLs — the asof family's contract is non-null keys
      val ev = Tables.read(s, d, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"),
          lit(null).cast("bigint").as("signup_ts"), lit(null).cast("bigint").as("signup_id"),
          lit(0).as("kind"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("signup_id"))
        .select(col("user_id"), col("ts_us"), lit(null).cast("bigint").as("click_id"),
          col("ts_us").as("signup_ts"), col("signup_id"), lit(1).as("kind"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("kind"), col("click_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clicks.unionByName(signups)
        .withColumn("next_signup_ts", first(col("signup_ts"), ignoreNulls = true).over(w))
        .withColumn("next_signup_id", first(col("signup_id"), ignoreNulls = true).over(w))
        .filter(col("kind") === 0)
        .select(col("click_id").as("event_id"), col("user_id"), col("ts_us"),
          col("next_signup_ts").as("signup_ts"), col("next_signup_id").as("signup_id"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""WITH clicks AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us
              FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
            signups AS (
              SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS signup_id
              FROM events WHERE event_type = 'signup' AND user_id IS NOT NULL
              GROUP BY user_id, epoch_us(ts))
            SELECT c.event_id, c.user_id, c.ts_us,
                   s.ts_us AS signup_ts, s.signup_id
            FROM clicks c ASOF LEFT JOIN signups s
              ON c.user_id = s.user_id AND c.ts_us <= s.ts_us
            ORDER BY c.event_id NULLS FIRST"""))

  /** Nearest as-of join — completes the as-of family: each click matched
    * to the temporally NEAREST signup of the same user in either
    * direction, ties preferring the backward (earlier) side, then max
    * signup_id within a timestamp (the family's dedup contract). BOTH
    * directional candidates come from one union-tag frame and ONE
    * user-keyed window shuffle (two frames over the same sort — the
    * `ts_cusum_drift` shared-shuffle discipline), then a per-row
    * comparison picks the nearer side. At equal click/signup timestamps
    * the backward frame captures the signup with delta 0, which wins any
    * comparison, so the forward frame needing strictly-later rows is
    * harmless. The oracle enumerates candidates per click and ranks by
    * (|Δ|, side, signup_id) — quadratic per user, fine at oracle scale;
    * the engine plan is the linear window form.
    */
  val joinAsofNearest: Q = Q(
    "join_asof_nearest",
    (s, d) => {
      // NULL user_ids excluded up front (mirrored in the oracle): the
      // window's partitionBy groups NULL keys together, which would match
      // NULL-user clicks to NULL-user signups while a SQL equi-join never
      // matches NULLs — the asof family's contract is non-null keys
      val ev = Tables.read(s, d, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"),
          lit(null).cast("bigint").as("signup_ts"),
          lit(null).cast("bigint").as("signup_id"), lit(1).as("kind"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("signup_id"))
        .select(col("user_id"), col("ts_us"),
          lit(null).cast("bigint").as("click_id"),
          col("ts_us").as("signup_ts"), col("signup_id"), lit(0).as("kind"))
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("kind"), col("click_id"))
      val back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      signups.unionByName(clicks)
        .withColumn("back_ts", last(col("signup_ts"), ignoreNulls = true).over(back))
        .withColumn("back_id", last(col("signup_id"), ignoreNulls = true).over(back))
        .withColumn("fwd_ts", first(col("signup_ts"), ignoreNulls = true).over(fwd))
        .withColumn("fwd_id", first(col("signup_id"), ignoreNulls = true).over(fwd))
        .filter(col("kind") === 1)
        .withColumn("use_back", col("back_ts").isNotNull &&
          (col("fwd_ts").isNull ||
            col("ts_us") - col("back_ts") <= col("fwd_ts") - col("ts_us")))
        .select(col("click_id").as("event_id"), col("user_id"), col("ts_us"),
          when(col("use_back"), col("back_ts")).otherwise(col("fwd_ts")).as("signup_ts"),
          when(col("use_back"), col("back_id")).otherwise(col("fwd_id")).as("signup_id"))
        .withColumn("delta_us", col("signup_ts") - col("ts_us"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""WITH clicks AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us
              FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
            signups AS (
              SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS signup_id
              FROM events WHERE event_type = 'signup' AND user_id IS NOT NULL
              GROUP BY user_id, epoch_us(ts)),
            cand AS (
              SELECT c.event_id, s.ts_us AS signup_ts, s.signup_id,
                     abs(s.ts_us - c.ts_us) AS adist,
                     CASE WHEN s.ts_us <= c.ts_us THEN 0 ELSE 1 END AS side
              FROM clicks c JOIN signups s ON c.user_id = s.user_id),
            best AS (
              SELECT *, row_number() OVER (PARTITION BY event_id
                          ORDER BY adist, side, signup_id DESC) AS rn
              FROM cand)
            SELECT c.event_id, c.user_id, c.ts_us, b.signup_ts, b.signup_id,
                   b.signup_ts - c.ts_us AS delta_us
            FROM clicks c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
              USING (event_id)
            ORDER BY c.event_id NULLS FIRST"""))

  /** Interval join: event pairs of the same user within 1 hour of each
    * other. The user_id equality keeps this a hash join (range predicate is
    * a post-join filter) — the only join shape that survives at fact-table
    * scale; a time-bucket co-partitioning refines it further at 100 TB.
    */
  val joinIntervalOverlap: Q = Q(
    "join_interval_overlap",
    (s, d) => {
      val ev = Tables.read(s, d, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      val a = ev.select(col("event_id").as("id1"), col("user_id"), col("ts_us").as("t1"))
      val b = ev.select(col("event_id").as("id2"), col("user_id").as("u2"), col("ts_us").as("t2"))
      a.join(b, col("user_id") === col("u2") && col("id1") < col("id2") &&
          abs(col("t2") - col("t1")) <= 3600000000L)
        .select(col("id1"), col("id2"), col("user_id"), (col("t2") - col("t1")).as("gap_us"))
        .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
            SELECT a.event_id AS id1, b.event_id AS id2, a.user_id,
                   b.ts_us - a.ts_us AS gap_us
            FROM e a JOIN e b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND abs(b.ts_us - a.ts_us) <= 3600000000
            ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** The 100 TB form of the interval join: co-partition by TIME BUCKET.
    * Events land in hour buckets; a pair within one hour spans bucket
    * distance ∈ {-1, 0, 1}, so probing each right-side event into its
    * bucket and both neighbors makes the join a pure equi-join on
    * (user, bucket) — each qualifying pair is produced exactly once (the
    * probe set {b-1, b, b+1} contains the left bucket exactly once), no
    * distinct needed, and the range predicate is a cheap post-filter.
    * Same result as `join_interval_overlap` (same oracle), but the
    * shuffle key now bounds candidate pairs per partition by bucket
    * population instead of per-user history length.
    */
  val joinIntervalBucketed: Q = Q(
    "join_interval_bucketed",
    (s, d) => {
      val hourUs = 3600000000L
      val ev = Tables.read(s, d, "events")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      val a = ev.select(col("event_id").as("id1"), col("user_id"),
        col("ts_us").as("t1"), expr(s"ts_us div $hourUs").as("bucket"))
      val b = ev.select(col("event_id").as("id2"), col("user_id").as("u2"),
          col("ts_us").as("t2"), expr(s"ts_us div $hourUs").as("b2"))
        .withColumn("bucket", explode(expr("array(b2 - 1L, b2, b2 + 1L)")))
      a.join(b, col("user_id") === col("u2") && a("bucket") === b("bucket") &&
          col("id1") < col("id2") && abs(col("t2") - col("t1")) <= hourUs)
        .select(col("id1"), col("id2"), col("user_id"), (col("t2") - col("t1")).as("gap_us"))
        .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
            SELECT a.event_id AS id1, b.event_id AS id2, a.user_id,
                   b.ts_us - a.ts_us AS gap_us
            FROM e a JOIN e b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND abs(b.ts_us - a.ts_us) <= 3600000000
            ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** One bucketed (orders, customer) table pair per (JVM, corpus) —
    * bucketed writes are the pay-once layout, so Verify/Bench reps reuse
    * them (the dppFactDir discipline). Table names carry the corpus
    * hash: the external catalog is JVM-shared across sessions.
    */
  private val bucketedLock = new Object

  private def bucketedPair(s: SparkSession, d: String): (String, String) = {
    // tag = sanitized path (readability) + full md5 of the RAW path
    // (injectivity): sanitization alone maps distinct dirs (/x/sf-1 vs
    // /x/sf_1, case-differing paths under the case-insensitive catalog)
    // to one tag, and the tableExists short-circuit would then silently
    // serve the first corpus's bucketed data for the second
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val tag = d.replaceAll("[^a-zA-Z0-9]", "_").stripPrefix("_")
      .takeRight(40).toLowerCase + "_" + digest
    val (ot, ct) = (s"graft_orders_b_$tag", s"graft_customer_b_$tag")
    // existence-checked, not cache-trusted: a fresh catalog in the same
    // JVM (stopped/recreated context) must rebuild, not throw NOT_FOUND;
    // serialized so concurrent sessions can't race the check-then-build
    bucketedLock.synchronized {
      if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(ct)) {
        val base = graft.util.TempDirs.create("graft_bucketed").toString
        Tables.read(s, d, "orders").write.mode("overwrite")
          .option("path", s"$base/$ot")
          .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
        Tables.read(s, d, "customer").write.mode("overwrite")
          .option("path", s"$base/$ct")
          .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
      }
    }
    (ot, ct)
  }

  /** Bucketed co-located join — the pay-the-shuffle-once layout for
    * REPEATED key joins ([[BucketedJoinSpec]] proves the no-exchange
    * plan; this key puts it under the driver's correctness gate): both
    * sides are bucketed on the join key at write time, so the join reads
    * bucket-aligned files and plans NO exchange on either side — at
    * 100 TB this converts every recurring fact⋈fact join from a full
    * shuffle into a local merge. The MERGE hint keeps the harness-scale
    * plan on the sort-merge path (a broadcast would bypass the bucketed
    * layout being demonstrated); the write happens once per JVM.
    */
  val joinBucketedColocated: Q = Q(
    "join_bucketed_colocated",
    (s, d) => {
      val (ot, ct) = bucketedPair(s, d)
      s.table(ot).hint("merge")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_spend"))
        .orderBy(asc_nulls_first("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_spend
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST"""))

  /** (bloom-prescreened fact, filtered dim) — the spec seam: [[PlanSpec]]
    * measures the pre-shuffle row reduction and pins the filter placement.
    */
  private[graft] def bloomPrescreen(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val dim = Tables.read(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    // sized for ~1/5 of the sf0.1 customer table; at larger corpora
    // scale numBits with the dim count (bits/key ⇒ fpp, not correctness)
    val bf = dim
      .agg(expr("graft_bloom_agg(xxhash64(c_custkey), 5000L, 131072L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // BloomFilterAggregate over ZERO dim rows yields NULL, not an empty
    // sketch — skip the prescreen then (the join is empty regardless)
    val orders = Tables.read(s, d, "orders")
    // the serialized sketch probes as a BINARY Literal Column — NOT a
    // rendered X'..' hex SQL string: at larger corpora numBits grows the
    // sketch to MBs, which a hex literal would drag through the SQL
    // parser and every plan string (ADVICE r15)
    val fact =
      if (bf == null) orders
      else orders.filter(
        call_function("graft_bloom_contains", lit(bf), xxhash64(col("o_custkey"))))
    (fact, dim)
  }

  /** Runtime bloom-join pruning — the runtime-filter sibling of
    * `op_dpp_star_join` (that one prunes PARTITIONS via a dynamic
    * subquery; this prunes ROWS where the layout gives no partition to
    * prune): the filtered dim side's join keys fold into an O(KB) bloom
    * sketch (Spark's own BloomFilterAggregate, surfaced as
    * `graft_bloom_agg` — the machinery behind Catalyst's
    * InjectRuntimeFilter), which probes the FACT SCAN as a constant
    * pre-shuffle filter: at 100 TB the ~4/5 of fact rows whose keys
    * cannot join die before the exchange instead of being shuffled and
    * discarded by the join. False positives are harmless — the real join
    * still runs behind the prescreen — so the result is exact and fully
    * oracled; [[PlanSpec]] pins the filter's pre-join placement and the
    * measured row reduction vs the unpruned control.
    */
  val joinBloomPrescreen: Q = Q(
    "join_bloom_prescreen",
    (s, d) => {
      val (fact, dim) = bloomPrescreen(s, d)
      fact.join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_price"))
        .orderBy(asc_nulls_first("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    joinInnerHash, joinBroadcast, joinLeftOuter, joinRightOuter,
    joinFullOuter, joinLeftSemi, joinLeftAnti, joinCross, joinThetaRange,
    joinAsofBackward, joinAsofForward, joinAsofNearest, joinAsofTolerance,
    joinIntervalOverlap, joinIntervalBucketed, joinHintShuffleHash,
    joinSkewSalted, joinBucketedColocated, joinBloomPrescreen)

  /** Skew-salted shuffle join — the manual cure for a hot key when the
    * build side is too big to broadcast and AQE's skew split can't help
    * (e.g. a pre-AQE engine, or a skewed AGGREGATION downstream).
    * `event_type` has ~5 values over the whole corpus, so a plain
    * shuffle join lands 1/5 of 100 TB on five tasks; salting rewrites
    * the key to (event_type, salt) with a DETERMINISTIC per-row salt
    * (pmod(xxhash64(event_id), S) — reproducible across retries, unlike
    * rand()) and replicates each build row S times, spreading every hot
    * key over S tasks at the cost of an S× build side. Results are
    * salt-invariant, so the plain-join SQL is the oracle; the SHUFFLE_HASH
    * hint pins the plan the technique exists for (PlanSpec asserts no
    * broadcast). S=8 here; at 1000 executors you size S ≈ hot-key rows /
    * healthy-partition rows.
    */
  lazy val joinSkewSalted: Q = Q(
    "join_skew_salted",
    (s, d) => {
      val S = 8
      val ev = Tables.read(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(S)).cast("int"))
      val dim = Tables.read(s, d, "events")
        .select(col("event_type")).distinct()
        .withColumn("type_label", upper(col("event_type")))
        .withColumn("salt", explode(expr(s"sequence(0, ${S - 1})")))
        .hint("SHUFFLE_HASH")
      ev.join(dim, Seq("event_type", "salt"))
        .groupBy(col("type_label"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_value"))
        .orderBy(asc_nulls_first("type_label"))
    },
    Some("""WITH dim AS (SELECT DISTINCT event_type,
                                upper(event_type) AS type_label
                         FROM events)
            SELECT type_label, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_value
            FROM events JOIN dim USING (event_type)
            GROUP BY type_label ORDER BY type_label NULLS FIRST"""))

  /** Join-strategy hint surface: the same orders⋈customer join FORCED to
    * a shuffled hash join via `hint("SHUFFLE_HASH")` — the strategy you
    * pick when one side is too big to broadcast but small enough to hash
    * per partition, and sorting the bigger side (SMJ) would dominate.
    * PlanSpec asserts ShuffledHashJoin actually planned; results are
    * strategy-invariant, so the plain join SQL is the oracle.
    */
  lazy val joinHintShuffleHash: Q = Q(
    "join_hint_shuffle_hash",
    (s, d) =>
      Tables.read(s, d, "orders")
        .join(Tables.read(s, d, "customer").hint("SHUFFLE_HASH"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total_price"))
        .orderBy(asc_nulls_first("c_mktsegment")),
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST"""))
}
