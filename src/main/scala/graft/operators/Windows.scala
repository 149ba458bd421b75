package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}

/** SURVEY §2.5 — window functions.
  *
  * Every spec is `Window.partitionBy(...).orderBy(...)` with a unique-key
  * tiebreaker in the sort (§2.0 rule 6), so rank/lag/frames are total-order
  * deterministic. Partitioned windows shuffle once on the partition key —
  * the scalable shape. The single global-window query (`win_ntile`) is
  * inherently single-partition and kept small-column.
  */
object Windows {

  private val byCust = Window.partitionBy(col("o_custkey"))

  val winRowNumber: Q = Q.sql(
    "win_row_number",
    """SELECT o_orderkey, o_custkey,
              CAST(row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  val winRankDense: Q = Q.sql(
    "win_rank_dense",
    """SELECT o_orderkey, o_orderstatus, o_orderpriority,
              CAST(rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS BIGINT) AS rnk,
              CAST(dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS BIGINT) AS drnk
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  val winLagLead: Q = Q.sql(
    "win_lag_lead",
    """SELECT o_orderkey, o_custkey, o_totalprice,
              lag(o_totalprice, 1, -1.0) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price,
              lead(o_totalprice, 1, -1.0) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_price
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  val winRunningSum: Q = Q.sql(
    "win_running_sum",
    """SELECT o_orderkey, o_custkey,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  /** (l_orderkey, l_linenumber) is NOT unique in this corpus, so both the
    * window order and the output order extend to a full-row total order —
    * remaining ties are fully identical rows, which cannot change a frame
    * sum or the compared output.
    */
  val winSlidingFrame: Q = Q.sql(
    "win_sliding_frame",
    """SELECT l_orderkey, l_linenumber, l_suppkey,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                   OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber,
                         l_partkey, l_quantity, l_extendedprice, l_discount,
                         l_tax, l_returnflag, l_linestatus, l_shipdate
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_qty
       FROM lineitem
       ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
                l_suppkey NULLS FIRST, moving_qty NULLS FIRST""")

  /** RANGE frame over a numeric sort key. */
  val winRangeFrame: Q = Q.sql(
    "win_range_frame",
    """SELECT p_partkey, p_brand,
              CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY p_brand ORDER BY p_partkey
                         RANGE BETWEEN 50 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_total
       FROM part ORDER BY p_partkey NULLS FIRST""")

  val winFirstLast: Q = Q(
    "win_first_last",
    (s, d) => {
      val w = byCust.orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.read(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          first(col("o_orderkey")).over(w).as("cheapest_order"),
          last(col("o_orderkey")).over(w).as("dearest_order"))
        .orderBy(asc_nulls_first("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey,
                   first_value(o_orderkey) OVER w AS cheapest_order,
                   last_value(o_orderkey) OVER w AS dearest_order
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_orderkey NULLS FIRST"""))

  val winNtile: Q = Q.sql(
    "win_ntile",
    """SELECT o_orderkey,
              CAST(ntile(4) OVER (ORDER BY o_orderkey) AS BIGINT) AS quartile
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  /** Top-k per group: the window-filter idiom (no global sort; one shuffle
    * on the group key).
    */
  val aggTopkPerGroup: Q = Q(
    "agg_topk_per_group",
    (s, d) => {
      val w = byCust.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.read(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(asc_nulls_first("o_custkey"), asc_nulls_first("rn"))
    },
    Some("""WITH ranked AS (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     CAST(row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
              FROM orders)
            SELECT o_custkey, rn, o_orderkey, o_totalprice
            FROM ranked WHERE rn <= 3
            ORDER BY o_custkey NULLS FIRST, rn NULLS FIRST"""))

  /** percent_rank + cume_dist over a unique-key order: both are exact
    * integer ratios ((rank-1)/(n-1), rank/n) so they hash-match.
    */
  val winPercentCume: Q = Q.sql(
    "win_percent_cume",
    """SELECT o_orderkey, o_custkey,
              percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS pr,
              cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS cd
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  /** nth_value over the whole partition (explicit unbounded frame — the
    * default running frame would return NULL until the nth row, a classic
    * cross-engine trap): each order sees its customer's second-cheapest
    * order total. Ties on the full sort key carry the same value, so the
    * result is engine-stable.
    */
  val winNthValue: Q = Q.sql(
    "win_nth_value",
    """SELECT o_orderkey, o_custkey, o_totalprice,
              nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS second_cheapest
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  /** Running DISTINCT count per key — `count(DISTINCT x) OVER (...)` is
    * unsupported in both engines, so this is the standard two-window
    * rewrite: flag each (user, event_type)'s FIRST occurrence by sorting
    * the user's rows by (type, time) and comparing to `lag`, then
    * running-sum the flags in TIME order. Both windows partition by
    * `user_id` alone, so the whole op is ONE shuffle with two in-
    * partition sorts — the trick's entire point (the naive flag via a
    * (user, type)-partitioned row_number would force a second exchange).
    */
  val winCumulativeDistinct: Q = Q(
    "win_cumulative_distinct",
    (s, d) => {
      val e = Tables.read(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      val byType = Window.partitionBy(col("user_id"))
        // NULLS LAST explicitly (Spark's ASC default is NULLS FIRST,
        // DuckDB's is NULLS LAST): a NULL-type run must FOLLOW a non-null
        // type in both engines so its first row sees a non-null lag and
        // is flagged exactly once on both sides
        .orderBy(asc_nulls_last("event_type"), col("ts_us"), col("event_id"))
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("first_seen",
          // null-safe: `!(lag <=> type)` ≡ SQL IS DISTINCT FROM, so a NULL
          // type run is not re-flagged row-by-row; with NULLS LAST above
          // it is counted ONCE when any non-null type precedes it (an
          // all-NULL partition counts 0 in both engines — matching
          // count(DISTINCT)'s null-exclusion at the limit)
          when(!lag(col("event_type"), 1).over(byType)
            .eqNullSafe(col("event_type")), 1L).otherwise(0L))
        .withColumn("n_distinct_types", sum(col("first_seen")).over(byTime))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"), col("n_distinct_types"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
                       FROM events),
            f AS (SELECT *,
                         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                ORDER BY event_type NULLS LAST, ts_us, event_id)
                              IS DISTINCT FROM event_type
                              THEN 1 ELSE 0 END AS first_seen
                  FROM e)
            SELECT event_id, user_id, ts_us, event_type,
                   CAST(sum(first_seen) OVER (PARTITION BY user_id
                     ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS n_distinct_types
            FROM f ORDER BY event_id NULLS FIRST"""))

  /** IGNORE NULLS window fill — last-observation-carried-forward over a
    * sparse signal: each event carries the most recent CLICK value of its
    * user as of its own position (the sessionized "last seen X" feature
    * every event pipeline derives). `last(expr, ignoreNulls = true)` over
    * an explicit ROWS frame with a unique (ts, event_id) sort — the
    * IGNORE NULLS surface the plain first/last op doesn't touch; one
    * partition-key shuffle, deterministic by the §2.0 rule-6 tiebreak.
    */
  val winIgnoreNulls: Q = Q(
    "win_ignore_nulls",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.read(s, d, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"),
          when(col("event_type") === "click", col("value")).as("click_v"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          last(col("click_v"), ignoreNulls = true).over(w).as("last_click_value"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   last_value(CASE WHEN event_type = 'click' THEN value END
                              IGNORE NULLS)
                     OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS last_click_value
            FROM events ORDER BY event_id NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    winRowNumber, winRankDense, winLagLead, winRunningSum, winSlidingFrame,
    winRangeFrame, winFirstLast, winNtile, winPercentCume, aggTopkPerGroup,
    winNthValue, winCumulativeDistinct, winIgnoreNulls)
}
