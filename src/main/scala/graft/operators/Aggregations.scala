package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.functions.WeightedAvg
import graft.util.Checkpoints.Truncate

/** SURVEY §2.4 — aggregation.
  *
  * All grouped aggregates are plain `groupBy().agg()`: Spark plans them as
  * partial (map-side) + final hash aggregation automatically, which is the
  * shape that scales — the shuffle carries one row per (partition, group),
  * not per input row. Sums follow §2.0 rule 2: decimal-cast before SUM
  * (exact, order-independent — safe under any partial/final merge order),
  * explicit DOUBLE/BIGINT casts in the final projection.
  */
object Aggregations {

  /** Ungrouped COUNT/SUM (§2.0 rule-2 form). */
  val aggGlobal: Q = Q.sql(
    "agg_global",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM lineitem""")

  /** TPC-H-Q1-shaped grouped aggregation on lineitem — the flagship query
    * (scan → project → partial agg → shuffle 6 groups → final agg → sort).
    */
  val aggHashGroupby: Q = Q.sql(
    "agg_hash_groupby",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
              CAST(COUNT(*) AS BIGINT) AS cnt
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")

  /** Ordered string aggregation (reference `setup.sh:62`):
    * `string_agg(x, ',' ORDER BY x)` ≡ concat_ws over a sorted collect_list.
    */
  val aggStringAggOrdered: Q = Q(
    "agg_string_agg_ordered",
    (s, d) => {
      val n = Tables.read(s, d, "nation")
      val r = Tables.read(s, d, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy(asc_nulls_first("r_name"))
    },
    Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name NULLS FIRST"""))

  val aggCountDistinct: Q = Q.sql(
    "agg_count_distinct",
    """SELECT o_orderstatus,
              CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM orders GROUP BY o_orderstatus
       ORDER BY o_orderstatus NULLS FIRST""")

  /** HLL approximate distinct — no oracle (property-tested within 5% of
    * exact). The scale answer to count-distinct: no per-key shuffle of raw
    * values, just mergeable sketches.
    */
  val aggApproxDistinct: Q = Q(
    "agg_approx_distinct",
    (s, d) =>
      Tables.read(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(approx_count_distinct(col("o_custkey")).as("approx_cust"))
        .orderBy(asc_nulls_first("o_orderstatus")),
    None)

  /** Portable KMV distinct sketch next to the engine-native HLL above:
    * same query shape, but the sketch state is ≤64 md5-derived hashes and
    * the integer-exact estimate reproduces bit-for-bit in the oracle —
    * see [[graft.functions.KmvDistinct]]. The oracle computes the kth
    * smallest distinct hash per group with a window and applies the
    * identical floor((k−1)·2³²/h(k)) integer formula; groups under k
    * distinct values compare as exact counts.
    */
  val aggKmvDistinct: Q = Q(
    "agg_kmv_distinct",
    (s, d) => {
      val kmv = udaf(graft.functions.KmvDistinct)
      Tables.read(s, d, "orders")
        .filter(col("o_custkey").isNotNull)
        .select(col("o_orderstatus"),
          graft.functions.PortableHash.hash32(col("o_custkey")).as("h"))
        .groupBy(col("o_orderstatus"))
        .agg(kmv(col("h")).as("n_distinct_est"))
        .orderBy(asc_nulls_first("o_orderstatus"))
    },
    Some("""WITH h AS (SELECT DISTINCT o_orderstatus,
                   CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
                       FROM orders WHERE o_custkey IS NOT NULL),
            r AS (SELECT o_orderstatus, hv,
                         row_number() OVER (PARTITION BY o_orderstatus ORDER BY hv) AS rn,
                         count(*) OVER (PARTITION BY o_orderstatus) AS nd
                  FROM h)
            SELECT o_orderstatus,
                   CAST(CASE WHEN nd < 64 THEN nd
                             ELSE (63 * 4294967296) // hv END AS BIGINT) AS n_distinct_est
            FROM r WHERE rn = least(nd, 64)
            ORDER BY o_orderstatus NULLS FIRST"""))

  /** KMV sketch SET ALGEBRA — the cross-shard follow-up to
    * [[aggKmvDistinct]]: estimate |A ∪ B| and |A ∩ B| for two user
    * populations (clickers vs purchasers) from ONE bounded k-minima
    * synopsis, never materializing either set — the way 1000 shards
    * answer "how many users did both" by shipping O(k) sketches instead
    * of user lists (Beyer et al., "On synopses for distinct-value
    * estimation under multiset operations", SIGMOD 2007: the k smallest
    * union hashes are a uniform sample of A ∪ B, so the fraction
    * carrying both membership flags estimates the Jaccard, and
    * |A∩B| ≈ c/k · |A∪B|). Plan shape: one hash-keyed distinct with
    * per-flag max (map-combinable), then a global k-minima via
    * sort-limit — TakeOrderedAndProject, per-partition top-k + driver
    * merge of k rows, NO full sort at any scale. All integer arithmetic
    * (the [[graft.functions.KmvSketch]] floor formula and an integer
    * c·n̂ div k), so the DuckDB oracle reproduces every cell bit-for-bit;
    * under-k populations degrade to EXACT counts by the same guard.
    */
  val aggKmvSetOps: Q = Q(
    "agg_kmv_set_ops",
    (s, d) => {
      val k = 256
      // B is deliberately a strict subset-shaped slice (purchasers with
      // user_id % 3 ≠ 0): in this corpus every user does everything, so
      // without the slice A = B and the intersection estimate is the
      // union estimate — the mod carve gives the estimator a real
      // J ≈ 2/3 to recover (same by-construction idiom as the
      // quarantine ops' injected classes)
      val flags = Tables.read(s, d, "events")
        .filter(col("user_id").isNotNull &&
          col("event_type").isin("click", "purchase"))
        .select(
          graft.functions.PortableHash.hash32(col("user_id")).as("hv"),
          (col("event_type") === "click").as("in_a"),
          (col("event_type") === "purchase" && col("user_id") % lit(3) =!= 0)
            .as("in_b"))
        .filter(col("in_a") || col("in_b"))
        .groupBy(col("hv"))
        .agg(max(col("in_a")).as("a"), max(col("in_b")).as("b"))
      val topk = flags.orderBy(asc("hv")).limit(k)
      topk.agg(
          count(lit(1)).as("m"), max(col("hv")).as("hk"),
          sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("c"))
        .select(
          expr(s"cast(case when m < $k then m else (${k - 1} * 4294967296) div hk end as bigint)")
            .as("n_union_est"),
          expr(s"cast(case when m < $k then c else (c * ((${k - 1} * 4294967296) div hk)) div $k end as bigint)")
            .as("n_inter_est"))
    },
    Some("""WITH f0 AS (SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv,
                               max(event_type = 'click') AS a,
                               max(event_type = 'purchase' AND user_id % 3 <> 0) AS b
                        FROM events
                        WHERE user_id IS NOT NULL
                          AND event_type IN ('click', 'purchase')
                        GROUP BY 1),
            f AS (SELECT * FROM f0 WHERE a OR b),
            t AS (SELECT * FROM f ORDER BY hv LIMIT 256),
            g AS (SELECT count(*) AS m, max(hv) AS hk,
                         sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS c
                  FROM t)
            SELECT CAST(CASE WHEN m < 256 THEN m
                             ELSE (255 * 4294967296) // hk END AS BIGINT)
                     AS n_union_est,
                   CAST(CASE WHEN m < 256 THEN c
                             ELSE (c * ((255 * 4294967296) // hk)) // 256 END
                        AS BIGINT) AS n_inter_est
            FROM g"""))

  /** Rollup over a NULL-CONTAINING group key with `grouping()`
    * disambiguation — the correctness trap [[aggRollup]]'s non-null keys
    * never exercise: the bucket key is DERIVED NULL for 'error' events
    * (an unattributable bucket — this corpus carries no NULL user_ids,
    * so the NULL cells are constructed, deterministically, the way a
    * real dirty feed would produce them), and the rollup then emits NULL
    * bucket cells that are VALUES next to NULL bucket cells that are
    * TOTALS — only the grouping flag tells them apart (a consumer keying
    * on the column alone double-counts). Flags surface as BIGINT;
    * identical ROLLUP SQL oracle.
    */
  val aggRollupGroupingId: Q = Q(
    "agg_rollup_grouping_id",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(col("event_type"),
          // % not pmod: Spark % takes the dividend's sign like DuckDB's %,
          // so the bucket matches the oracle even for negative ids
          when(col("event_type") =!= "error", col("user_id") % lit(7))
            .as("grp"))
        .rollup(col("event_type"), col("grp"))
        .agg(grouping(col("event_type")).cast(LongType).as("g_type"),
          grouping(col("grp")).cast(LongType).as("g_grp"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("grp"), col("g_type"), col("g_grp"), col("n"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("grp"),
          asc("g_type"), asc("g_grp")),
    Some("""WITH e AS (SELECT event_type,
                              CASE WHEN event_type <> 'error'
                                   THEN user_id % 7 END AS grp
                       FROM events)
            SELECT event_type, grp,
                   CAST(grouping(event_type) AS BIGINT) AS g_type,
                   CAST(grouping(grp) AS BIGINT) AS g_grp,
                   count(*) AS n
            FROM e GROUP BY ROLLUP (event_type, grp)
            ORDER BY event_type NULLS FIRST, grp NULLS FIRST, g_type, g_grp"""))

  val aggMinMaxAvg: Q = Q.sql(
    "agg_min_max_avg",
    """SELECT o_orderpriority,
              MIN(o_totalprice) AS min_p, MAX(o_totalprice) AS max_p,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_p,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM orders GROUP BY o_orderpriority
       ORDER BY o_orderpriority NULLS FIRST""")

  /** Exact interpolated percentile (gate rule 7 — registered only if the
    * interpolation hash-matches DuckDB's quantile_cont on real data).
    */
  val aggMedianPercentile: Q = Q(
    "agg_median_percentile",
    (s, d) =>
      Tables.read(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("median_p"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
        .orderBy(asc_nulls_first("o_orderstatus")),
    Some("""SELECT o_orderstatus,
                   quantile_cont(o_totalprice, 0.5) AS median_p,
                   quantile_cont(o_totalprice, 0.9) AS p90
            FROM orders GROUP BY o_orderstatus
            ORDER BY o_orderstatus NULLS FIRST"""))

  /** GROUPING SETS + GROUPING() — one SQL text, both engines. */
  val aggGroupingSets: Q = Q.sql(
    "agg_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(grouping(o_orderstatus) AS INT) AS g1,
              CAST(grouping(o_orderpriority) AS INT) AS g2,
              CAST(COUNT(*) AS BIGINT) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
       ORDER BY g1 NULLS FIRST, g2 NULLS FIRST,
                o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")

  val aggRollup: Q = Q.sql(
    "agg_rollup",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(grouping(o_orderstatus) AS INT) AS g1,
              CAST(grouping(o_orderpriority) AS INT) AS g2,
              CAST(COUNT(*) AS BIGINT) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       ORDER BY g1 NULLS FIRST, g2 NULLS FIRST,
                o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")

  val aggCube: Q = Q.sql(
    "agg_cube",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(grouping(o_orderstatus) AS INT) AS g1,
              CAST(grouping(o_orderpriority) AS INT) AS g2,
              CAST(COUNT(*) AS BIGINT) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       ORDER BY g1 NULLS FIRST, g2 NULLS FIRST,
                o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")

  val aggDistinctRows: Q = Q.sql(
    "agg_distinct_rows",
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
       ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""")

  /** Pivot event_type → per-user count columns. The pivot value list is
    * pinned (never inferred) — at scale inference would be an extra pass.
    */
  val opPivot: Q = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Q(
      "op_pivot",
      (s, d) => {
        val pivoted = Tables.read(s, d, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        types.foldLeft(pivoted)((df, t) =>
            df.withColumn(t, coalesce(col(t), lit(0L))))
          .orderBy(asc_nulls_first("user_id"))
      },
      Some("""SELECT user_id,
                     CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                     CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                     CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                     CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                     CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
              FROM events GROUP BY user_id ORDER BY user_id NULLS FIRST"""))
  }

  /** Typed Aggregator UDAF surface — see functions.WeightedAvg. */
  val opUdafWeightedAvg: Q = Q(
    "op_udaf_weighted_avg",
    (s, d) => {
      val wavg = udaf(WeightedAvg)
      // Decimal-cast in the DataFrame (not inside the Aggregator) so Spark's
      // own CAST does the .xx rounding, exactly as DuckDB's CAST does on the
      // oracle side — a double's shortest-string BigDecimal near a .xx5 tie
      // could otherwise round differently than CAST of the exact binary value.
      Tables.read(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(wavg(
          col("l_quantity").cast(DecimalType(18, 2)).cast(DoubleType),
          col("l_extendedprice").cast(DecimalType(18, 2)).cast(DoubleType)).as("wavg_price"))
        .orderBy(asc_nulls_first("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price
            FROM lineitem GROUP BY l_returnflag
            ORDER BY l_returnflag NULLS FIRST"""))

  /** Correlation / covariance / stddev computed from decimal-exact moment
    * sums and ONE closed-form double expression per statistic — the builtin
    * corr/stddev are Welford-style and merge-order-dependent, so they can
    * never hash-match across engines; exact sums can (§2.0 rule 2).
    */
  val aggCorrManual: Q = Q.sql(
    "agg_corr_manual",
    """WITH m AS (
         SELECT l_returnflag,
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                         * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                         * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
         FROM lineitem GROUP BY l_returnflag)
       SELECT l_returnflag,
              round((n * sxy - sx * sy)
                    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price,
              round((n * sxy - sx * sy) / (n * n), 6) AS covar_pop,
              round(sqrt((n * sxx - sx * sx) / (n * n)), 6) AS stddev_pop_qty
       FROM m ORDER BY l_returnflag NULLS FIRST""")

  /** Mode (most frequent value) per group, deterministically tiebroken to
    * the lexicographically smallest value — two hash aggs + a per-group
    * rank over |distinct values| rows (never the raw rows).
    */
  val aggMode: Q = Q.sql(
    "agg_mode",
    """WITH c AS (SELECT user_id, event_type, count(*) AS n
                  FROM events GROUP BY 1, 2),
       r AS (SELECT user_id, event_type, n,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY n DESC, event_type NULLS FIRST) AS rk
             FROM c)
       SELECT user_id, event_type AS mode_type, n FROM r WHERE rk = 1
       ORDER BY user_id NULLS FIRST""")

  /** Quantile SKETCH per group (`approx_percentile`, mergeable partial
    * state — the companion to `agg_approx_distinct`'s HLL): at 100 TB the
    * sketch is THE percentile plan — exact percentile needs a per-group
    * global sort, the sketch is one map-side-combinable agg of bounded
    * state. No oracle (sketch output is accuracy-bounded, not
    * value-exact) — property-tested against exact percentiles.
    */
  val aggApproxQuantile: Q = Q(
    "agg_approx_quantile",
    (s, d) =>
      Tables.read(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr(
          "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
          .as("approx_q"),
          count(lit(1)).as("n"))
        // scalar columns only: the driver's pandas row-sort can't hash an
        // array cell, so the sketch's three quantiles land as three doubles
        .select(col("l_returnflag"),
          expr("approx_q[0]").as("q25"), expr("approx_q[1]").as("q50"),
          expr("approx_q[2]").as("q75"), col("n"))
        .orderBy(asc_nulls_first("l_returnflag")),
    None)

  /** Boolean-logic aggregates per group: `count_if`, `bool_and`,
    * `bool_or`, `every`-style predicates — all exact, one hash agg.
    */
  val aggBoolLogic: Q = Q.sql(
    "agg_bool_logic",
    """SELECT l_returnflag,
              CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
              bool_and(l_quantity <= 50) AS all_in_range,
              bool_or(l_discount > 0.09) AS any_deep_discount,
              count(*) AS n
       FROM lineitem GROUP BY l_returnflag
       ORDER BY l_returnflag NULLS FIRST""")

  /** Heavy hitters (tokens with frequency > 2% of the stream) via a
    * two-pass Misra–Gries prescreen — the bounded-memory alternative to
    * `llm_vocab_build`'s full-cardinality groupBy. Pass 1 is a
    * `treeAggregate` of [[graft.functions.MisraGries]] summaries: every
    * executor holds O(capacity) counters no matter how many distinct
    * tokens its partitions contain, and the mergeable-summary guarantee
    * makes the surviving counter set a SUPERSET of every item with true
    * frequency > n/(capacity+1). Pass 2 re-counts only those ≤ capacity
    * candidates exactly and applies the exact threshold — so the output
    * is deterministic (hence oracle-checkable against the plain
    * GROUP BY/HAVING) while the shuffle only ever carries candidate
    * tokens. At 100 TB this is the difference between shuffling a
    * web-scale token distribution and shuffling 400 strings; capacity
    * 400 ≫ support 50 keeps the guarantee with slack.
    */
  val aggHeavyHittersMg: Q = Q(
    "agg_heavy_hitters_mg",
    (s, d) => {
      val toks = Tables.read(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      heavyHitters(toks, support = 50, capacity = 400)
    },
    Some("""WITH c AS (SELECT unnest(string_split(text, ' ')) AS token
                       FROM documents),
            t AS (SELECT count(*) AS n FROM c)
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM c GROUP BY token
            HAVING count(*) * 50 > (SELECT n FROM t)
            ORDER BY cnt DESC, token NULLS FIRST"""))

  /** Engine (unit-test seam): items with frequency strictly above
    * total/support, exact counts, from a single-string-column input.
    * NULL items are ignored in both passes (they are excluded from the
    * stream total too) — `isin` in pass 2 could never match them, so
    * counting them in pass 1 would skew the threshold.
    */
  private[operators] def heavyHitters(tokens: org.apache.spark.sql.DataFrame,
                                      support: Int, capacity: Int)
      : org.apache.spark.sql.DataFrame = {
    require(capacity + 1 > support,
      s"capacity $capacity cannot cover support 1/$support")
    import graft.functions.MisraGries
    import tokens.sparkSession.implicits._
    val strings = tokens.select(col("token").cast(StringType))
      .filter(col("token").isNotNull).as[String]
    val summary = strings.rdd.treeAggregate(new MisraGries(capacity))(
      (mg, s) => mg.add(s), (a, b) => a.merge(b), depth = 2)
    val cand = summary.candidates.toSeq
    if (cand.isEmpty) {
      return strings.toDF("token")
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .filter(lit(false))
    }
    strings.toDF("token")
      .filter(col("token").isin(cand: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * support > lit(summary.total))
      .orderBy(desc("cnt"), asc_nulls_first("token"))
  }

  /** Mergeable HLL sketch tables — the incremental-aggregation pattern a
    * 100 TB pipeline actually runs: per-day PARTIAL distinct-user
    * sketches (each a few KB, persistable as a column), unioned later
    * into the corpus estimate WITHOUT rescanning the raw data. DataSketches
    * HLL union is register-wise max, so the union of partials equals the
    * sketch of the whole input (set-dependent, order- and
    * partition-independent — SketchDriftSpec pins both), unlike
    * `agg_approx_distinct` which re-aggregates raw rows every time.
    * Randomized estimator → no SQL oracle; accuracy + mergeability are
    * spec'd.
    */
  val aggHllSketchUnion: Q = Q(
    "agg_hll_sketch_union",
    (s, d) => {
      val partials = Tables.read(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"))
        .withColumn("day", expr("ts_us div 86400000000"))
        .groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count(lit(1)).as("n_rows"))
      partials.agg(
        count(lit(1)).as("n_days"),
        sum(col("n_rows")).as("n_rows"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
    },
    None)

  /** Exact two-sample Kolmogorov–Smirnov statistic between the `click`
    * and `view` value distributions — the standard train/eval
    * distribution-drift probe. The statistic is computed with the
    * denominators cleared (the `ts_cusum_drift` discipline):
    * D·n1·n2 = max |r1·n2 − r2·n1| over the merged value order, every
    * term an exact BIGINT, one final double division for the classical D.
    * The running counts come from [[prefixScan2]] — a two-pass
    * distributed prefix scan (range-partition by value, per-partition
    * totals to the driver, offsets broadcast back) — NOT a
    * single-partition global window, so the plan scales to any number of
    * distinct values.
    */
  val aggKsTwoSample: Q = Q(
    "agg_ks_two_sample",
    (s, d) => {
      val byVal = Tables.read(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("value"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("is1"))
        .groupBy(col("value"))
        .agg(sum(col("is1")).as("c1"), sum(lit(1L) - col("is1")).as("c2"))
      val scanned = prefixScan2(byVal, "value", "c1", "c2")
      val tot = scanned.agg(max(col("r1")).as("n1"), max(col("r2")).as("n2"))
      scanned.crossJoin(broadcast(tot))
        .groupBy(col("n1"), col("n2"))
        .agg(max(abs(col("r1") * col("n2") - col("r2") * col("n1")))
          .as("d_scaled"))
        .select(col("n1"), col("n2"), col("d_scaled"),
          // degenerate guard: an empty sample makes D undefined — NULL,
          // not an engine-dependent division-by-zero rendering
          when(col("n1") * col("n2") === 0, lit(null).cast(DoubleType))
            .otherwise(col("d_scaled").cast(DoubleType) /
              (col("n1") * col("n2")).cast(DoubleType)).as("d"))
    },
    Some("""WITH e AS (SELECT value,
                              CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
                       FROM events WHERE event_type IN ('click', 'view')),
            v AS (SELECT value, sum(is1) AS c1, sum(1 - is1) AS c2
                  FROM e GROUP BY value),
            r AS (SELECT value,
                         sum(c1) OVER (ORDER BY value ROWS BETWEEN
                           UNBOUNDED PRECEDING AND CURRENT ROW) AS r1,
                         sum(c2) OVER (ORDER BY value ROWS BETWEEN
                           UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
                  FROM v),
            t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                         CAST(sum(c2) AS BIGINT) AS n2 FROM v)
            SELECT t.n1, t.n2,
                   CAST(max(abs(r1 * t.n2 - r2 * t.n1)) AS BIGINT) AS d_scaled,
                   CASE WHEN t.n1 * t.n2 = 0 THEN NULL
                        ELSE CAST(max(abs(r1 * t.n2 - r2 * t.n1)) AS DOUBLE)
                             / (t.n1 * t.n2) END AS d
            FROM r, t GROUP BY t.n1, t.n2"""))

  /** Skewness and excess kurtosis per group, cross-engine deterministic —
    * the `agg_corr_manual` discipline extended to 3rd/4th moments: each
    * power x·x·x(·x) is a left-associated chain of correctly-rounded
    * double multiplies (bit-identical in both engines), the power SUMS
    * are DECIMAL (exact, merge-order independent), and the final
    * skew/kurtosis formulas are one fixed double expression tree per
    * column, rounded at 6 dp, with a degenerate guard: a zero-variance
    * group (constant value, or fp cancellation landing m2 at/below 0)
    * yields NULL in both engines — Spark would render 0/0 as NaN while
    * DuckDB renders NULL, and DuckDB's sqrt of a cancellation-negative m2
    * is a hard error that would fail the whole oracle query. Bounds:
    * value⁴ ≈ 6e10 on this corpus and DECIMAL(30,10) holds 1e20 integer
    * digits, so the power sums overflow only past ~1.7e9 rows per group —
    * scale the decimal precision with the corpus beyond that.
    */
  val aggSkewKurtManual: Q = Q(
    "agg_skew_kurt_manual",
    (s, d) => {
      val v = col("value")
      val m = Tables.read(s, d, "events")
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(v.cast(DecimalType(30, 10))).as("s1"),
          sum((v * v).cast(DecimalType(30, 10))).as("s2"),
          sum((v * v * v).cast(DecimalType(30, 10))).as("s3"),
          sum((v * v * v * v).cast(DecimalType(30, 10))).as("s4"))
        .withColumn("mean", col("s1").cast(DoubleType) / col("n"))
        .withColumn("m2", col("s2").cast(DoubleType) / col("n") -
          col("mean") * col("mean"))
        .withColumn("m3", col("s3").cast(DoubleType) / col("n") -
          lit(3.0) * col("mean") * (col("s2").cast(DoubleType) / col("n")) +
          lit(2.0) * col("mean") * col("mean") * col("mean"))
        .withColumn("m4", col("s4").cast(DoubleType) / col("n") -
          lit(4.0) * col("mean") * (col("s3").cast(DoubleType) / col("n")) +
          lit(6.0) * col("mean") * col("mean") *
            (col("s2").cast(DoubleType) / col("n")) -
          lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
      m.select(col("event_type"), col("n"),
          round(col("mean"), 6).as("mean"),
          // m2^1.5 as m2·sqrt(m2): sqrt is IEEE correctly rounded, pow is
          // not guaranteed to be — the only cross-engine-exact spelling
          when(col("m2") <= 0, lit(null).cast(DoubleType))
            .otherwise(round(col("m3") / (col("m2") * sqrt(col("m2"))), 6))
            .as("skewness"),
          when(col("m2") <= 0, lit(null).cast(DoubleType))
            .otherwise(round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6))
            .as("excess_kurtosis"))
        .orderBy(asc_nulls_first("event_type"))
    },
    Some("""WITH m AS (
              SELECT event_type, count(*) AS n,
                     sum(CAST(value AS DECIMAL(30,10))) AS s1,
                     sum(CAST(value * value AS DECIMAL(30,10))) AS s2,
                     sum(CAST(value * value * value AS DECIMAL(30,10))) AS s3,
                     sum(CAST(value * value * value * value AS DECIMAL(30,10))) AS s4
              FROM events GROUP BY event_type),
            c AS (
              SELECT event_type, n,
                     CAST(s1 AS DOUBLE) / n AS mean,
                     CAST(s2 AS DOUBLE) / n AS p2,
                     CAST(s3 AS DOUBLE) / n AS p3,
                     CAST(s4 AS DOUBLE) / n AS p4
              FROM m),
            k AS (
              SELECT event_type, n, mean,
                     p2 - mean * mean AS m2,
                     p3 - 3.0 * mean * p2 + 2.0 * mean * mean * mean AS m3,
                     p4 - 4.0 * mean * p3 + 6.0 * mean * mean * p2
                        - 3.0 * mean * mean * mean * mean AS m4
              FROM c)
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   round(mean, 6) AS mean,
                   CASE WHEN m2 <= 0 THEN NULL
                        ELSE round(m3 / (m2 * sqrt(m2)), 6) END AS skewness,
                   CASE WHEN m2 <= 0 THEN NULL
                        ELSE round(m4 / (m2 * m2) - 3.0, 6) END
                     AS excess_kurtosis
            FROM k ORDER BY event_type NULLS FIRST"""))

  /** `max_by` / `min_by` with a deterministic composite order — the
    * AGGREGATE path to "row with the extreme value per group". The
    * ordering key is `struct(value, event_id)` (lexicographic), so ties
    * on value resolve by event_id instead of Spark's documented
    * nondeterminism. Scale note: unlike the `row_number` window behind
    * `sink_upsert_latest_by_key`, `max_by` is a hash aggregate with a
    * MAP-SIDE PARTIAL — each input partition contributes one candidate
    * per group before the shuffle, so the exchange carries |groups| rows
    * instead of every row, no per-key sort anywhere. At 100 TB this is
    * the plan you want for latest-by-key whenever the full row isn't
    * needed downstream of the combine. NULL values are excluded up front
    * in both engines: Spark's struct ordering is nulls-FIRST while SQL
    * ranking defaults nulls-LAST, so extreme-by is only portable over
    * non-null ordering values.
    */
  val aggMaxBy: Q = Q(
    "agg_max_by",
    (s, d) => {
      val e = Tables.read(s, d, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .filter(col("value").isNotNull)
      e.groupBy(col("event_type")).agg(
          max_by(col("event_id"), struct(col("value"), col("event_id")))
            .as("max_event_id"),
          max(col("value")).as("max_value"),
          min_by(col("event_id"), struct(col("value"), col("event_id")))
            .as("min_event_id"),
          min(col("value")).as("min_value"))
        .orderBy(asc_nulls_first("event_type"))
    },
    Some("""WITH r AS (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, event_id DESC) AS rx,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value ASC, event_id ASC) AS rn
                 FROM events WHERE value IS NOT NULL)
            SELECT event_type,
                   max(CASE WHEN rx = 1 THEN event_id END) AS max_event_id,
                   max(CASE WHEN rx = 1 THEN value END) AS max_value,
                   max(CASE WHEN rn = 1 THEN event_id END) AS min_event_id,
                   max(CASE WHEN rn = 1 THEN value END) AS min_value
            FROM r GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Per-user Shannon entropy of the event-type distribution — the
    * class-balance / behavioral-diversity metric a training-data mix
    * audit runs per source or per user. Determinism follows the
    * `llm_unigram_logprob` ln discipline: p = n/N is one exact double
    * division, the transcendental −p·ln p is rounded to 6 decimals and
    * CARRIED AS DECIMAL so the per-user sum is merge-order independent;
    * the per-user total comes from a window over the SAME user shuffle
    * the groupBy creates (no second shuffle, no scalar collect).
    */
  val aggEntropy: Q = Q(
    "agg_entropy",
    (s, d) => {
      val c = Tables.read(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      c.withColumn("p", col("n").cast(DoubleType) / col("tot").cast(DoubleType))
        .withColumn("term",
          round(-col("p") * log(col("p")), 6).cast(DecimalType(20, 6)))
        .groupBy(col("user_id"), col("tot"))
        .agg(count(lit(1)).as("n_types"), sum(col("term")).as("h"))
        .select(col("user_id"), col("tot").cast(LongType).as("n_events"),
          col("n_types"), col("h").cast(DoubleType).as("entropy"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
                       FROM events GROUP BY 1, 2),
            t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1)
            SELECT c.user_id, CAST(t.tot AS BIGINT) AS n_events,
                   count(*) AS n_types,
                   CAST(sum(CAST(round(
                       -(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) *
                        ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)), 6)
                     AS DECIMAL(20,6))) AS DOUBLE) AS entropy
            FROM c JOIN t USING (user_id)
            GROUP BY c.user_id, t.tot
            ORDER BY c.user_id NULLS FIRST"""))

  /** Two-pass distributed prefix scan (unit-test seam): exact global
    * running sums `r1`, `r2` of `c1`, `c2` in ascending `orderCol` order.
    * One [[TwoPassScan]] instantiation (see there for the machinery);
    * `orderCol` values must be distinct (callers pre-aggregate), so the
    * order is total and the result partitioning-independent.
    */
  private[operators] def prefixScan2(df: org.apache.spark.sql.DataFrame,
                                     orderCol: String, c1: String, c2: String)
      : org.apache.spark.sql.DataFrame = {
    val prepared = df
      .select(col(orderCol), col(c1).cast(LongType).as(c1),
        col(c2).cast(LongType).as(c2))
      // null counts would surface as an opaque executor NPE in the
      // Row.getLong scans; treat them as 0 (absent) instead
      .na.fill(0L, Seq(c1, c2))
    val schema = org.apache.spark.sql.types.StructType(
      prepared.schema.fields :+
        org.apache.spark.sql.types.StructField("r1", LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField("r2", LongType, nullable = false))
    TwoPassScan[(Long, Long)](prepared, Seq(col(orderCol)), schema, (0L, 0L),
      add = { case ((a, b), r) => (a + r.getLong(1), b + r.getLong(2)) },
      combine = { case ((a, b), (x, y)) => (a + x, b + y) },
      emit = { case (_, (a, b), r) =>
        val r1 = a + r.getLong(1)
        val r2 = b + r.getLong(2)
        (org.apache.spark.sql.Row(r.get(0), r.getLong(1), r.getLong(2), r1, r2),
          (r1, r2))
      })
  }

  /** Exact weighted median (lower-median convention) per group — the
    * robust-center statistic a quality-weighted corpus pipeline uses
    * where a plain median ignores document importance. Aggregate-FIRST
    * discipline: the corpus collapses to one (group, value) weight table
    * via a map-combinable hash agg, and the running-weight windows scan
    * only those ~|groups|·|distinct values| rows — never corpus rows (the
    * same shape that keeps [[tsMadAnomaly]]'s medians off a corpus-sized
    * sort at 100 TB). Both windows share one partitioning, so the whole
    * op is two shuffles end-to-end. Weights are summed as DECIMAL(18,2)
    * (exact, merge-order independent) and the `cum·2 ≥ tot` pick is pure
    * integer/decimal comparison — no float in the decision path.
    */
  val aggWeightedMedian: Q = Q.sql(
    "agg_weighted_median",
    """WITH g AS (SELECT l_returnflag, l_quantity,
                         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS w
                  FROM lineitem WHERE l_quantity IS NOT NULL
                  GROUP BY 1, 2),
       c AS (SELECT *,
                    sum(w) OVER (PARTITION BY l_returnflag
                      ORDER BY l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum,
                    sum(w) OVER (PARTITION BY l_returnflag) AS tot
             FROM g)
       SELECT l_returnflag, min(l_quantity) AS weighted_median
       FROM c WHERE cum * 2 >= tot
       GROUP BY 1 ORDER BY l_returnflag NULLS FIRST""")

  /** Algebraic re-aggregation of persisted partials — THE 100 TB
    * materialized-view pattern: per-(type, day) partials (sum, count)
    * roll up to per-type totals and averages WITHOUT rescanning raw rows,
    * exactly (sum/count are algebraic; averages come from merged sums,
    * never from averaging averages). The oracle computes the same
    * two-level rollup, certifying partial-merge == direct aggregation.
    * Values are summed as DECIMAL(18,2) so the merge is order
    * independent; the final average is one double division.
    */
  val aggReaggregatePartials: Q = Q(
    "agg_reaggregate_partials",
    (s, d) => {
      val daily = Tables.read(s, d, "events")
        .select(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_rows"),
          sum(col("s")).cast(DoubleType).as("total_value"))
        .select(col("event_type"), col("n_days"), col("n_rows"),
          col("total_value"),
          (col("total_value") / col("n_rows")).as("avg_value"))
        .orderBy(asc_nulls_first("event_type"))
    },
    Some("""WITH p AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                              sum(CAST(value AS DECIMAL(18,2))) AS s,
                              count(*) AS n
                       FROM events GROUP BY 1, 2)
            SELECT event_type, count(*) AS n_days,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   CAST(sum(s) AS DOUBLE) AS total_value,
                   CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS BIGINT) AS avg_value
            FROM p GROUP BY 1 ORDER BY event_type NULLS FIRST"""))

  /** Count-Min sketch frequency estimation from MERGEABLE per-day
    * partials — the bounded-memory companion to [[aggHllSketchUnion]]
    * for point-frequency (not distinct) queries: each day folds into a
    * fixed d×w counter matrix via Spark's native `count_min_sketch`
    * aggregate (codegen'd, deterministic under the fixed seed), partials
    * merge by cell-wise addition, and the merged sketch answers
    * frequency queries for ANY key without rescanning raw data. Driver
    * state is O(#days) few-KB sketches (budget-gated like
    * `llm_mix_rebalance`'s O(#cells) collect — a retention window is
    * thousands of days, never corpus-sized). The output joins the
    * estimate against the exact per-type counts, so the CMS guarantee
    * (exact ≤ est ≤ exact + ε·N w.h.p.) is visible in the result;
    * SketchDriftSpec-style assertions pin mergeability (partials union
    * == whole-corpus sketch, byte-identical) and the bound. Randomized
    * estimator family → no SQL oracle; rows-checked + spec'd.
    */
  val aggCountminSketch: Q = Q(
    "agg_countmin_sketch",
    (s, d) => {
      import org.apache.spark.util.sketch.CountMinSketch
      val ev = Tables.read(s, d, "events")
        .select(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
      val partials = ev.groupBy(col("day"))
        .agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("sk"))
        .collect()
      require(partials.length <= 10000,
        s"${partials.length} day-partials exceed the driver sketch budget")
      // empty corpus → no partials to merge; the exact side is empty too,
      // so the estimator is never called — but reduce() on empty throws
      val est =
        if (partials.isEmpty) udf((_: String) => 0L)
        else {
          val merged = partials
            .map(r => CountMinSketch.readFrom(r.getAs[Array[Byte]]("sk")))
            .reduce { (a, b) => a.mergeInPlace(b); a }
          udf((t: String) => merged.estimateCount(t))
        }
      ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_count"))
        .withColumn("est_count", est(col("event_type")))
        .withColumn("overcount", col("est_count") - col("exact_count"))
        .orderBy(asc_nulls_first("event_type"))
    },
    None)

  /** Pairwise co-occurrence (market-basket support counts): for every
    * unordered event-type pair, how many users exhibit BOTH — the
    * association-rule support table behind "users who X also Y".
    * Dedup-FIRST discipline: the corpus collapses to the distinct
    * (user, type) incidence set via one map-combinable agg, and the
    * self-join runs on that set — per-user fan-out is bounded by
    * |types|² (25 here), so the join output is |users|·|types|², never
    * corpus². The t1 < t2 inequality keeps each unordered pair exactly
    * once. NULL types drop in the equi-join identically in both engines.
    */
  val aggTypeCooccurrence: Q = Q(
    "agg_type_cooccurrence",
    (s, d) => {
      // materialized once: both join sides reuse the deduplicated
      // incidence set — without this the corpus scan AND the distinct
      // shuffle run twice (the ts_weekday_profile lesson)
      val inc = Tables.read(s, d, "events")
        .select(col("user_id"), col("event_type")).distinct()
        .truncated
      inc.select(col("user_id"), col("event_type").as("t1"))
        .join(inc.select(col("user_id"), col("event_type").as("t2")), "user_id")
        .filter(col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(asc_nulls_first("t1"), asc_nulls_first("t2"))
    },
    Some("""WITH inc AS (SELECT DISTINCT user_id, event_type FROM events)
            SELECT a.event_type AS t1, b.event_type AS t2,
                   count(*) AS n_users
            FROM inc a JOIN inc b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
            ORDER BY t1 NULLS FIRST, t2 NULLS FIRST"""))

  /** Exact multi-quantile summary (p25/p50/p75/p95, lower-quantile
    * convention) per group — [[aggWeightedMedian]]'s machinery with unit
    * weights and four thresholds, and the EXACT counterpart to
    * `agg_approx_quantile`'s sketch: the corpus collapses to a (group,
    * value) count table, the running-count window scans only distinct
    * values, and every quantile pick is integer arithmetic (`cum·4 ≥
    * tot` etc.) — no interpolation, no float in any decision, which is
    * what makes the result portable across engines at all. One SQL text
    * valid in both engines (Q.sql): the engine runs it through Catalyst,
    * the oracle verbatim.
    */
  val aggExactQuantiles: Q = Q.sql(
    "agg_exact_quantiles",
    """WITH g AS (SELECT l_returnflag, l_quantity, count(*) AS n
                  FROM lineitem WHERE l_quantity IS NOT NULL
                  GROUP BY l_returnflag, l_quantity),
        c AS (SELECT *,
                     sum(n) OVER (PARTITION BY l_returnflag
                       ORDER BY l_quantity
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                     sum(n) OVER (PARTITION BY l_returnflag) AS tot
              FROM g)
      SELECT l_returnflag,
             min(CASE WHEN cum * 4 >= tot THEN l_quantity END) AS q25,
             min(CASE WHEN cum * 2 >= tot THEN l_quantity END) AS q50,
             min(CASE WHEN cum * 4 >= tot * 3 THEN l_quantity END) AS q75,
             min(CASE WHEN cum * 20 >= tot * 19 THEN l_quantity END) AS q95
      FROM c GROUP BY l_returnflag ORDER BY l_returnflag NULLS FIRST""")

  /** DDSketch quantiles (Masson et al., VLDB'19) — the MERGEABLE
    * relative-error quantile sketch production metrics pipelines run
    * (Datadog's sketch): values land in geometric buckets
    * `idx = ⌈ln(v)/ln(γ)⌉` (γ = 1.02 ⇒ ≤ 1% relative error), the
    * sketch is the O(#buckets) count vector — fully mergeable across
    * partitions/streams as plain count addition, which is why the whole
    * computation is TWO hash aggs + one tiny per-type window, no global
    * sort (`agg_exact_quantiles` is the exact-rank contrast). Zeros get
    * the standard dedicated zero-count (they rank below every positive
    * bucket). Determinism discipline: the two transcendentals
    * (`ln` ratio, `γ^idx` back-map) are rounded to 6 decimals before
    * ceil / before output, and ranks are INTEGER arithmetic
    * (`⌈n·p/100⌉ = (n·p + 99) div 100`), so both engines pick identical
    * buckets. Output: per event_type, n and the p50/p95/p99 estimates.
    */
  val aggDdsketchQuantile: Q = Q(
    "agg_ddsketch_quantile",
    (s, d) => {
      import s.implicits._
      val b = Tables.read(s, d, "events")
        .select(col("event_type"),
          when(col("value") > 0,
            ceil(round(log(col("value")) / log(lit(1.02)), 6)).cast(LongType))
            .as("idx"))
      val c = b.groupBy(col("event_type"), col("idx"))
        .agg(count(lit(1)).as("n"))
        .truncated // feeds totals AND the cumulative pick
      val tot = c.groupBy(col("event_type"))
        .agg(sum(col("n")).as("total"),
          sum(when(col("idx").isNull, col("n")).otherwise(0L)).as("zc"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = c.filter(col("idx").isNotNull)
        .withColumn("cum", sum(col("n")).over(wc))
      val ps = Seq(50L, 95L, 99L).toDF("p")
      val picked = tot.crossJoin(ps)
        .withColumn("rank", expr("(total * p + 99) div 100"))
        .join(cum, Seq("event_type"), "left")
        .filter(col("zc") + coalesce(col("cum"), lit(0L)) >= col("rank"))
        .groupBy(col("event_type"), col("p"), col("zc"), col("rank"))
        .agg(min(col("idx")).as("idx"))
        .withColumn("est",
          when(col("zc") >= col("rank"), lit(0.0))
            .otherwise(round(lit(2.0) * pow(lit(1.02), col("idx")) / lit(2.02), 6)))
      picked.groupBy(col("event_type"))
        .agg(max(when(col("p") === 50, col("est"))).as("p50"),
          max(when(col("p") === 95, col("est"))).as("p95"),
          max(when(col("p") === 99, col("est"))).as("p99"))
        .join(tot.select(col("event_type"), col("total").as("n_rows")), "event_type")
        .select(col("event_type"), col("n_rows"), col("p50"), col("p95"), col("p99"))
        .orderBy(asc_nulls_first("event_type"))
    },
    Some("""WITH b AS (SELECT event_type,
                   CASE WHEN value > 0
                        THEN CAST(ceil(round(ln(value) / ln(1.02), 6)) AS BIGINT)
                   END AS idx
                       FROM events),
            c AS (SELECT event_type, idx, count(*) AS n FROM b GROUP BY 1, 2),
            tot AS (SELECT event_type, sum(n) AS total,
                           coalesce(sum(n) FILTER (idx IS NULL), 0) AS zc
                    FROM c GROUP BY 1),
            cum AS (SELECT event_type, idx,
                           sum(n) OVER (PARTITION BY event_type ORDER BY idx
                                        ROWS UNBOUNDED PRECEDING) AS cum
                    FROM c WHERE idx IS NOT NULL),
            ps AS (SELECT unnest([50, 95, 99]) AS p),
            picked AS (SELECT t.event_type, ps.p, t.zc,
                              (t.total * ps.p + 99) // 100 AS rank,
                              min(cum.idx) AS idx
                       FROM tot t CROSS JOIN ps
                       LEFT JOIN cum ON cum.event_type = t.event_type
                       WHERE t.zc + coalesce(cum.cum, 0) >= (t.total * ps.p + 99) // 100
                       GROUP BY t.event_type, ps.p, t.zc, t.total),
            est AS (SELECT event_type, p,
                           CASE WHEN zc >= rank THEN 0.0
                                ELSE round(2.0 * power(1.02, idx) / 2.02, 6)
                           END AS est
                    FROM picked)
            SELECT e.event_type, CAST(t.total AS BIGINT) AS n_rows,
                   max(CASE WHEN p = 50 THEN est END) AS p50,
                   max(CASE WHEN p = 95 THEN est END) AS p95,
                   max(CASE WHEN p = 99 THEN est END) AS p99
            FROM est e JOIN tot t USING (event_type)
            GROUP BY e.event_type, t.total
            ORDER BY e.event_type NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    aggDdsketchQuantile,
    aggTypeCooccurrence, aggExactQuantiles,
    aggGlobal, aggHashGroupby, aggStringAggOrdered, aggCountDistinct,
    aggApproxDistinct, aggMinMaxAvg, aggMedianPercentile, aggGroupingSets,
    aggRollup, aggCube, aggDistinctRows, aggCorrManual, opPivot,
    opUdafWeightedAvg, aggMode, aggApproxQuantile, aggBoolLogic,
    aggHeavyHittersMg, aggHllSketchUnion, aggKsTwoSample, aggEntropy,
    aggMaxBy, aggSkewKurtManual, aggWeightedMedian, aggReaggregatePartials,
    aggCountminSketch, aggKmvDistinct, aggKmvSetOps, aggRollupGroupingId)
}
