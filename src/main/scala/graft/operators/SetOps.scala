package graft.operators

import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** SURVEY §2.6 — sort / limit / set operations.
  *
  * `op_topk_global` relies on Catalyst turning ORDER BY + LIMIT into
  * TakeOrderedAndProject (per-partition top-k then a k-row merge on the
  * driver — no global sort shuffle), which is the only global-top-k plan
  * that works at 100 TB.
  */
object SetOps {

  /** Multi-key ORDER BY asc/desc with explicit null placement
    * (reference `setup.sh:52,180`).
    */
  val opSortMulti: Q = Q.sql(
    "op_sort_multi",
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate
       FROM lineitem
       ORDER BY l_returnflag ASC NULLS FIRST, l_shipdate DESC NULLS FIRST,
                l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST""")

  /** LIMIT k after a total sort (reference `setup.sh:58`). */
  val opLimitSorted: Q = Q.sql(
    "op_limit_sorted",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC NULLS FIRST, o_orderkey ASC NULLS FIRST
       LIMIT 10""")

  /** Global top-k → TakeOrderedAndProject. */
  val opTopkGlobal: Q = Q.sql(
    "op_topk_global",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
       ORDER BY l_extendedprice DESC NULLS FIRST,
                l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST
       LIMIT 100""")

  /** UNION ALL — the snapshot ∪ stream merge of the CDC pipeline
    * (reference `setup.sh:92` semantics).
    */
  val setopUnionAll: Q = Q.sql(
    "setop_union_all",
    """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION ALL
       SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0
       ORDER BY c_custkey NULLS FIRST, c_mktsegment NULLS FIRST""")

  val setopUnionDistinct: Q = Q.sql(
    "setop_union_distinct",
    """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION
       SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0
       ORDER BY c_custkey NULLS FIRST, c_mktsegment NULLS FIRST""")

  val setopIntersect: Q = Q.sql(
    "setop_intersect",
    """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT
       SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0
       ORDER BY c_custkey NULLS FIRST, c_mktsegment NULLS FIRST""")

  val setopExcept: Q = Q.sql(
    "setop_except",
    """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
       EXCEPT
       SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0
       ORDER BY c_custkey NULLS FIRST, c_mktsegment NULLS FIRST""")

  /** Multiset EXCEPT ALL — bag semantics (each duplicate counted), the
    * set-op the DISTINCT-based EXCEPT can't express. One hash-aggregated
    * anti-count per side under the hood; columns chosen for heavy
    * duplication so the multiset arithmetic is actually exercised.
    */
  val setopExceptAll: Q = Q.sql(
    "setop_except_all",
    """SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_quantity <= 25
       EXCEPT ALL
       SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_quantity > 40
       ORDER BY l_suppkey NULLS FIRST, l_returnflag NULLS FIRST""")

  /** Multiset INTERSECT ALL — min-of-multiplicities bag semantics. */
  val setopIntersectAll: Q = Q.sql(
    "setop_intersect_all",
    """SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_quantity <= 25
       INTERSECT ALL
       SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_quantity > 40
       ORDER BY l_suppkey NULLS FIRST, l_returnflag NULLS FIRST""")

  /** Snapshot diff / reconciliation — the validation a CDC pipeline runs
    * to certify sink == source (the reference's whole purpose, verified
    * by eye in its `setup.sh:168-207` probes; this is the operator form):
    * classify every key as insert / delete / update between two
    * snapshots and emit per-class counts + a key checksum. The "new"
    * snapshot derives deterministically from orders (drop key%97,
    * perturb value on key%13, insert key%101 under shifted keys) so the
    * oracle reproduces it exactly. At 100 TB the diff is ONE
    * co-partitioned full-outer hash join on the key — bucketing both
    * snapshots on the key makes it shuffle-free — and the output is the
    * aggregated class table, never a row-level collect; unchanged rows
    * (the overwhelming mass) are filtered before the aggregation.
    */
  val opSnapshotDiff: Q = Q(
    "op_snapshot_diff",
    (s, d) => {
      val o = Tables.read(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      val n = o.filter(col("k") % 97 =!= 0)
        .select(col("k"),
          when(col("k") % 13 === 0, col("v") + 1.0).otherwise(col("v")).as("v"))
        .unionByName(o.filter(col("k") % 101 === 0)
          .select((col("k") + 1000000000L).as("k"), col("v")))
      o.select(col("k").as("ko"), col("v").as("vo"))
        .join(n.select(col("k").as("kn"), col("v").as("vn")),
          col("ko") === col("kn"), "full_outer")
        .filter(col("ko").isNull || col("kn").isNull || col("vo") =!= col("vn"))
        .select(when(col("ko").isNull, "insert")
          .when(col("kn").isNull, "delete")
          .otherwise("update").as("change_type"),
          coalesce(col("ko"), col("kn")).as("k"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("key_checksum"))
        .orderBy(asc_nulls_first("change_type"))
    },
    Some("""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
            nw AS (SELECT k, CASE WHEN k % 13 = 0 THEN v + 1.0 ELSE v END AS v
                   FROM o WHERE k % 97 <> 0
                   UNION ALL
                   SELECT k + 1000000000, v FROM o WHERE k % 101 = 0),
            j AS (SELECT o.k AS ko, o.v AS vo, nw.k AS kn, nw.v AS vn
                  FROM o FULL JOIN nw ON o.k = nw.k)
            SELECT CASE WHEN ko IS NULL THEN 'insert'
                        WHEN kn IS NULL THEN 'delete'
                        ELSE 'update' END AS change_type,
                   count(*) AS n,
                   CAST(sum(coalesce(ko, kn)) AS BIGINT) AS key_checksum
            FROM j WHERE ko IS NULL OR kn IS NULL OR vo <> vn
            GROUP BY 1 ORDER BY change_type NULLS FIRST"""))

  /** Order-independent table checksum — the cross-system data-equality
    * probe ([[opSnapshotDiff]]'s cheap sibling): every row serializes
    * canonically (per-column NULL sentinel, so a shifted NULL cannot
    * alias another row), hashes through a PORTABLE md5-prefix (both
    * engines parse the same 8 hex chars to the same integer), and the
    * per-group checksum is the SUM of row hashes — commutative, so the
    * result is partition-, order- and engine-independent, and two
    * systems can compare fingerprints without moving a single row. The
    * sum accumulates in DECIMAL(38,0): at 10¹² rows a BIGINT sum of
    * 2³²-scale hashes overflows (ANSI Spark would throw), decimal never
    * wraps. One map-side-combinable hash agg; zero joins.
    */
  val opTableChecksum: Q = Q(
    "op_table_checksum",
    (s, d) =>
      Tables.read(s, d, "orders")
        .select(col("o_orderstatus"),
          expr("""cast(conv(substring(md5(concat(
                    coalesce(cast(o_orderkey as string), '<null>'), '|',
                    coalesce(cast(o_custkey as string), '<null>'), '|',
                    coalesce(o_orderpriority, '<null>'))), 1, 8), 16, 10)
                  as decimal(20,0))""").as("h"))
        .groupBy(col("o_orderstatus"))
        // The accumulator stays DECIMAL(38,0) (never wraps at 10^12
        // rows); only the OUTPUT renders as STRING — DECIMAL(38,0)
        // surfaces as object/Decimal or float64 depending on the
        // consumer's conversion path, and a fingerprint column must
        // canonicalize identically everywhere.
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h")).cast("decimal(38,0)").cast("string").as("checksum"))
        .orderBy(asc_nulls_first("o_orderstatus")),
    Some("""SELECT o_orderstatus, count(*) AS n_rows,
                   CAST(CAST(sum(CAST(('0x' || substr(md5(concat(
                          coalesce(CAST(o_orderkey AS VARCHAR), '<null>'), '|',
                          coalesce(CAST(o_custkey AS VARCHAR), '<null>'), '|',
                          coalesce(o_orderpriority, '<null>'))), 1, 8))
                        AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
            FROM orders GROUP BY o_orderstatus
            ORDER BY o_orderstatus NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    opSortMulti, opLimitSorted, opTopkGlobal, setopUnionAll,
    setopUnionDistinct, setopIntersect, setopExcept, setopExceptAll,
    setopIntersectAll, opSnapshotDiff, opTableChecksum)
}
