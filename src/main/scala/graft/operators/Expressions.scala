package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.sources.TypeMap

/** SURVEY §2.2 — projection / filter / scalar expressions.
  *
  * Everything here composes from `org.apache.spark.sql.functions._`
  * (codegen'd, stays in WholeStageCodegen) except `op_udf_typemap`, whose
  * entire point is the registered-UDF surface. Oracle SQL follows SURVEY
  * §2.0: total ORDER BY with explicit NULLS FIRST, decimal-cast aggregates,
  * explicit result types on every cross-engine-ambiguous expression.
  */
object Expressions {

  /** Column selection / rename / computed columns (reference `setup.sh:180`,
    * string building `setup.sh:60-64`). Per-row double arithmetic is
    * IEEE-identical cross-engine (§2.0 rule 3).
    */
  val opProjectCompute: Q = Q.sql(
    "op_project_compute",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1.0 - l_discount) AS net_price
       FROM lineitem
       ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
                net_price NULLS FIRST""")

  /** WHERE with =, AND, > (reference `setup.sh:51,57,193,197`). The filter
    * reaches the parquet scan as PushedFilters.
    */
  val opFilterPred: Q = Q.sql(
    "op_filter_pred",
    """SELECT o_orderkey, o_orderstatus, o_totalprice
       FROM orders
       WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
       ORDER BY o_orderkey NULLS FIRST""")

  /** CASE WHEN (the reference's own type map is one, `setup.sh:40-49`). */
  val opCaseWhen: Q = Q.sql(
    "op_case_when",
    """SELECT c_custkey, c_acctbal,
              CASE WHEN c_acctbal < 0 THEN 'negative'
                   WHEN c_acctbal < 5000 THEN 'standard'
                   ELSE 'premium' END AS band
       FROM customer ORDER BY c_custkey NULLS FIRST""")

  /** String concatenation `||` (reference `setup.sh:61-64`). */
  val opStringConcat: Q = Q.sql(
    "op_string_concat",
    """SELECT c_custkey, c_name || '/' || c_mktsegment AS tag
       FROM customer ORDER BY c_custkey NULLS FIRST""")

  /** COALESCE / NULLIF (reference `setup.sh:64`). */
  val opCoalesceNullif: Q = Q.sql(
    "op_coalesce_nullif",
    """SELECT o_orderkey,
              NULLIF(o_orderstatus, 'O') AS closed_status,
              COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  /** Explicit casts across the §1.2 lattice. (No double→int casts: Spark
    * truncates, DuckDB rounds — intentionally excluded.)
    */
  val opCastTypes: Q = Q(
    "op_cast_types",
    (s, d) =>
      Tables.read(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_orderkey").cast(StringType).as("key_str"),
          col("l_linenumber").cast(LongType).as("line_l"),
          // Decimal cast exercised, then final-cast to DOUBLE (§2.0 rule 2:
          // the driver hashes Spark's parquet Decimal vs DuckDB's float64
          // unequal even when values match).
          col("l_extendedprice").cast(DecimalType(18, 2)).cast(DoubleType).as("price_dec"),
          col("l_shipdate").cast(DateType).as("ship_d"))
        .orderBy(asc_nulls_first("l_orderkey"), asc_nulls_first("l_linenumber"),
          asc_nulls_first("price_dec"), asc_nulls_first("ship_d")),
    Some("""SELECT l_orderkey, l_linenumber,
                   CAST(l_orderkey AS VARCHAR) AS key_str,
                   CAST(l_linenumber AS BIGINT) AS line_l,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
                   CAST(l_shipdate AS DATE) AS ship_d
            FROM lineitem
            ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
                     price_dec NULLS FIRST, ship_d NULLS FIRST"""))

  /** Scalar subquery in expression position (reference `setup.sh:54-59,64`);
    * Catalyst decorrelates via RewriteCorrelatedScalarSubquery. Same SQL
    * text runs on both engines (§2.0 rule-2 avg form).
    */
  val opScalarSubquery: Q = Q.sql(
    "op_scalar_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                    / COUNT(*) FROM orders)
       ORDER BY o_orderkey NULLS FIRST""")

  /** WITH common table expressions (reference `setup.sh:37-59`). */
  val opCte: Q = Q.sql(
    "op_cte",
    """WITH cust_orders AS (
         SELECT o_custkey, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
         FROM orders GROUP BY o_custkey)
       SELECT c.c_custkey, c.c_name,
              CAST(COALESCE(co.cnt, 0) AS BIGINT) AS order_cnt,
              COALESCE(co.spend, CAST(0.0 AS DOUBLE)) AS spend
       FROM customer c LEFT JOIN cust_orders co ON c.c_custkey = co.o_custkey
       ORDER BY c_custkey NULLS FIRST""")

  /** Recursive CTE (Spark 4's WITH RECURSIVE) driving a calendar spine —
    * the gap-filling shape reporting pipelines need: one row per day
    * between the corpus' first and last day, INCLUDING days with no
    * events, each carrying its (possibly zero) click count. The engine
    * injects the two bound literals from a one-row stats agg (the
    * z-order discipline — Spark's recursive term is happiest without
    * correlated scalar subqueries), then the recursion and the LEFT
    * JOIN run declaratively; DuckDB's oracle states the same recursion
    * with inline scalar subqueries. Recursion depth = corpus day span
    * (bounded by retention, never by corpus size) — at 100 TB the spine
    * is still a few thousand rows while the daily counts remain ONE
    * map-combinable corpus agg.
    */
  val opCteRecursive: Q = Q(
    "op_cte_recursive",
    (s, d) => {
      Tables.registerAll(s, d)
      val b = s.sql(
        """SELECT min((ts div 1000) div 86400000000),
                  max((ts div 1000) div 86400000000) FROM events""").head()
      require(!b.isNullAt(0), "cannot build a day spine over an empty corpus")
      val (d0, d1) = (b.getLong(0), b.getLong(1))
      s.sql(
        s"""WITH RECURSIVE spine(day) AS (
              SELECT ${d0}L AS day
              UNION ALL
              SELECT day + 1 FROM spine WHERE day < ${d1}L),
            clicks AS (
              SELECT (ts div 1000) div 86400000000 AS day, count(*) AS n
              FROM events WHERE event_type = 'click' GROUP BY 1)
            SELECT s.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n_clicks
            FROM spine s LEFT JOIN clicks c ON s.day = c.day
            ORDER BY s.day""")
    },
    Some("""WITH RECURSIVE spine(day) AS (
              SELECT (SELECT min(epoch_us(ts) // 86400000000) FROM events)
              UNION ALL
              SELECT day + 1 FROM spine
              WHERE day < (SELECT max(epoch_us(ts) // 86400000000)
                           FROM events)),
            clicks AS (
              SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
              FROM events WHERE event_type = 'click' GROUP BY 1)
            SELECT s.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n_clicks
            FROM spine s LEFT JOIN clicks c ON s.day = c.day
            ORDER BY s.day"""))

  /** IF / NULLIF / GREATEST / LEAST. */
  val fnConditional: Q = Q.sql(
    "fn_conditional",
    """SELECT p_partkey,
              GREATEST(p_size, 25) AS g, LEAST(p_size, 25) AS l,
              CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS tag,
              NULLIF(p_size, 25) AS sz_null
       FROM part ORDER BY p_partkey NULLS FIRST""")

  /** String function battery (string handling throughout `setup.sh`).
    * Int-returning functions cast to BIGINT in both dialects (Spark length →
    * INT, DuckDB length → BIGINT).
    */
  val fnString: Q = Q(
    "fn_string",
    (s, d) =>
      Tables.read(s, d, "part")
        .select(col("p_partkey"),
          length(col("p_name")).cast(LongType).as("name_len"),
          upper(col("p_brand")).as("brand_up"),
          lower(col("p_name")).as("name_lo"),
          substring(col("p_name"), 1, 8).as("name_pre"),
          regexp_replace(col("p_name"), " ", "_").as("name_us"),
          trim(col("p_name")).as("name_tr"),
          lpad(col("p_brand"), 12, "*").as("brand_pad"),
          instr(col("p_name"), "e").cast(LongType).as("e_pos"))
        .orderBy(asc_nulls_first("p_partkey")),
    Some("""SELECT p_partkey,
                   CAST(LENGTH(p_name) AS BIGINT) AS name_len,
                   UPPER(p_brand) AS brand_up, LOWER(p_name) AS name_lo,
                   SUBSTR(p_name, 1, 8) AS name_pre,
                   REPLACE(p_name, ' ', '_') AS name_us,
                   TRIM(p_name) AS name_tr,
                   LPAD(p_brand, 12, '*') AS brand_pad,
                   CAST(INSTR(p_name, 'e') AS BIGINT) AS e_pos
            FROM part ORDER BY p_partkey NULLS FIRST"""))

  /** regexp_extract / regexp_replace / rlike (reference `setup.sh:120-122`).
    * DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all.
    */
  val fnRegex: Q = Q(
    "fn_regex",
    (s, d) =>
      Tables.read(s, d, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          regexp_replace(col("p_type"), "[AEIOU]", "_").as("devowel"),
          col("p_name").rlike("bolt|ring").as("is_fastener"))
        .orderBy(asc_nulls_first("p_partkey")),
    Some("""SELECT p_partkey,
                   regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
                   regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devowel,
                   regexp_matches(p_name, 'bolt|ring') AS is_fastener
            FROM part ORDER BY p_partkey NULLS FIRST"""))

  /** Datetime functions over µs-precision timestamps (reference
    * `README.md:127` MicroTimestamp / `setup.sh:46`). Int extracts cast to
    * BIGINT; Spark date_trunc returns TIMESTAMP while DuckDB returns DATE,
    * so both sides normalize through CAST(.. AS DATE).
    */
  val fnDatetime: Q = Q.sql(
    "fn_datetime",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS BIGINT) AS y,
              CAST(month(o_orderdate) AS BIGINT) AS m,
              CAST(day(o_orderdate) AS BIGINT) AS dom,
              CAST(date_trunc('month', o_orderdate) AS DATE) AS mon_start,
              CAST(o_orderdate AS DATE) + 7 AS week_later
       FROM orders ORDER BY o_orderkey NULLS FIRST""")

  /** Math battery (exact cross-engine subset; floor/ceil cast to BIGINT —
    * DuckDB's return DOUBLE).
    */
  val fnMath: Q = Q.sql(
    "fn_math",
    """SELECT l_orderkey, l_linenumber,
              ROUND(l_extendedprice, 1) AS r1,
              CAST(FLOOR(l_extendedprice) AS BIGINT) AS fl,
              CAST(CEIL(l_extendedprice) AS BIGINT) AS ce,
              ABS(l_discount - 0.05) AS ad,
              l_orderkey % 7 AS m7
       FROM lineitem
       ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
                r1 NULLS FIRST, fl NULLS FIRST, ce NULLS FIRST,
                ad NULLS FIRST""")

  /** Nested JSON paths (the CDC envelope is nested JSON, `README.md:127`):
    * wrap the flat `props` into an outer object and extract through two
    * levels.
    */
  val fnJsonNested: Q = Q(
    "fn_json_nested",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(col("event_id"),
          concat(lit("""{"outer": """), col("props"), lit("}")).as("doc"))
        .select(col("event_id"),
          get_json_object(col("doc"), "$.outer.k").cast(LongType).as("k_nested"))
        .orderBy(asc_nulls_first("event_id")),
    Some("""SELECT event_id,
                   CAST(json_extract('{"outer": ' || props || '}', '$.outer.k') AS BIGINT) AS k_nested
            FROM events ORDER BY event_id NULLS FIRST"""))

  /** Array ops over the embedding column (per-row only — no float
    * summation, §2.0 rule 2). float→double casts are exact. The final
    * projection is all scalars: raw array columns break the driver's
    * pandas sort (unhashable ndarray), and float→string rendering differs
    * between Spark and DuckDB, so the slice is unpacked element-wise.
    */
  val fnArray: Q = Q(
    "fn_array",
    (s, d) => {
      val head4 = slice(col("embedding"), 1, 4)
      Tables.read(s, d, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast(LongType).as("dim"),
          element_at(col("embedding"), 1).cast(DoubleType).as("e1"),
          element_at(head4, 1).cast(DoubleType).as("h1"),
          element_at(head4, 2).cast(DoubleType).as("h2"),
          element_at(head4, 3).cast(DoubleType).as("h3"),
          element_at(head4, 4).cast(DoubleType).as("h4"),
          element_at(reverse(col("embedding")), 1).cast(DoubleType).as("last_e"))
        .orderBy(asc_nulls_first("vec_id"))
    },
    Some("""SELECT vec_id,
                   CAST(len(embedding) AS BIGINT) AS dim,
                   CAST(embedding[1] AS DOUBLE) AS e1,
                   CAST(embedding[1] AS DOUBLE) AS h1,
                   CAST(embedding[2] AS DOUBLE) AS h2,
                   CAST(embedding[3] AS DOUBLE) AS h3,
                   CAST(embedding[4] AS DOUBLE) AS h4,
                   CAST(embedding[len(embedding)] AS DOUBLE) AS last_e
            FROM embeddings ORDER BY vec_id NULLS FIRST"""))

  /** Map construct + lookup (scalar result form; the oracle states the
    * equivalent values directly). The missing-key probe uses `try_element_at`:
    * under Spark 4 default ANSI mode, `element_at` on an absent map key
    * throws MAP_KEY_DOES_NOT_EXIST instead of returning NULL.
    */
  val fnMap: Q = Q(
    "fn_map",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          try_element_at(map(lit("lang"), col("lang"), lit("src"), col("source")),
            lit("src")).as("src_val"),
          try_element_at(map(lit("lang"), col("lang")), lit("nope")).as("missing_val"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""SELECT doc_id, source AS src_val, CAST(NULL AS VARCHAR) AS missing_val
            FROM documents ORDER BY doc_id NULLS FIRST"""))

  /** UDF surface: the reference's type map (`setup.sh:40-49`) as a
    * registered Scala UDF. (Everywhere else we avoid UDFs — this key IS the
    * UDF surface proof.) Oracle inlines the equivalent CASE.
    */
  val opUdfTypemap: Q = Q(
    "op_udf_typemap",
    (s, d) => {
      val pgToCh = udf((t: String) => TypeMap.pgToClickHouse(t))
      val pgTypes = Seq("integer", "bigint", "numeric", "text",
        "character varying", "timestamp without time zone", "uuid", "money")
      val pgType = pgTypes.zipWithIndex.foldLeft(lit(null).cast(StringType)) {
        case (acc, (t, i)) => when(col("c_custkey") % 8 === i, lit(t)).otherwise(acc)
      }
      Tables.read(s, d, "customer")
        .select(col("c_custkey"), pgType.as("pg_type"))
        .withColumn("ch_type", pgToCh(col("pg_type")))
        .orderBy(asc_nulls_first("c_custkey"))
    },
    Some("""SELECT c_custkey,
                   CASE c_custkey % 8
                     WHEN 0 THEN 'integer' WHEN 1 THEN 'bigint'
                     WHEN 2 THEN 'numeric' WHEN 3 THEN 'text'
                     WHEN 4 THEN 'character varying'
                     WHEN 5 THEN 'timestamp without time zone'
                     WHEN 6 THEN 'uuid' ELSE 'money' END AS pg_type,
                   CASE c_custkey % 8
                     WHEN 0 THEN 'UInt32' WHEN 1 THEN 'UInt64'
                     WHEN 2 THEN 'Decimal(18,2)' WHEN 3 THEN 'String'
                     WHEN 4 THEN 'String' WHEN 5 THEN 'DateTime64(6)'
                     WHEN 6 THEN 'UUID' ELSE 'String' END AS ch_type
            FROM customer ORDER BY c_custkey NULLS FIRST"""))

  /** Cryptographic digest battery — md5 / sha256 hex over strings is
    * engine-independent (same algorithm, same lowercase-hex rendering),
    * so it oracle-checks exactly. These digests are also the working
    * parts of digest-based dedup (`llm_dedup_exact_digest`).
    */
  val fnHashDigest: Q = Q(
    "fn_hash_digest",
    (s, d) =>
      Tables.read(s, d, "part")
        .select(col("p_partkey"),
          md5(col("p_name").cast("binary")).as("name_md5"),
          sha2(col("p_name").cast("binary"), 256).as("name_sha256"))
        .orderBy(asc_nulls_first("p_partkey")),
    Some("""SELECT p_partkey, md5(p_name) AS name_md5,
                   sha256(p_name) AS name_sha256
            FROM part ORDER BY p_partkey NULLS FIRST"""))

  /** Bitwise operator battery (&, |, ^, shifts, bit_count) — pure integer
    * ops, exact cross-engine.
    */
  val fnBitwise: Q = Q(
    "fn_bitwise",
    (s, d) =>
      Tables.read(s, d, "nation")
        .select(col("n_nationkey"),
          expr("n_nationkey & 12").as("b_and"),
          expr("n_nationkey | 3").as("b_or"),
          // Spark spells bitwise xor `^`; DuckDB's `^` is POWER, its xor is
          // the xor() function — the one intentional dialect split here
          expr("CAST(n_nationkey ^ 21 AS INT)").as("b_xor"),
          expr("shiftleft(n_nationkey, 2)").as("b_shl"),
          expr("shiftright(n_nationkey, 1)").as("b_shr"),
          expr("CAST(bit_count(n_nationkey) AS INT)").as("b_pop"))
        .orderBy(asc_nulls_first("n_nationkey")),
    Some("""SELECT n_nationkey,
                   n_nationkey & 12 AS b_and,
                   n_nationkey | 3 AS b_or,
                   CAST(xor(n_nationkey, 21) AS INT) AS b_xor,
                   n_nationkey << 2 AS b_shl,
                   n_nationkey >> 1 AS b_shr,
                   CAST(bit_count(n_nationkey) AS INT) AS b_pop
            FROM nation ORDER BY n_nationkey NULLS FIRST"""))

  /** Unpivot (wide → long): per-order numeric columns to (metric, value)
    * rows via Dataset.unpivot / melt; oracle is the UNION ALL expansion.
    */
  val opUnpivot: Q = Q(
    "op_unpivot",
    (s, d) =>
      Tables.read(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_totalprice").as("total"),
          (col("o_totalprice") * 0.1).as("tax"),
          (col("o_totalprice") * 0.9).as("net"))
        .unpivot(Array(col("o_orderkey")), Array(col("total"), col("tax"), col("net")),
          "metric", "value")
        .orderBy(asc_nulls_first("o_orderkey"), asc_nulls_first("metric")),
    Some("""WITH w AS (SELECT o_orderkey, o_totalprice AS total,
                              o_totalprice * 0.1 AS tax, o_totalprice * 0.9 AS net
                       FROM orders)
            SELECT o_orderkey, 'total' AS metric, total AS value FROM w
            UNION ALL SELECT o_orderkey, 'tax', tax FROM w
            UNION ALL SELECT o_orderkey, 'net', net FROM w
            ORDER BY o_orderkey NULLS FIRST, metric NULLS FIRST"""))

  /** Semi-structured VARIANT surface (Spark 4): `parse_json` into an
    * open-schema variant, typed `variant_get` extraction, predicate on
    * the extracted value — the modern engine answer to schemaless
    * columns (vs the fixed-schema `from_json` path in
    * `src_json_payload_extract`). Oracle: DuckDB's native JSON extraction
    * — both engines read the same JSON scalar, so the typed values
    * hash-match.
    */
  val fnVariantJson: Q = Q(
    "fn_variant_json",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .filter(col("k") >= 50)
        .orderBy(asc_nulls_first("event_id")),
    Some("""SELECT event_id,
                   CAST(json_extract(props, '$.k') AS INTEGER) AS k
            FROM events WHERE CAST(json_extract(props, '$.k') AS INTEGER) >= 50
            ORDER BY event_id NULLS FIRST"""))

  /** LATERAL correlated subquery (top-1-per-row without a window): each
    * customer joined laterally to their single highest-value order. One
    * SQL text valid in BOTH engines — Catalyst decorrelates the LIMIT 1
    * subquery into a ranked join under the hood; the lateral FORM is the
    * surface a SQL user reaches for first.
    */
  val opLateralTopn: Q = Q.sql(
    "op_lateral_topn",
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
       FROM customer c,
       LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_custkey = c.c_custkey
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
       ORDER BY c_custkey NULLS FIRST""")

  /** ANSI-safe `try_*` arithmetic — the idiom this engine's always-ANSI
    * sessions rely on: `try_divide` yields NULL where strict division
    * THROWS (DIVIDE_BY_ZERO), `try_add` yields NULL where strict addition
    * overflows. The oracle spells out the equivalent CASE guards.
    */
  val fnTryArith: Q = Q(
    "fn_try_arith",
    (s, d) =>
      Tables.read(s, d, "orders")
        .select(col("o_orderkey"),
          expr("try_divide(CAST(o_totalprice AS DOUBLE), CAST(o_custkey % 3 AS DOUBLE))")
            .as("safe_div"),
          expr("try_add(9223372036854775800L, o_orderkey)").as("safe_add"))
        .orderBy(asc_nulls_first("o_orderkey")),
    Some("""SELECT o_orderkey,
                   CASE WHEN o_custkey % 3 = 0 THEN NULL
                        ELSE CAST(o_totalprice AS DOUBLE) / (o_custkey % 3) END
                     AS safe_div,
                   CASE WHEN o_orderkey > 7 THEN NULL
                        ELSE 9223372036854775800 + o_orderkey END AS safe_add
            FROM orders ORDER BY o_orderkey NULLS FIRST"""))

  /** EXISTS / NOT IN subquery surface — the predicate forms users write
    * before anyone rewrites them to joins; Catalyst plans EXISTS as a
    * LEFT SEMI join and NOT IN as a null-aware LEFT ANTI join (the
    * three-valued-logic variant a plain anti join gets WRONG when the
    * subquery column is nullable). The inner IS NOT NULL keeps NOT IN's
    * semantics identical across engines while still exercising the
    * null-aware plan.
    */
  val opExistsInSubquery: Q = Q.sql(
    "op_exists_in_subquery",
    """SELECT c_custkey, c_name
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 100000)
         AND c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_orderstatus = 'F'
                                 AND o_custkey IS NOT NULL)
       ORDER BY c_custkey NULLS FIRST""")

  /** explode_outer — the null-preserving explode: a row whose array is
    * NULL (here: every 5th event carries no tags) survives with a NULL
    * element instead of vanishing, which is the difference between "join
    * lost my rows" and a correct left-lateral flatten. The oracle
    * emulates outer semantics by coalescing the NULL array to a
    * single-NULL list before unnest (engines agree element-wise).
    */
  val opExplodeOuter: Q = Q(
    "op_explode_outer",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(col("event_id"),
          when(col("event_id") % lit(5) =!= 0, // % matches DuckDB sign semantics
            array(col("event_type"), concat(col("event_type"), lit("_x"))))
            .as("tags"))
        .select(col("event_id"), explode_outer(col("tags")).as("tag"))
        .orderBy(asc_nulls_first("event_id"), asc_nulls_first("tag")),
    Some("""WITH e AS (SELECT event_id,
                   CASE WHEN event_id % 5 <> 0
                        THEN [event_type, event_type || '_x'] END AS tags
                       FROM events)
            SELECT event_id,
                   unnest(coalesce(tags, [CAST(NULL AS VARCHAR)])) AS tag
            FROM e ORDER BY event_id NULLS FIRST, tag NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    opProjectCompute, opFilterPred, opCaseWhen, opStringConcat,
    opCoalesceNullif, opCastTypes, opScalarSubquery, opCte, opCteRecursive,
    fnConditional,
    fnString, fnRegex, fnDatetime, fnMath, fnJsonNested, fnArray, fnMap,
    fnHashDigest, fnBitwise, opUnpivot, opUdfTypemap, fnVariantJson,
    opLateralTopn, fnTryArith, opExistsInSubquery, opExplodeOuter)
}
