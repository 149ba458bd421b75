package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.util.Checkpoints.Truncate

/** SURVEY §2.8 extension — second wave of training-data-pipeline operators
  * (retrieval backbone, corpus filtering/mixing, event-stream features)
  * over `documents` / `events`.
  *
  * Scale shapes, per op: the inverted index and TF-IDF are one
  * Generator + hash-agg pass each (the exact skeleton every retrieval /
  * contamination op here shares); sessionization and z-score are one
  * shuffle per op, keyed by `user_id` (the natural event-stream
  * partitioning — co-partitioned with every other per-user op);
  * quantile filtering and mix rebalancing are one window / one
  * hash-agg + broadcast-scalar pass over `documents`. §2.0 determinism
  * discipline throughout: exact ints and DECIMAL sums first, a bounded
  * number of IEEE-exact double ops (`+ - * / sqrt` are correctly
  * rounded, so both engines emit identical bits) after, `round(…, 6)`
  * only where a transcendental (`ln`) enters.
  */
object PipelineOps {

  // ------------------------------------------------------------ retrieval

  /** Inverted index over the corpus: token → document frequency,
    * collection frequency, sorted postings list — the backbone structure
    * behind the n-gram/contamination joins, materialized as a first-class
    * table. One Generator + one hash agg; at 100 TB the postings arrays
    * are the only wide payload, and they shuffle ONCE, already grouped by
    * token (for truly hot tokens, cap or bucket the postings — `df`/`cf`
    * stay exact either way).
    */
  val llmInvertedIndex: Q = Q(
    "llm_inverted_index",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cf"),
          count_distinct(col("doc_id")).as("df"),
          // CSV-serialized postings: the driver's pandas row-sort can't
          // hash an array cell, and the string form is oracle-comparable
          array_join(sort_array(collect_set(col("doc_id"))), ",")
            .as("postings"))
        .orderBy(asc_nulls_first("token")),
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                       FROM documents)
            SELECT token, count(*) AS cf,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
                   array_to_string(list_sort(list(DISTINCT doc_id)), ',')
                     AS postings
            FROM t GROUP BY token ORDER BY token NULLS FIRST"""))

  /** Per-doc top-3 terms by TF-IDF — the classic term-weighting pass of a
    * retrieval / keyword-extraction pipeline. `tf` and `df` are exact
    * ints; `ln` is the one transcendental, so the score is rounded to 6
    * decimals BEFORE ranking and the rank tiebreaks on the term — both
    * engines rank the identical ordering. Two hash aggs + one broadcast
    * (the df side is |vocab| rows) + one window, all keyed consistently.
    */
  val llmTfidfTopTerms: Q = Q(
    "llm_tfidf_top_terms",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // tf is already one row per (doc_id, term) — df derives from it
      // without a second corpus explode
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.count()
      val scored = tf.join(broadcast(df), "term")
        .withColumn("tfidf",
          round(col("tf") * expr(s"ln(CAST($n AS DOUBLE) / df)"), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("tfidf"), asc("term"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf"), col("rk"))
        .orderBy(asc_nulls_first("doc_id"), asc("rk"))
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df
                   FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents),
            sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                          round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
                   FROM tf JOIN df USING (term) CROSS JOIN n),
            r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                             ORDER BY tfidf DESC, term) AS rk FROM sc)
            SELECT doc_id, term, tf, df, tfidf, rk FROM r WHERE rk <= 3
            ORDER BY doc_id NULLS FIRST, rk"""))

  // ---------------------------------------------------- filtering / mixing

  /** Per-language quality-quantile filter: keep the top quartile of each
    * language by the shared quality score ([[LlmOps.qualityScored]]).
    * Rank-based (`percent_rank` = (rank-1)/(n-1), one exact division —
    * no interpolated-percentile float hazard), tiebroken by `doc_id` so
    * the cut is total and engine-identical. A single-doc language keeps
    * its lone document (percent_rank of one row is 0 in both engines —
    * without the guard a sparse stratum would vanish entirely). One
    * window shuffle keyed by `lang`; at 100 TB this is the same plan at
    * any size — the quantile is never collected.
    */
  val llmQualityQuantile: Q = Q(
    "llm_quality_quantile",
    (s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(asc("quality"), asc("doc_id"))
      val wn = Window.partitionBy(col("lang"))
      LlmOps.qualityScored(s, d)
        .withColumn("pr", percent_rank().over(w))
        .withColumn("n_lang", count(lit(1)).over(wn))
        .filter(col("pr") >= 0.75 || col("n_lang") === 1)
        .select(col("doc_id"), col("lang"), col("quality"), col("pr"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH b AS (
              SELECT doc_id, lang,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
                     CAST(len(list_filter(string_split(text, ' '),
                          x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_stop
              FROM documents),
            q AS (SELECT doc_id, lang,
                         round(CAST(n_types AS DOUBLE) / n_tokens * 0.4
                               + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
                               + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3, 6)
                           AS quality
                  FROM b),
            r AS (SELECT doc_id, lang, quality,
                         percent_rank() OVER (PARTITION BY lang
                                              ORDER BY quality, doc_id) AS pr,
                         count(*) OVER (PARTITION BY lang) AS n_lang
                  FROM q)
            SELECT doc_id, lang, quality, pr FROM r
            WHERE pr >= 0.75 OR n_lang = 1
            ORDER BY doc_id NULLS FIRST"""))

  /** Mix rebalancing (data-mixing step): flatten the (lang, source) cell
    * distribution by sampling every cell down to the size of the SMALLEST
    * cell, with the same deterministic scramble rank as
    * `llm_stratified_sample`. Emits the kept docs plus each cell's size
    * and effective sampling rate. One hash agg for cell sizes (broadcast
    * back), one window for the per-cell rank — the min-cell scalar is
    * O(#cells) regardless of corpus size. At 100 TB with heavy cells,
    * swap the rank window for the rate-based scramble threshold (as
    * documented on the stratified-sample op) — the quota here is exact by
    * construction either way.
    */
  val llmMixRebalance: Q = Q(
    "llm_mix_rebalance",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
      // collect the O(#cells) size table ONCE; the min scalar and the
      // broadcast side both rebuild from it — one corpus scan, not three
      val cellRows = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("cell_n")).collect()
      val target = cellRows.map(_.getLong(2)).min
      import s.implicits._
      val cells = cellRows
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        .toDF("lang", "source", "cell_n")
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("scramble"), col("doc_id"))
      docs.select(col("doc_id"), col("lang"), col("source"))
        .withColumn("scramble", expr(LlmOps.scrambleSql))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= target)
        .join(broadcast(cells), Seq("lang", "source"))
        .select(col("doc_id"), col("lang"), col("source"), col("cell_n"),
          round(lit(target).cast(DoubleType) / col("cell_n"), 6).as("rate"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some(s"""WITH cells AS (SELECT lang, source, count(*) AS cell_n
                            FROM documents GROUP BY 1, 2),
             tgt AS (SELECT min(cell_n) AS target FROM cells),
             r AS (SELECT doc_id, lang, source,
                          row_number() OVER (PARTITION BY lang, source
                            ORDER BY ${LlmOps.scrambleSql}, doc_id) AS rk
                   FROM documents)
             SELECT r.doc_id, r.lang, r.source, c.cell_n,
                    round(CAST(t.target AS DOUBLE) / c.cell_n, 6) AS rate
             FROM r JOIN cells c ON r.lang = c.lang AND r.source = c.source
             CROSS JOIN tgt t
             WHERE r.rk <= t.target ORDER BY r.doc_id NULLS FIRST"""))

  /** Temperature-scaled source sampling weights — the multilingual-LM
    * mixing recipe (XLM-R / mT5: sample source s with p ∝ n_s^(1/τ)) at
    * τ = 2, i.e. √n weighting: up-samples small sources and flattens
    * the head without `llm_mix_rebalance`'s hard truncation-to-min.
    * Output per source: corpus share, temperature weight, sampling
    * probability, and the expected document count in a 1M-draw epoch —
    * the table a data-loader config is generated from. One hash agg to
    * the O(#sources) cell table; every downstream op runs on those ~20
    * rows. τ = 2 is chosen deliberately: n^(1/2) is `sqrt`, which IEEE
    * 754 requires CORRECTLY rounded — so unlike a fractional `pow`
    * (libm-dependent), every weight is bit-identical cross-engine
    * BEFORE rounding; weights then round 6 dp to DECIMAL so the
    * normalizing sum is merge-order independent, and each probability
    * is one exact-operand double division.
    */
  val llmMixTemperature: Q = Q(
    "llm_mix_temperature",
    (s, d) => {
      val cells = Tables.read(s, d, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .truncated // one corpus agg; totals + weights both read it
      val tot = cells.agg(sum(col("n_docs")).as("n_total"))
      val weighted = cells
        .withColumn("w", round(sqrt(col("n_docs").cast(DoubleType)), 6)
          .cast(DecimalType(18, 6)))
      val wsum = weighted.agg(sum(col("w")).as("w_total"))
      weighted.crossJoin(broadcast(tot)).crossJoin(broadcast(wsum))
        .select(col("source"), col("n_docs"),
          (col("n_docs").cast(DoubleType) / col("n_total")).as("p_corpus"),
          col("w").cast(DoubleType).as("weight"),
          (col("w").cast(DoubleType) / col("w_total").cast(DoubleType))
            .as("p_sample"),
          floor(col("w").cast(DoubleType) / col("w_total").cast(DoubleType)
            * 1000000).cast(LongType).as("docs_per_1m"))
        .orderBy(asc_nulls_first("source"))
    },
    Some("""WITH cells AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                           FROM documents GROUP BY 1),
            tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cells),
            wtd AS (SELECT source, n_docs,
                           CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6)
                                AS DECIMAL(18,6)) AS w
                    FROM cells),
            ws AS (SELECT CAST(sum(w) AS DECIMAL(38,6)) AS w_total FROM wtd)
            SELECT w.source, w.n_docs,
                   CAST(w.n_docs AS DOUBLE) / t.n_total AS p_corpus,
                   CAST(w.w AS DOUBLE) AS weight,
                   CAST(w.w AS DOUBLE) / CAST(s.w_total AS DOUBLE) AS p_sample,
                   CAST(floor(CAST(w.w AS DOUBLE) / CAST(s.w_total AS DOUBLE)
                              * 1000000) AS BIGINT) AS docs_per_1m
            FROM wtd w CROSS JOIN tot t CROSS JOIN ws s
            ORDER BY w.source NULLS FIRST"""))

  /** T5-style span-corruption preprocessing accounting — the denoising-
    * objective preparation every encoder-decoder pretraining pipeline
    * runs: deterministic hash-driven span starts (the repo's portable
    * Knuth scramble per (doc_id, position) — reproducible across runs
    * AND engines, where production randomness would be a seeded RNG),
    * each start masking a 3-token span, overlapping spans merging into
    * one sentinel. 5% start rate × span 3 ≈ the T5 15% corruption rate.
    * Output per doc: token/span/masked counts, the SENTINEL count (=
    * contiguous masked runs = sentinel tokens the model input gets),
    * and the realized mask rate. Entirely map-side array arithmetic
    * (filter/size over the position sequence) — zero shuffle before
    * the final sort, the scale-right shape for a per-doc transform.
    */
  val llmSpanCorruption: Q = Q(
    "llm_span_corruption",
    (s, d) => {
      def hs(pos: String) =
        s"((doc_id * 2654435761 + ($pos) * 40503) % 1000000007) % 20 = 0"
      val masked =
        s"""(${hs("i")} OR (i > 1 AND ${hs("i - 1")})
             OR (i > 2 AND ${hs("i - 2")}))"""
      val maskedPrev =
        s"""((i > 1 AND ${hs("i - 1")}) OR (i > 2 AND ${hs("i - 2")})
             OR (i > 3 AND ${hs("i - 3")}))"""
      Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), size(col("t")).cast(LongType).as("n_tokens"),
          expr(s"size(filter(sequence(1, size(t)), i -> ${hs("i")}))")
            .cast(LongType).as("n_spans"),
          expr(s"size(filter(sequence(1, size(t)), i -> $masked))")
            .cast(LongType).as("n_masked"),
          expr(s"""size(filter(sequence(1, size(t)),
                        i -> $masked AND NOT $maskedPrev))""")
            .cast(LongType).as("n_sentinels"))
        .withColumn("mask_rate",
          col("n_masked").cast(DoubleType) / col("n_tokens"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents),
            f AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                         CAST(len(list_filter(range(1, len(tk) + 1), i ->
                           ((doc_id * 2654435761 + i * 40503) % 1000000007) % 20 = 0))
                           AS BIGINT) AS n_spans,
                         CAST(len(list_filter(range(1, len(tk) + 1), i ->
                           ((doc_id * 2654435761 + i * 40503) % 1000000007) % 20 = 0
                           OR (i > 1 AND ((doc_id * 2654435761 + (i - 1) * 40503) % 1000000007) % 20 = 0)
                           OR (i > 2 AND ((doc_id * 2654435761 + (i - 2) * 40503) % 1000000007) % 20 = 0)))
                           AS BIGINT) AS n_masked,
                         CAST(len(list_filter(range(1, len(tk) + 1), i ->
                           (((doc_id * 2654435761 + i * 40503) % 1000000007) % 20 = 0
                            OR (i > 1 AND ((doc_id * 2654435761 + (i - 1) * 40503) % 1000000007) % 20 = 0)
                            OR (i > 2 AND ((doc_id * 2654435761 + (i - 2) * 40503) % 1000000007) % 20 = 0))
                           AND NOT ((i > 1 AND ((doc_id * 2654435761 + (i - 1) * 40503) % 1000000007) % 20 = 0)
                            OR (i > 2 AND ((doc_id * 2654435761 + (i - 2) * 40503) % 1000000007) % 20 = 0)
                            OR (i > 3 AND ((doc_id * 2654435761 + (i - 3) * 40503) % 1000000007) % 20 = 0))))
                           AS BIGINT) AS n_sentinels
                  FROM t)
            SELECT doc_id, n_tokens, n_spans, n_masked, n_sentinels,
                   CAST(n_masked AS DOUBLE) / n_tokens AS mask_rate
            FROM f ORDER BY doc_id NULLS FIRST"""))

  /** Triangle-area downsampling of the hourly total series (LTTB,
    * Steinarsson 2013 — the observability/plotting downsampler) in its
    * PARALLEL per-bucket form: each interior bucket keeps the point
    * forming the largest triangle with its NEIGHBOR BUCKET AVERAGES
    * (the classic variant that replaces LTTB's previously-SELECTED
    * point with the previous bucket's average, removing the sequential
    * chain — every bucket decides independently, so the whole pass is
    * one aggregation + one self-join + one per-bucket argmax; disclosed
    * deviation from strict LTTB, which is inherently sequential);
    * endpoint buckets keep their first/last point, as LTTB mandates.
    * Scale shape: aggregate-first to the O(#hours) series (map-side
    * partials — the only corpus-sized work), everything after runs on
    * |buckets| ≈ #hours/8 rows. §2.0 floats: bucket averages are
    * exact-operand double divisions of DECIMAL/int sums; the argmax
    * never compares raw doubles — it ranks `floor(area2 × 1e6)` as
    * BIGINT with the timestamp as tiebreak.
    */
  val tsDownsampleLttb: Q = Q(
    "ts_downsample_lttb",
    (s, d) => {
      val hourNs = 3600000000000L
      val hourly = Tables.read(s, d, "events")
        .groupBy(expr(s"ts div $hourNs").as("t"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("sv"),
          count(lit(1)).as("cnt"))
        .select(col("t"), col("sv").cast(DoubleType).as("v"),
          (col("t") - (col("t") % 8)).as("bk"))
        .truncated // feeds bucket stats AND the candidate join
      val stats = hourly.groupBy(col("bk"))
        .agg(sum(col("t")).as("st"), sum(col("v").cast(DecimalType(28, 2)))
          .as("svv"), count(lit(1)).as("n"))
        .select(col("bk"),
          (col("st").cast(DoubleType) / col("n")).as("avg_t"),
          (col("svv").cast(DoubleType) / col("n")).as("avg_v"))
        .truncated // referenced as prev AND next
      val bounds = hourly.agg(min(col("bk")).as("bk_lo"), max(col("bk")).as("bk_hi"))
      val withB = hourly.crossJoin(broadcast(bounds))
      val interior = withB
        .filter(col("bk") > col("bk_lo") && col("bk") < col("bk_hi"))
        .join(stats.select((col("bk") + 8).as("bk"), col("avg_t").as("tp"),
          col("avg_v").as("vp")), "bk")
        .join(stats.select((col("bk") - 8).as("bk"), col("avg_t").as("tn"),
          col("avg_v").as("vn")), "bk")
        .withColumn("area2_micro",
          floor(abs((col("tp") - col("tn")) * (col("v") - col("vp")) -
            (col("tp") - col("t")) * (col("vn") - col("vp"))) * 1000000)
            .cast(LongType))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("bk"))
            .orderBy(col("area2_micro").desc, col("t").asc)))
        .filter(col("rk") === 1)
        .select(col("bk"), col("t"), col("v"))
      val edges = withB
        .filter(col("bk") === col("bk_lo") || col("bk") === col("bk_hi"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("bk")).orderBy(
            when(col("bk") === col("bk_lo"), col("t")).otherwise(-col("t"))
              .asc)))
        .filter(col("rk") === 1)
        .select(col("bk"), col("t"), col("v"))
      interior.unionByName(edges).orderBy(asc_nulls_first("t"))
    },
    Some("""WITH hourly AS (SELECT epoch_ns(ts) // 3600000000000 AS t,
                                   CAST(SUM(CAST(value AS DECIMAL(18,2)))
                                        AS DOUBLE) AS v
                            FROM events GROUP BY 1),
            hb AS (SELECT t, v, t - (t % 8) AS bk FROM hourly),
            stats AS (SELECT bk,
                             CAST(SUM(t) AS DOUBLE) / COUNT(*) AS avg_t,
                             CAST(SUM(CAST(v AS DECIMAL(28,2))) AS DOUBLE)
                               / COUNT(*) AS avg_v
                      FROM hb GROUP BY bk),
            bounds AS (SELECT min(bk) AS bk_lo, max(bk) AS bk_hi FROM hb),
            interior AS (SELECT h.bk, h.t, h.v,
                                row_number() OVER (PARTITION BY h.bk ORDER BY
                                  CAST(floor(abs((p.avg_t - nx.avg_t) * (h.v - p.avg_v)
                                       - (p.avg_t - h.t) * (nx.avg_v - p.avg_v))
                                       * 1000000) AS BIGINT) DESC, h.t) AS rk
                         FROM hb h
                         CROSS JOIN bounds b
                         JOIN stats p ON p.bk = h.bk - 8
                         JOIN stats nx ON nx.bk = h.bk + 8
                         WHERE h.bk > b.bk_lo AND h.bk < b.bk_hi),
            edges AS (SELECT h.bk, h.t, h.v,
                             row_number() OVER (PARTITION BY h.bk ORDER BY
                               CASE WHEN h.bk = b.bk_lo THEN h.t
                                    ELSE -h.t END) AS rk
                      FROM hb h CROSS JOIN bounds b
                      WHERE h.bk = b.bk_lo OR h.bk = b.bk_hi)
            SELECT bk, t, v FROM interior WHERE rk = 1
            UNION ALL
            SELECT bk, t, v FROM edges WHERE rk = 1
            ORDER BY t NULLS FIRST"""))

  /** Cohort retention matrix — the product-analytics classic
    * (`ts_daily_retention` is the day-over-day diagonal of this): users
    * cohorted by their FIRST active day; for each (cohort, age 0..7)
    * cell, how many of the cohort were active `age` days later and the
    * retention rate. Aggregate-first discipline: ONE corpus pass to the
    * distinct (user, day) activity set (map-side partial), a user-keyed
    * min for the cohort, then an equi-join of two \|users×days\|-bounded
    * tables — no window over raw events, no self-join of the corpus.
    * All-integer counts; each rate is one exact-operand double
    * division. Age capped at 7 so the output is \|cohorts\| × 8 cells
    * (metadata-sized at any volume).
    */
  val tsCohortRetention: Q = Q(
    "ts_cohort_retention",
    (s, d) => {
      val dayNs = 86400000000000L
      val act = Tables.read(s, d, "events")
        .select(col("user_id"), expr(s"ts div $dayNs").as("day"))
        .distinct()
        .truncated // feeds the cohort min AND the activity probe
      val cohort = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      val sizes = cohort.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_n"))
      cohort.join(act, "user_id")
        .withColumn("age", col("day") - col("cohort"))
        .filter(col("age") <= 7)
        .groupBy(col("cohort"), col("age"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "cohort")
        .select(col("cohort"), col("age"), col("n_active"), col("cohort_n"),
          (col("n_active").cast(DoubleType) / col("cohort_n")).as("retention"))
        .orderBy(asc_nulls_first("cohort"), asc_nulls_first("age"))
    },
    Some("""WITH act AS (SELECT DISTINCT user_id,
                                epoch_ns(ts) // 86400000000000 AS day
                         FROM events),
            cohort AS (SELECT user_id, min(day) AS cohort FROM act
                       GROUP BY user_id),
            sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_n
                      FROM cohort GROUP BY cohort),
            cells AS (SELECT c.cohort, a.day - c.cohort AS age,
                             CAST(count(*) AS BIGINT) AS n_active
                      FROM cohort c JOIN act a USING (user_id)
                      WHERE a.day - c.cohort <= 7
                      GROUP BY c.cohort, a.day - c.cohort)
            SELECT ce.cohort, ce.age, ce.n_active, s.cohort_n,
                   CAST(ce.n_active AS DOUBLE) / s.cohort_n AS retention
            FROM cells ce JOIN sizes s USING (cohort)
            ORDER BY ce.cohort NULLS FIRST, ce.age NULLS FIRST"""))

  /** Per-user 30-day activity BITMAP packed into one BIGINT — the
    * bitmap-index technique behind fast audience segmentation (roaring
    * bitmaps, ClickHouse groupBitmap): bit i set ⟺ the user was active
    * on corpus day i, built with a single `bit_or` hash aggregation
    * (map-side combinable, 8 bytes of state per user — the whole month
    * of activity in one integer). Downstream set algebra (AND/OR two
    * users' months, audience intersections) becomes bitwise ops on
    * longs. Emits the bitmap, `bit_count` active days, and first/last
    * active day RECOVERED FROM THE BITMAP (log/bit arithmetic, proving
    * the packing lossless against the oracle's direct min/max). Day
    * offsets re-base on the corpus min day (one broadcast scalar), so
    * the 30-day span always fits the 63 usable bits; a CASE guard
    * raises an error if the span ever exceeds 62 days (JVM shiftleft
    * masks the amount mod 64 — silent bit aliasing otherwise),
    * mirrored in the oracle so a drifted corpus fails on both engines.
    */
  val aggActivityBitmap: Q = Q(
    "agg_activity_bitmap",
    (s, d) => {
      val dayNs = 86400000000000L
      val ev = Tables.read(s, d, "events")
        .select(col("user_id"), expr(s"ts div $dayNs").as("day"))
      val lo = ev.agg(min(col("day")).as("day0"))
      ev.crossJoin(broadcast(lo))
        .select(col("user_id"),
          // JVM shiftleft masks the shift amount mod 64, so a span >62
          // days would silently alias bits (day 64 -> bit 0). Fail loudly
          // instead; the oracle mirrors the same CASE with error().
          expr("CASE WHEN day - day0 > 62 THEN CAST(raise_error(" +
            "'agg_activity_bitmap: corpus day span exceeds 62 days') " +
            "AS BIGINT) ELSE " +
            "shiftleft(CAST(1 AS BIGINT), CAST(day - day0 AS INT)) END")
            .as("bit"), col("day0"))
        .groupBy(col("user_id"), col("day0"))
        .agg(expr("bit_or(bit)").as("bitmap"))
        .select(col("user_id"), col("bitmap"),
          expr("CAST(bit_count(bitmap) AS BIGINT)").as("n_active_days"),
          // lowest set bit -> first day; highest -> last day
          (col("day0") + expr(
            "CAST(log2(bitmap & -bitmap) AS BIGINT)")).as("first_day"),
          (col("day0") + expr(
            "CAST(floor(log2(bitmap)) AS BIGINT)")).as("last_day"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH ev AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
                        FROM events),
            lo AS (SELECT min(day) AS day0 FROM ev),
            bm AS (SELECT user_id, day0,
                          bit_or(CASE WHEN day - day0 > 62
                                 THEN CAST(error('agg_activity_bitmap: corpus day span exceeds 62 days') AS BIGINT)
                                 ELSE CAST(1 AS BIGINT) << CAST(day - day0 AS INT)
                                 END) AS bitmap
                   FROM ev CROSS JOIN lo
                   GROUP BY user_id, day0)
            SELECT user_id, bitmap,
                   CAST(bit_count(bitmap) AS BIGINT) AS n_active_days,
                   day0 + CAST(log2(bitmap & -bitmap) AS BIGINT) AS first_day,
                   day0 + CAST(floor(log2(bitmap)) AS BIGINT) AS last_day
            FROM bm ORDER BY user_id NULLS FIRST"""))

  /** Audience set algebra on activity BITMAPS — the downstream payoff
    * [[aggActivityBitmap]]'s doc promises: two audiences (clickers vs
    * purchasers — the purchaser side carries the `user_id % 3 ≠ 0`
    * carve of `agg_kmv_set_ops`, since in this corpus every user does
    * everything and an uncarved intersection is the union) reduce to
    * one 62-day bitmap EACH per user, and every audience question —
    * membership, co-membership, same-day co-activity, overlap/union
    * day-volumes — becomes bitwise AND/OR + `bit_count` on two longs.
    * Plan shape: one map-side-combinable `bit_or` hash agg to the
    * |users| table (16 bytes of state per user), then a single global
    * roll-up — the audience-intersection query 1000 shards answer by
    * shipping bitmaps, not user lists (same shape as ClickHouse's
    * groupBitmapAnd/Or). The >62-day raise_error guard and day re-base
    * are [[aggActivityBitmap]]'s, mirrored in the oracle.
    */
  val aggBitmapAudience: Q = Q(
    "agg_bitmap_audience",
    (s, d) => {
      val dayNs = 86400000000000L
      val ev = Tables.read(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"),
          expr(s"ts div $dayNs").as("day"))
      val lo = ev.agg(min(col("day")).as("day0"))
      val perUser = ev.crossJoin(broadcast(lo))
        .select(col("user_id"), col("event_type"),
          expr("CASE WHEN day - day0 > 62 THEN CAST(raise_error(" +
            "'agg_bitmap_audience: corpus day span exceeds 62 days') " +
            "AS BIGINT) ELSE " +
            "shiftleft(CAST(1 AS BIGINT), CAST(day - day0 AS INT)) END")
            .as("bit"))
        .groupBy(col("user_id"))
        .agg(
          coalesce(expr(
            "bit_or(CASE WHEN event_type = 'click' THEN bit END)"), lit(0L))
            .as("cbm"),
          coalesce(expr(
            "bit_or(CASE WHEN event_type = 'purchase' AND user_id % 3 <> 0 " +
              "THEN bit END)"), lit(0L)).as("pbm"))
      perUser.agg(
        sum(when(col("cbm") =!= 0, 1L).otherwise(0L)).as("n_clickers"),
        sum(when(col("pbm") =!= 0, 1L).otherwise(0L)).as("n_purchasers"),
        sum(when(col("cbm") =!= 0 && col("pbm") =!= 0, 1L).otherwise(0L))
          .as("n_both"),
        sum(when(expr("(cbm & pbm)") =!= 0, 1L).otherwise(0L))
          .as("n_same_day"),
        sum(expr("CAST(bit_count(cbm & pbm) AS BIGINT)")).as("overlap_days"),
        sum(expr("CAST(bit_count(cbm | pbm) AS BIGINT)")).as("union_days"))
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
                               epoch_ns(ts) // 86400000000000 AS day
                        FROM events
                        WHERE event_type IN ('click', 'purchase')),
            lo AS (SELECT min(day) AS day0 FROM ev),
            bits AS (SELECT user_id, event_type,
                            CASE WHEN day - day0 > 62
                            THEN CAST(error('agg_bitmap_audience: corpus day span exceeds 62 days') AS BIGINT)
                            ELSE CAST(1 AS BIGINT) << CAST(day - day0 AS INT)
                            END AS bit
                     FROM ev CROSS JOIN lo),
            pu AS (SELECT user_id,
                          coalesce(bit_or(CASE WHEN event_type = 'click'
                                          THEN bit END), 0) AS cbm,
                          coalesce(bit_or(CASE WHEN event_type = 'purchase'
                                               AND user_id % 3 <> 0
                                          THEN bit END), 0) AS pbm
                   FROM bits GROUP BY user_id)
            SELECT CAST(sum(CASE WHEN cbm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_clickers,
                   CAST(sum(CASE WHEN pbm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_purchasers,
                   CAST(sum(CASE WHEN cbm <> 0 AND pbm <> 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_both,
                   CAST(sum(CASE WHEN (cbm & pbm) <> 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_same_day,
                   CAST(sum(bit_count(cbm & pbm)) AS BIGINT) AS overlap_days,
                   CAST(sum(bit_count(cbm | pbm)) AS BIGINT) AS union_days
            FROM pu"""))

  /** Hour-of-day × weekday activity heatmap — the 7×24 traffic profile
    * every ops dashboard renders (and the 2-D generalization of
    * `ts_weekday_profile`'s weekday marginal): per cell, event count
    * and exact decimal value total. ONE map-side-partial hash agg to a
    * FIXED 168 cells regardless of event volume — the flattest possible
    * scale shape; weekday/hour derive from epoch integer arithmetic
    * (`day % 7`, `hour % 24`), no calendar library on either engine.
    */
  val tsHourWeekdayHeatmap: Q = Q(
    "ts_hour_weekday_heatmap",
    (s, d) => {
      Tables.read(s, d, "events")
        .select(expr("(ts div 86400000000000) % 7").as("weekday"),
          expr("(ts div 3600000000000) % 24").as("hour"), col("value"))
        .groupBy(col("weekday"), col("hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("total_value"))
        .orderBy(asc_nulls_first("weekday"), asc_nulls_first("hour"))
    },
    Some("""SELECT (epoch_ns(ts) // 86400000000000) % 7 AS weekday,
                   (epoch_ns(ts) // 3600000000000) % 24 AS hour,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_value
            FROM events GROUP BY 1, 2
            ORDER BY weekday NULLS FIRST, hour NULLS FIRST"""))

  /** Inter-arrival gap HISTOGRAM per event type — the distribution
    * (`ts_gap_stats` reports per-user moments; capacity planning and
    * anomaly thresholds want the shape): per-type consecutive-event
    * gaps in µs, bucketed by `floor(log2(gap))` into power-of-two
    * latency bands (the HdrHistogram/atlas convention). The window
    * partitions by (type, DAY), not type alone — event_type is a
    * LOW-cardinality key, and a per-type global sort would funnel the
    * whole stream through \|types\| partitions at 100 TB; day-scoping
    * keeps every sort partition bounded at the cost of dropping the one
    * cross-midnight gap per type per day (disclosed, mirrored in the
    * oracle). One (type, day) shuffle + one hash agg to
    * O(types × 64) cells. log2 is exact on power-of-two gaps and
    * >1 ulp from every integer elsewhere at these magnitudes, so the
    * floor is engine-stable; zero gaps (same-µs events) land in band
    * -1 via a CASE both engines share.
    */
  val tsGapHistogram: Q = Q(
    "ts_gap_histogram",
    (s, d) => {
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.read(s, d, "events")
        .select(col("event_type"), expr("ts div 1000").as("ts_us"),
          expr("(ts div 1000) div 86400000000").as("day"), col("event_id"))
        .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .withColumn("band",
          when(col("gap") <= 0, lit(-1L))
            .otherwise(floor(log2(col("gap"))).cast(LongType)))
        .groupBy(col("event_type"), col("band"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap")).as("min_gap_us"), max(col("gap")).as("max_gap_us"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("band"))
    },
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id
                       FROM events),
            g AS (SELECT event_type,
                         ts_us - lag(ts_us) OVER (
                              PARTITION BY event_type, ts_us // 86400000000
                              ORDER BY ts_us, event_id) AS gap
                  FROM e),
            b AS (SELECT event_type, gap,
                         CASE WHEN gap <= 0 THEN -1
                              ELSE CAST(floor(log2(gap)) AS BIGINT) END AS band
                  FROM g WHERE gap IS NOT NULL)
            SELECT event_type, band, CAST(count(*) AS BIGINT) AS n_gaps,
                   min(gap) AS min_gap_us, max(gap) AS max_gap_us
            FROM b GROUP BY 1, 2
            ORDER BY event_type NULLS FIRST, band NULLS FIRST"""))

  // ----------------------------------------------------------- event ops

  /** Sessionization: split each user's event stream into sessions at
    * inactivity gaps > 6 h (the corpus' median inter-event gap is ~7 h,
    * so real multi-event sessions emerge), then aggregate per session.
    * The classic clickstream/feature-pipeline op: one `user_id`-keyed
    * window (lag + running sum of session-start flags) + one hash agg on
    * (user, session) — all exact integer arithmetic, one shuffle total
    * since the agg is co-keyed with the window.
    */
  val tsSessionize: Q = Q(
    "ts_sessionize",
    (s, d) => {
      val gapUs = 21600000000L // 6 h
      val e = Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("prev", lag(col("ts_us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_us") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_sess")).over(run))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy(asc_nulls_first("user_id"), asc("session_idx"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
            f AS (SELECT user_id, event_id, ts_us,
                         lag(ts_us) OVER (PARTITION BY user_id
                                          ORDER BY ts_us, event_id) AS prev
                  FROM e),
            g AS (SELECT user_id, event_id, ts_us,
                         CASE WHEN prev IS NULL OR ts_us - prev > 21600000000
                              THEN 1 ELSE 0 END AS new_sess
                  FROM f),
            h AS (SELECT user_id, ts_us,
                         CAST(sum(new_sess) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                           AS session_idx
                  FROM g)
            SELECT user_id, session_idx,
                   count(*) AS n_events,
                   min(ts_us) AS start_us, max(ts_us) AS end_us,
                   max(ts_us) - min(ts_us) AS duration_us
            FROM h GROUP BY user_id, session_idx
            ORDER BY user_id NULLS FIRST, session_idx"""))

  /** Per-user z-score anomaly flags over event values — the outlier
    * screen before feature extraction. Moments accumulate in DECIMAL
    * (exact, merge-order independent — the §2.0 iterative-agg
    * discipline); mean/var/σ then convert once to double, and the z
    * itself is IEEE-exact `- / sqrt` arithmetic, identical bits in both
    * engines. Single-value users (σ = 0) get NULL z and a false flag.
    * One `user_id`-keyed hash agg + one broadcast-shaped join back —
    * co-partitioned with sessionization.
    */
  val tsZscoreAnomaly: Q = Q(
    "ts_zscore_anomaly",
    (s, d) => {
      val e = Tables.read(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val m = e.groupBy(col("user_id")).agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 10))).as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(30, 10))).as("sxx"))
        .withColumn("mean", col("sx").cast(DoubleType) / col("n"))
        .withColumn("sd", sqrt(greatest(
          col("sxx").cast(DoubleType) / col("n") - col("mean") * col("mean"),
          lit(0.0))))
        .select(col("user_id"), col("mean"), col("sd"))
      e.join(m, "user_id")
        .withColumn("z", when(col("sd") > 0,
          round((col("value") - col("mean")) / col("sd"), 6)))
        .select(col("event_id"), col("user_id"), col("value"),
          round(col("mean"), 6).as("mean"), round(col("sd"), 6).as("sd"),
          col("z"),
          coalesce(abs(col("z")) > 2.0, lit(false)).as("is_anomaly"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""WITH m AS (
              SELECT user_id, count(*) AS n,
                     sum(CAST(value AS DECIMAL(30,10))) AS sx,
                     sum(CAST(value * value AS DECIMAL(30,10))) AS sxx
              FROM events GROUP BY user_id),
            s AS (SELECT user_id,
                         CAST(sx AS DOUBLE) / n AS mean,
                         sqrt(greatest(CAST(sxx AS DOUBLE) / n
                              - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n),
                              0.0)) AS sd
                  FROM m)
            SELECT e.event_id, e.user_id, e.value,
                   round(s.mean, 6) AS mean, round(s.sd, 6) AS sd,
                   CASE WHEN s.sd > 0
                        THEN round((e.value - s.mean) / s.sd, 6) END AS z,
                   coalesce(abs(CASE WHEN s.sd > 0
                        THEN round((e.value - s.mean) / s.sd, 6) END) > 2.0,
                        false) AS is_anomaly
            FROM events e JOIN s USING (user_id)
            ORDER BY e.event_id NULLS FIRST"""))

  /** PII scrubbing (the redaction pass every published training set
    * runs): digit runs in the raw event payload replaced by a
    * placeholder, with a per-row redaction count. Pure per-row regex
    * projection — no shuffle, stays in whole-stage codegen; the regex is
    * RE2-compatible so both engines apply the identical automaton. On
    * real data the pattern set extends to emails/phones/SSNs — same
    * plan, longer alternation.
    */
  val llmPiiMask: Q = Q(
    "llm_pii_mask",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(col("event_id"), col("props"),
          regexp_replace(col("props"), "\\d+", "[NUM]").as("masked"),
          size(expr("regexp_extract_all(props, '\\\\d+', 0)"))
            .cast(LongType).as("n_redactions"))
        .orderBy(asc_nulls_first("event_id")),
    Some("""SELECT event_id, props,
                   regexp_replace(props, '\d+', '[NUM]', 'g') AS masked,
                   CAST(len(regexp_extract_all(props, '\d+')) AS BIGINT)
                     AS n_redactions
            FROM events ORDER BY event_id NULLS FIRST"""))

  /** The normalization expression itself — shared with Round18Spec so
    * the idempotence pin exercises the REAL op expression, not a copy.
    */
  private[operators] def normalizeText(c: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(c, "[^a-zA-Z0-9 ]", " "), " +", " ")))

  /** Text normalization — the canonical-form stage every dedup/quality
    * pipeline runs BEFORE digesting (casefold, strip punctuation,
    * collapse whitespace): without it trivial formatting variants defeat
    * exact dedup. Pure map-side codegen (lower + two regexp_replace +
    * trim per row, no shuffle — the scale-right shape of a per-doc
    * transform); the output carries the post-normalization md5 so the
    * hash gate pins every byte of the normalized form, plus before/after
    * char counts for the shrinkage audit. Cross-engine bit-identity:
    * non-alphanumerics — INCLUDING every non-ASCII codepoint — are
    * spaced out BEFORE `lower()`, so casefolding only ever sees ASCII
    * and the Java-full vs utf8proc-simple Unicode case-mapping
    * divergence (e.g. U+0130 'İ') can never reach the digest; the
    * character classes themselves (`[^a-zA-Z0-9 ]`, `' +'`) read
    * identically under Java regex and RE2.
    */
  val llmTextNormalize: Q = Q(
    "llm_text_normalize",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("n_chars").as("n_chars_raw"),
          normalizeText(col("text")).as("norm"))
        .select(col("doc_id"), col("n_chars_raw"),
          length(col("norm")).cast(LongType).as("n_chars_norm"),
          md5(col("norm").cast("binary")).as("norm_digest"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""WITH n AS (SELECT doc_id, n_chars AS n_chars_raw,
                   lower(trim(regexp_replace(regexp_replace(text,
                          '[^a-zA-Z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm
                       FROM documents)
            SELECT doc_id, n_chars_raw,
                   CAST(len(norm) AS BIGINT) AS n_chars_norm,
                   md5(norm) AS norm_digest
            FROM n ORDER BY doc_id NULLS FIRST"""))

  /** Tokenizer-vocabulary build: rank tokens by corpus frequency and
    * assign contiguous ids, with each token's cumulative corpus coverage
    * — the frequency-table step a BPE/unigram trainer starts from. One
    * Generator + one hash agg + [[rankScan]]: a two-pass DISTRIBUTED
    * rank/prefix-sum in (n desc, token asc) order — range-partition +
    * local sort, one O(#partitions) row of per-partition totals to the
    * driver, offsets broadcast back (the `prefixScan2` discipline from
    * `agg_ks_two_sample`). No single-partition window anywhere, so the
    * plan holds at any vocabulary cardinality; counts are exact, coverage
    * is one double division per row.
    */
  val llmVocabBuild: Q = Q(
    "llm_vocab_build",
    (s, d) => {
      val counts = Tables.read(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      rankScan(counts)
        .withColumn("coverage",
          round(col("cum_n").cast(DoubleType) / col("total_n"), 6))
        .select(col("token_id"), col("token"), col("n"), col("coverage"))
        .orderBy(asc("token_id"))
    },
    Some("""WITH c AS (SELECT unnest(string_split(text, ' ')) AS token
                       FROM documents),
            n AS (SELECT token, count(*) AS n FROM c GROUP BY 1),
            r AS (SELECT token, n,
                         row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id,
                         sum(n) OVER (ORDER BY n DESC, token
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
                         sum(n) OVER () AS total
                  FROM n)
            SELECT token_id, token, n,
                   round(CAST(cum_n AS DOUBLE) / total, 6) AS coverage
            FROM r ORDER BY token_id"""))

  /** Two-pass distributed rank + prefix sum (unit-test seam): in exact
    * global (n desc, token asc) order, assigns `token_id` (0-based dense
    * row index), `cum_n` (running sum of `n`), and `total_n` (the grand
    * total, same on every row). One [[TwoPassScan]] instantiation with
    * state (rows so far, sum so far) — see there for the machinery; no
    * single-partition exchange anywhere, so the plan holds at any
    * vocabulary cardinality. (token, n) pairs are distinct by
    * construction (post-groupBy), so the order is total and the result
    * partitioning-independent.
    */
  private[operators] def rankScan(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val prepared = counts.select(col("token"), col("n").cast(LongType).as("n"))
    val schema = StructType(Seq(
      StructField("token_id", LongType, nullable = false),
      StructField("token", prepared.schema("token").dataType, nullable = true),
      StructField("n", LongType, nullable = true),
      StructField("cum_n", LongType, nullable = false),
      StructField("total_n", LongType, nullable = false)))
    TwoPassScan[(Long, Long)](prepared, Seq(desc("n"), asc("token")), schema,
      (0L, 0L),
      add = { case ((rows, sum), r) => (rows + 1L, sum + r.getLong(1)) },
      combine = { case ((a, b), (x, y)) => (a + x, b + y) },
      emit = { case ((_, grand), (id, cum), r) =>
        val n = r.getLong(1)
        (Row(id, r.get(0), n, cum + n, grand), (id + 1L, cum + n))
      })
  }

  /** Vocabulary coverage CURVE — token-occurrence coverage of a top-k
    * word vocab at k ∈ {100, 1000, 10000}: the tokenizer-sizing
    * artifact ("how big must the vocab be for 95% coverage"), the curve
    * whose single point `llm_oov_rate` reports. Rank and cumulative
    * mass come from the SAME [[rankScan]] distributed two-pass ranking
    * as `llm_vocab_build` (range partition by (count, token),
    * O(#partitions) driver prefix-combine — no single-partition window
    * over the vocab at any corpus size); each curve point is then one
    * O(k)-bounded aggregate over the ranked table. All-integer masses;
    * each rate one exact-operand double division.
    */
  val llmVocabCoverageCurve: Q = Q(
    "llm_vocab_coverage_curve",
    (s, d) => {
      val counts = Tables.read(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      // all three curve points in ONE conditional aggregation over the
      // ranked table (r21: the former per-k filter+agg branches re-scanned
      // it three times and unioned three one-row jobs); cum_n is monotone
      // in token_id, so max(cum_n | token_id < k) is the covered mass
      // exactly as the per-branch agg computed it
      val ranked = rankScan(counts)
      ranked.agg(
          coalesce(max(when(col("token_id") < 100L, col("cum_n"))), lit(0L))
            .as("c100"),
          coalesce(max(when(col("token_id") < 1000L, col("cum_n"))), lit(0L))
            .as("c1000"),
          coalesce(max(when(col("token_id") < 10000L, col("cum_n"))), lit(0L))
            .as("c10000"),
          max(col("total_n")).as("total"))
        .select(explode(array(
          struct(lit(100L).as("k"), col("c100").as("covered")),
          struct(lit(1000L).as("k"), col("c1000").as("covered")),
          struct(lit(10000L).as("k"), col("c10000").as("covered")))).as("r"),
          col("total"))
        .select(col("r.k").as("k"), col("r.covered").as("covered"),
          col("total"),
          (col("r.covered").cast(DoubleType) / col("total")).as("coverage"))
        .orderBy(asc("k"))
    },
    Some("""WITH c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
                       FROM (SELECT unnest(string_split(text, ' ')) AS tok
                             FROM documents)
                       GROUP BY 1),
            r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok)
                         AS rk FROM c),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
            ks AS (SELECT unnest([100, 1000, 10000]) AS k),
            cov AS (SELECT ks.k, CAST(sum(r.n) AS BIGINT) AS covered
                    FROM ks JOIN r ON r.rk <= ks.k GROUP BY ks.k)
            SELECT CAST(c.k AS BIGINT) AS k, c.covered, t.total,
                   CAST(c.covered AS DOUBLE) / t.total AS coverage
            FROM cov c CROSS JOIN tot t ORDER BY k"""))

  /** Boilerplate window extraction — the top-3 most frequent exact
    * 10-token windows per source that recur across ≥2 DISTINCT
    * documents: the template/footer detector (CCNet's line-dedup
    * motivation at window granularity) that tells a curator what
    * `llm_substring_dedup` pairs actually share. Unlike the hashed
    * shingle ops, the window STRING is the deliverable here, so every
    * exploded window string rides the shuffle by necessity;
    * `n_occurrences` counts raw within-doc repeats (the distinct-doc
    * signal is carried separately by `n_docs`), and the per-(source,
    * window) agg partial-aggregates map-side, so repeated windows
    * collapse before the exchange; the top-3 rank runs on the
    * ≥2-doc survivors only.
    * All-integer counts with (count DESC, window ASC) total order.
    */
  val llmBoilerplateWindows: Q = Q(
    "llm_boilerplate_windows",
    (s, d) => {
      val win = Tables.read(s, d, "documents")
        .select(col("source"), col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("source"), col("doc_id"), explode(expr(
          """CASE WHEN size(t) >= 10
               THEN transform(sequence(1, size(t) - 9),
                              i -> concat_ws(' ', slice(t, i, 10)))
               ELSE CAST(array() AS array<string>) END""")).as("w"))
      val counts = win
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
      counts.withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_occurrences").desc, col("w").asc)))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk").cast(LongType).as("rk"), col("w"),
          col("n_occurrences"), col("n_docs"))
        .orderBy(asc_nulls_first("source"), asc("rk"))
    },
    Some("""WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS tk
                       FROM documents),
            w AS (SELECT source, doc_id,
                         array_to_string(tk[i:i+9], ' ') AS w
                  FROM (SELECT source, doc_id, tk,
                               unnest(range(1, greatest(len(tk) - 8, 1))) AS i
                        FROM t)),
            c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n_occurrences,
                         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                  FROM w GROUP BY 1, 2),
            f AS (SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY n_occurrences DESC, w) AS rk
                  FROM c WHERE n_docs >= 2)
            SELECT source, CAST(rk AS BIGINT) AS rk, w, n_occurrences, n_docs
            FROM f WHERE rk <= 3
            ORDER BY source NULLS FIRST, rk"""))

  /** Gini coefficient of the per-user event-count distribution — the
    * one-number activity-skew audit (Gini 0 = uniform users, →1 = a few
    * hubs own the traffic): the measurement that DECIDES whether a
    * user-keyed op needs `join_skew_salted`'s mitigation before it hits
    * the skew at scale. Exact Gini needs each count's RANK in the
    * sorted distribution — computed with the same [[TwoPassScan]]
    * distributed ranking as the shuffle/curriculum ops (range partition
    * by (count, user), O(#partitions) driver prefix-combine, no
    * single-partition window over the user table). The rank-weighted
    * sum Σ i·xᵢ accumulates in DECIMAL (exact, order-independent);
    * G = (2·Σ i·xᵢ)/(n·Σxᵢ) − (n+1)/n is then a fixed double
    * expression, rounded 6 dp.
    */
  val aggGiniActivity: Q = Q(
    "agg_gini_activity",
    (s, d) => {
      val counts = Tables.read(s, d, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("n"))
      val schema = StructType(Seq(
        StructField("i", LongType, nullable = false),
        StructField("n", LongType, nullable = true)))
      val ranked = TwoPassScan[Long](counts.select(col("n"), col("user_id")),
        Seq(asc("n"), asc("user_id")), schema,
        0L, add = (c, _) => c + 1L, combine = _ + _,
        emit = (_, pos, r) =>
          (org.apache.spark.sql.Row(pos + 1L, r.getLong(0)), pos + 1L))
      ranked.agg(count(lit(1)).as("n_users"),
          sum(col("n")).as("total_events"),
          sum((col("i") * col("n")).cast(DecimalType(38, 0))).as("iw"))
        .select(col("n_users"), col("total_events"),
          round(lit(2.0) * col("iw").cast(DoubleType) /
            (col("n_users").cast(DoubleType) * col("total_events").cast(DoubleType))
            - (col("n_users") + 1).cast(DoubleType) / col("n_users").cast(DoubleType),
            6).as("gini"))
    },
    Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
                       FROM events GROUP BY 1),
            r AS (SELECT n, row_number() OVER (ORDER BY n, user_id)
                         AS i FROM c),
            m AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                         CAST(sum(n) AS BIGINT) AS total_events,
                         sum(CAST(i * n AS DECIMAL(38,0))) AS iw
                  FROM r)
            SELECT n_users, total_events,
                   round(CAST(2.0 AS DOUBLE) * CAST(iw AS DOUBLE)
                         / (CAST(n_users AS DOUBLE) * CAST(total_events AS DOUBLE))
                         - CAST(n_users + 1 AS DOUBLE) / CAST(n_users AS DOUBLE),
                         6) AS gini
            FROM m"""))

  /** Per-user LIFETIME table — first/last activity, active span, active
    * days, event count, and events per active day: the user-granularity
    * feature table retention and LTV analyses join against (the
    * upstream of `ts_cohort_retention`'s cohort column). ONE user-keyed
    * hash aggregation over the corpus (map-side partials carry 5
    * scalars per user) — no window, no self-join; the distinct-day
    * count rides the same agg as `count(DISTINCT day)`. All-integer
    * outputs plus one exact-operand double division.
    */
  val tsUserLifetime: Q = Q(
    "ts_user_lifetime",
    (s, d) => {
      Tables.read(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"),
          count(lit(1)).as("n_events"),
          countDistinct(col("day")).as("n_active_days"))
        .withColumn("span_days",
          expr("(last_us - first_us) div 86400000000"))
        .withColumn("events_per_active_day",
          col("n_events").cast(DoubleType) / col("n_active_days"))
        .select(col("user_id"), col("first_us"), col("last_us"),
          col("span_days"), col("n_events"), col("n_active_days"),
          col("events_per_active_day"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                              epoch_us(ts) // 86400000000 AS day
                       FROM events)
            SELECT user_id, min(ts_us) AS first_us, max(ts_us) AS last_us,
                   (max(ts_us) - min(ts_us)) // 86400000000 AS span_days,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT day) AS BIGINT) AS n_active_days,
                   CAST(count(*) AS DOUBLE) / count(DISTINCT day)
                     AS events_per_active_day
            FROM e GROUP BY user_id ORDER BY user_id NULLS FIRST"""))

  /** Rolling 24 h window features per user: for every event, the count
    * and value-sum of that user's events in the trailing 24 h — the
    * standard time-decayed feature shape. A RANGE frame over the event
    * time (one `user_id` shuffle); the value sum accumulates in DECIMAL
    * so the frame's internal aggregation tree (Spark's sliding
    * aggregator vs DuckDB's segment tree) cannot produce
    * association-order float drift.
    */
  val tsRolling24h: Q = Q(
    "ts_rolling_24h",
    (s, d) => {
      val e = Tables.read(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          expr("ts div 1000").as("ts_us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, 0L)
      e.withColumn("cnt_24h", count(lit(1)).over(w))
        .withColumn("sum_24h",
          sum(col("value").cast(DecimalType(30, 10))).over(w)
            .cast(DoubleType))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("cnt_24h"), col("sum_24h"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us
                       FROM events)
            SELECT event_id, user_id, ts_us,
                   count(*) OVER w AS cnt_24h,
                   CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE)
                     AS sum_24h
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                         RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
            ORDER BY event_id NULLS FIRST"""))

  /** Rolling 24 h DISTINCT active users per hour bucket — the sliding
    * DAU curve ([[tsRolling24h]] is the per-user sum/count sibling; this
    * is the global cardinality one). Aggregate-first: the corpus first
    * collapses to DISTINCT (hour, user) pairs (the only thing a distinct
    * window can ever see), then each pair fans out to the 24 trailing
    * buckets it serves — a bounded ×24 map-side explode of the SHRUNK
    * pair table, never of raw events — and one hash agg counts distinct
    * users per bucket. No global window, no per-event state. Trailing
    * buckets past the corpus end appear by construction (both engines
    * identically).
    */
  val tsRollingDau: Q = Q(
    "ts_rolling_dau",
    (s, d) => {
      val hu = Tables.read(s, d, "events")
        .filter(col("user_id").isNotNull)
        .select(expr("(ts div 1000) div 3600000000").as("h"), col("user_id"))
        .distinct()
      hu.select(explode(expr("sequence(h, h + 23)")).as("bucket"), col("user_id"))
        .groupBy(col("bucket"))
        .agg(countDistinct(col("user_id")).as("dau_24h"))
        .orderBy(asc_nulls_first("bucket"))
    },
    Some("""WITH hu AS (SELECT DISTINCT epoch_us(ts) // 3600000000 AS h, user_id
                        FROM events WHERE user_id IS NOT NULL),
            x AS (SELECT h + g.i AS bucket, user_id
                  FROM hu CROSS JOIN (SELECT unnest(range(0, 24)) AS i) g)
            SELECT bucket, CAST(count(DISTINCT user_id) AS BIGINT) AS dau_24h
            FROM x GROUP BY bucket ORDER BY bucket NULLS FIRST"""))

  /** L2-normalization of the embedding column — the prep step before any
    * cosine-as-dot-product pipeline (normalized vectors turn cosine into
    * a plain dot product, halving ANN re-rank cost). Per-row HOF
    * arithmetic in double (sequential fold over the array — one defined
    * order, no shuffle); zero vectors pass through unnormalized. The
    * registry row projects scalar digests of the normalized vector (its
    * recomputed norm and first component) because the driver's pandas
    * row-sort can't hash an array cell; the full-array form is the
    * `normalizeEmbeddings` kernel other ops consume.
    *
    * ORACLED since r16 (previously rows-only as "float kernel"): both
    * engines run the identical IEEE double ops in the identical order —
    * Spark's `aggregate` HOF and DuckDB's `list_sum` are both sequential
    * left folds over the array, the float32 re-quantization of the
    * normalized components is `CAST(... AS FLOAT)` ↔ `CAST(... AS REAL)`,
    * and the published digests round at 6 decimals on top — verified
    * cell-exact over every row at sf0.01 AND sf0.1 before registration.
    */
  val llmEmbedNormalize: Q = Q(
    "llm_embed_normalize",
    (s, d) =>
      normalizeEmbeddings(normalizeEmbeddings(Tables.read(s, d, "embeddings"))
        .select(col("vec_id"), col("label"), col("norm").as("norm_before"),
          col("normalized").as("embedding")))
        .select(col("vec_id"), col("label"),
          round(col("norm_before"), 6).as("norm_before"),
          round(col("norm"), 6).as("unit_norm"),
          round(expr("CAST(embedding[0] AS DOUBLE)"), 6).as("first_component"))
        .orderBy(asc_nulls_first("vec_id")),
    Some("""WITH n AS (
              SELECT vec_id, label, embedding,
                     sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
              FROM embeddings),
            u AS (
              SELECT vec_id, label, nb, embedding,
                     CASE WHEN nb > 0
                          THEN list_transform(embedding,
                            x -> CAST(CAST(CAST(x AS DOUBLE) / nb AS REAL) AS DOUBLE))
                          ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS ne
              FROM n)
            SELECT vec_id, label,
                   round(nb, 6) AS norm_before,
                   round(sqrt(list_sum(list_transform(ne, z -> z * z))), 6) AS unit_norm,
                   round(ne[1], 6) AS first_component
            FROM u
            ORDER BY vec_id NULLS FIRST"""))

  /** Normalization kernel over any frame with an `embedding` column
    * (unit-test seam — the idempotence spec feeds its own output back).
    */
  private[operators] def normalizeEmbeddings(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("norm", sqrt(expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE),
             (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""")))
      .withColumn("normalized", expr(
        """CASE WHEN norm > 0
             THEN transform(embedding, x -> CAST(CAST(x AS DOUBLE) / norm AS FLOAT))
             ELSE embedding END"""))

  /** Unigram language-model scoring (the CCNet-style fluency signal):
    * per-doc average token log-probability under the corpus' own unigram
    * model. The per-token `ln` is rounded to 6 decimals (the one
    * transcendental — empirically cross-engine exact on this corpus, but
    * rounded anyway) and CARRIED AS DECIMAL so the per-doc sum is
    * merge-order independent; the final average is one double division.
    * Two hash aggs + an AQE-sized vocab join — the same skeleton as
    * TF-IDF; no part of the vocabulary ever lands on the driver.
    */
  val llmUnigramLogprob: Q = Q(
    "llm_unigram_logprob",
    (s, d) => {
      val toks = Tables.read(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      // the |vocab|-row count table stays DISTRIBUTED — a web-scale corpus
      // has a 1e8+-token vocabulary that must never land on the driver. The
      // corpus total is a one-row scalar agg broadcast into every vocab row
      // (the agg_ks_two_sample idiom); the lnp side is materialized once
      // (truncated) so the corpus explodes exactly twice (count pass +
      // score pass), and AQE sizes the lnp join (broadcast here, shuffle
      // if the vocab outgrows the threshold) from its actual byte size.
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      val tot = vocab.agg(sum(col("n")).as("total"))
      val lnp = vocab.crossJoin(broadcast(tot))
        .select(col("token"),
          round(expr("ln(CAST(n AS DOUBLE) / total)"), 6)
            .cast(DecimalType(20, 6)).as("lnp"))
        .truncated
      toks.join(lnp, "token")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("lnp")).as("sum_lnp"))
        .select(col("doc_id"), col("n_tokens"),
          (col("sum_lnp").cast(DoubleType) / col("n_tokens")).as("avg_logprob"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                       FROM documents),
            v AS (SELECT token, count(*) AS n FROM t GROUP BY 1),
            tot AS (SELECT sum(n) AS total FROM v),
            l AS (SELECT token,
                         CAST(round(ln(CAST(n AS DOUBLE) / t.total), 6)
                              AS DECIMAL(20,6)) AS lnp
                  FROM v CROSS JOIN tot t)
            SELECT t.doc_id, count(*) AS n_tokens,
                   CAST(sum(l.lnp) AS DOUBLE) / count(*) AS avg_logprob
            FROM t JOIN l USING (token)
            GROUP BY t.doc_id ORDER BY t.doc_id NULLS FIRST"""))

  /** Bigram language-model scoring — the conditional upgrade of
    * `llm_unigram_logprob` (one step toward the KenLM-style fluency
    * scorers CCNet uses): per-doc average ln P(w₂|w₁) under the corpus'
    * own bigram model, P = count(w₁w₂)/count(w₁·). No smoothing needed —
    * every document bigram exists in the corpus counts by construction.
    * Same determinism discipline (round(ln,6) carried as DECIMAL) and the
    * same distributed shape: one Generator pass for the bigram stream,
    * two hash aggs for the numerator/denominator tables, AQE-sized joins
    * — the bigram vocabulary (potentially ≫ unigram's) never approaches
    * the driver. Docs with <2 tokens have no bigrams and are absent, in
    * both engines.
    */
  val llmBigramLogprob: Q = Q(
    "llm_bigram_logprob",
    (s, d) => {
      val bg = Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(t) >= 2
               THEN transform(sequence(1, size(t) - 1),
                              i -> struct(element_at(t, i) AS w1,
                                          element_at(t, i + 1) AS w2))
               ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"""))
          .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .truncated
      val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb"))
      // the denominator rolls up from cb's |bigram-vocab| rows — never a
      // second full pass over the N-row corpus bigram stream
      val cu = cb.groupBy(col("w1")).agg(sum(col("nb")).as("nu"))
      val lnp = cb.join(cu, "w1")
        .select(col("w1"), col("w2"),
          round(expr("ln(CAST(nb AS DOUBLE) / nu)"), 6)
            .cast(DecimalType(20, 6)).as("lnp"))
      bg.join(lnp, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lnp")).as("sum_lnp"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sum_lnp").cast(DoubleType) / col("n_bigrams")).as("avg_logprob"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
            bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM pos),
            cb AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
            cu AS (SELECT w1, sum(nb) AS nu FROM cb GROUP BY 1),
            l AS (SELECT w1, w2,
                         CAST(round(ln(CAST(nb AS DOUBLE) / nu), 6)
                              AS DECIMAL(20,6)) AS lnp
                  FROM cb JOIN cu USING (w1))
            SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(l.lnp) AS DOUBLE) / count(*) AS avg_logprob
            FROM bg b JOIN l ON b.w1 = l.w1 AND b.w2 = l.w2
            GROUP BY b.doc_id ORDER BY b.doc_id NULLS FIRST"""))

  /** Sliding-window document chunking (the RAG / long-doc-pretraining
    * splitter): 50-token chunks on a 40-token stride (10-token overlap),
    * every token covered, trailing chunk may be short. One Generator per
    * doc — no shuffle before the presentation sort; chunk counts are
    * ~len/stride so output is ~1.25× the corpus, streamed through
    * codegen.
    */
  val llmDocChunking: Q = Q(
    "llm_doc_chunking",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), expr("size(t)").as("len"),
          posexplode(expr(
            "transform(sequence(1, size(t), 40), st -> concat_ws(' ', slice(t, st, 50)))"))
            .as(Seq("chunk_idx", "chunk_text")))
        .withColumn("chunk_start", col("chunk_idx") * 40 + 1)
        .withColumn("chunk_tokens",
          least(lit(50), col("len") - col("chunk_start") + 1).cast(LongType))
        .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
          col("chunk_start").cast(LongType).as("chunk_start"),
          col("chunk_tokens"), col("chunk_text"))
        .orderBy(asc_nulls_first("doc_id"), asc("chunk_idx")),
    Some("""WITH b AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            c AS (SELECT doc_id, len(t) AS len, t,
                         unnest(range(0, (len(t) + 39) // 40)) AS chunk_idx
                  FROM b)
            SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                   CAST(chunk_idx * 40 + 1 AS BIGINT) AS chunk_start,
                   CAST(least(50, len - (chunk_idx * 40 + 1) + 1) AS BIGINT)
                     AS chunk_tokens,
                   array_to_string(t[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ')
                     AS chunk_text
            FROM c ORDER BY doc_id NULLS FIRST, chunk_idx"""))

  /** Sequence packing, concat-and-split form (the GPT-style pretraining
    * batcher): docs concatenate in deterministic scramble order and split
    * into fixed 256-token blocks; each doc reports its first block, its
    * offset inside it, and how many blocks it spans. ONE global window —
    * but over (doc_id, len) metadata only, never text, so the single
    * partition holds two ints per doc; at 100 TB pack per shard (the
    * scramble key prefix) with this exact plan per shard.
    */
  val llmPackBlocks: Q = Q(
    "llm_pack_blocks",
    (s, d) => {
      val B = 256
      val w = Window.orderBy(col("scramble"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"))
        .withColumn("scramble", expr(LlmOps.scrambleSql))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"cum_before div $B").as("block_first"),
          (col("cum_before") % B).as("block_offset"),
          expr(s"(cum_before + n_tokens - 1) div $B - cum_before div $B + 1")
            .as("blocks_spanned"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some(s"""WITH b AS (SELECT doc_id,
                               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                               ${LlmOps.scrambleSql} AS scramble
                        FROM documents),
             c AS (SELECT doc_id, n_tokens,
                          COALESCE(sum(n_tokens) OVER (ORDER BY scramble, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            AS cum_before
                   FROM b)
             SELECT doc_id, n_tokens,
                    CAST(cum_before // 256 AS BIGINT) AS block_first,
                    CAST(cum_before % 256 AS BIGINT) AS block_offset,
                    CAST((cum_before + n_tokens - 1) // 256 - cum_before // 256 + 1
                      AS BIGINT) AS blocks_spanned
             FROM c ORDER BY doc_id NULLS FIRST"""))

  /** OHLC bars per (user, hour) — the resample-to-bars op of a metrics /
    * market pipeline: open and close via `min_by`/`max_by` keyed STRICTLY
    * on (ts, event_id) (the ffill tiebreak discipline), high/low/count
    * plain aggs. One hash agg, map-side combinable.
    */
  val tsOhlcBars: Q = Q(
    "ts_ohlc_bars",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("h", expr("ts_us div 3600000000"))
        .groupBy(col("user_id"), col("h"))
        .agg(
          min_by(col("value"), struct(col("ts_us"), col("event_id"))).as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("user_id"), asc("h")),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                              epoch_us(ts) // 3600000000 AS h, event_id, value
                       FROM events),
            r AS (SELECT user_id, h, value, ts_us, event_id,
                         row_number() OVER (PARTITION BY user_id, h
                           ORDER BY ts_us, event_id) AS rn_a,
                         row_number() OVER (PARTITION BY user_id, h
                           ORDER BY ts_us DESC, event_id DESC) AS rn_z
                  FROM e)
            SELECT user_id, h,
                   max(CASE WHEN rn_a = 1 THEN value END) AS open,
                   max(value) AS high, min(value) AS low,
                   max(CASE WHEN rn_z = 1 THEN value END) AS close,
                   count(*) AS n
            FROM r GROUP BY user_id, h
            ORDER BY user_id NULLS FIRST, h"""))

  /** The composed corpus-filter decision table — what a curation pipeline
    * actually ships: one row per document with each gate's verdict
    * (exact-dup canonical? quality ≥ 0.5? length in [10, 500] tokens?)
    * and the final `keep`. Composition stays one scan + one dup
    * hash-agg + a broadcast-back join; every gate is individually
    * inspectable, so reviewers can audit WHY a doc dropped (the reason
    * matters as much as the decision in a 100 TB curation run).
    */
  val llmCorpusFilterDecision: Q = Q(
    "llm_corpus_filter_decision",
    (s, d) => {
      val scored = LlmOps.qualityScored(s, d)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
      val canon = Tables.read(s, d, "documents")
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("is_canonical"))
      scored.join(canon, Seq("doc_id"), "left")
        .withColumn("pass_dedup", coalesce(col("is_canonical"), lit(false)))
        .withColumn("pass_quality", col("quality") >= 0.5)
        .withColumn("pass_length",
          col("n_tokens") >= 10 && col("n_tokens") <= 500)
        .withColumn("keep",
          col("pass_dedup") && col("pass_quality") && col("pass_length"))
        .select(col("doc_id"), col("n_tokens"), col("quality"),
          col("pass_dedup"), col("pass_quality"), col("pass_length"),
          col("keep"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH b AS (
              SELECT doc_id, text,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
                     CAST(len(list_filter(string_split(text, ' '),
                          x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_stop
              FROM documents),
            q AS (SELECT doc_id, text, n_tokens,
                         round(CAST(n_types AS DOUBLE) / n_tokens * 0.4
                               + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
                               + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3, 6)
                           AS quality
                  FROM b),
            c AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
            SELECT q.doc_id, q.n_tokens, q.quality,
                   c.doc_id IS NOT NULL AS pass_dedup,
                   q.quality >= 0.5 AS pass_quality,
                   q.n_tokens BETWEEN 10 AND 500 AS pass_length,
                   (c.doc_id IS NOT NULL AND q.quality >= 0.5
                    AND q.n_tokens BETWEEN 10 AND 500) AS keep
            FROM q LEFT JOIN c ON q.doc_id = c.doc_id
            ORDER BY q.doc_id NULLS FIRST"""))

  /** Per-user inactivity-gap statistics (the data-quality screen before
    * sessionization thresholds are chosen): gap count over 24 h, max and
    * average gap. Gaps are exact integer µs; the average is DECIMAL-summed
    * then one double division. One window + one hash agg, co-keyed.
    */
  val tsGapStats: Q = Q(
    "ts_gap_stats",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
        .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(when(col("gap") > 86400000000L, 1L).otherwise(0L)).as("n_gaps_24h"),
          max(col("gap")).as("max_gap_us"),
          (sum(col("gap").cast(DecimalType(30, 0))).cast(DoubleType)
            / count(lit(1))).as("avg_gap_us"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
            g AS (SELECT user_id,
                         ts_us - lag(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS gap
                  FROM e)
            SELECT user_id, count(*) AS n_gaps,
                   CAST(sum(CASE WHEN gap > 86400000000 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_gaps_24h,
                   max(gap) AS max_gap_us,
                   CAST(sum(CAST(gap AS DECIMAL(30,0))) AS DOUBLE) / count(*)
                     AS avg_gap_us
            FROM g WHERE gap IS NOT NULL
            GROUP BY user_id ORDER BY user_id NULLS FIRST"""))

  /** Fixed-width histogram of event values (10 buckets of width 60):
    * the distribution screen every numeric column gets before outlier
    * thresholds are chosen. Pure integer bucketing + one hash agg.
    */
  val aggHistogramFixed: Q = Q(
    "agg_histogram_fixed",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(expr("CAST(floor(value / 60) AS BIGINT)").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .withColumn("lo", col("bucket") * 60.0)
        .withColumn("hi", (col("bucket") + 1) * 60.0)
        .select(col("bucket"), col("lo"), col("hi"), col("n"))
        .orderBy(asc_nulls_first("bucket")),
    Some("""SELECT CAST(floor(value / 60) AS BIGINT) AS bucket,
                   CAST(floor(value / 60) AS BIGINT) * 60.0 AS lo,
                   (CAST(floor(value / 60) AS BIGINT) + 1) * 60.0 AS hi,
                   count(*) AS n
            FROM events GROUP BY 1
            ORDER BY bucket NULLS FIRST"""))

  /** Per-user value trend: least-squares slope of value over time (the
    * drift feature). x is hours since the USER'S first event — re-origined
    * so x² stays in exact long range — and the moments follow the
    * `agg_corr_manual` DECIMAL discipline (merge-order independent);
    * single-point / zero-variance users get NULL slope. One co-keyed
    * window (per-user min) + one hash agg.
    */
  val tsTrendSlope: Q = Q(
    "ts_trend_slope",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
      val e = Tables.read(s, d, "events")
        .select(col("user_id"), col("value"),
          expr("(ts div 1000) div 3600000000").as("h"))
        .withColumn("x", col("h") - min(col("h")).over(w))
      val m = e.groupBy(col("user_id")).agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x").cast(DecimalType(20, 0))).cast(DoubleType).as("sx"),
        sum(col("value").cast(DecimalType(30, 10))).cast(DoubleType).as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(24, 0)))
          .cast(DoubleType).as("sxx"),
        sum((col("x").cast(DoubleType) * col("value"))
          .cast(DecimalType(30, 6))).cast(DoubleType).as("sxy"))
      m.select(col("user_id"), col("n").cast(LongType).as("n_events"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              / (col("n") * col("sxx") - col("sx") * col("sx")), 6))
            .as("slope_per_hour"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, value,
                              epoch_us(ts) // 3600000000 AS h
                       FROM events),
            x AS (SELECT user_id, value,
                         h - min(h) OVER (PARTITION BY user_id) AS x
                  FROM e),
            m AS (SELECT user_id,
                         CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(CAST(x AS DECIMAL(20,0))) AS DOUBLE) AS sx,
                         CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sy,
                         CAST(sum(CAST(x * x AS DECIMAL(24,0))) AS DOUBLE) AS sxx,
                         CAST(sum(CAST(CAST(x AS DOUBLE) * value AS DECIMAL(30,6)))
                              AS DOUBLE) AS sxy
                  FROM x GROUP BY user_id)
            SELECT user_id, CAST(n AS BIGINT) AS n_events,
                   CASE WHEN n * sxx - sx * sx > 0
                        THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                   END AS slope_per_hour
            FROM m ORDER BY user_id NULLS FIRST"""))

  /** Bloom-filter prescreen for eval-set contamination — the O(KB)
    * mergeable-sketch fast path in front of the exact 5-gram screen:
    * Spark's own BloomFilterAggregate (surfaced as `graft_bloom_agg` —
    * it backs the optimizer's runtime filters but isn't in the public
    * registry) builds the sketch over eval-doc hashes in one pass, and
    * the probe is a codegen'd expression, no UDF anywhere. Guarantees NO
    * false negatives (every true eval duplicate is flagged); false
    * positives only cost a wasted exact check downstream. Rows-only —
    * spec proves the no-false-negative property and bounds the flag rate.
    */
  val llmBloomPrescreen: Q = Q(
    "llm_bloom_prescreen",
    (s, d) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val docs = Tables.read(s, d, "documents")
      // the sketch collects to the driver — O(KB) REGARDLESS of eval-set
      // size, that is the point — and probes as a constant (the form
      // might_contain requires)
      val bf = bloomOf(docs.filter(col("doc_id") % 50 === 0))
      // binary Literal probe, not an X'..' hex SQL literal — a scaled-up
      // sketch must not pass through the SQL parser (ADVICE r15)
      docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"),
          call_function("graft_bloom_contains", lit(bf), xxhash64(col("text")))
            .as("maybe_eval_dup"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    None)

  /** Build the eval-set bloom sketch and collect its binary (unit-test
    * seam; O(KB) driver state).
    */
  private[operators] def bloomOf(evalDocs: org.apache.spark.sql.DataFrame): Array[Byte] = {
    org.apache.spark.sql.graft.GraftFunctions.register(evalDocs.sparkSession)
    evalDocs
      .agg(expr("graft_bloom_agg(xxhash64(text), 1000L, 16384L)").as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Per-user lag-1 autocorrelation of event values — the "is this series
    * noise or momentum" feature. Consecutive (prev, cur) pairs via one
    * co-keyed lag window; the correlation follows the `agg_corr_manual`
    * DECIMAL-moment discipline exactly; degenerate users (≤1 pair or zero
    * variance on either side) get NULL.
    */
  val tsAutocorrLag1: Q = Q(
    "ts_autocorr_lag1",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val p = Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          expr("ts div 1000").as("ts_us"))
        .withColumn("prev", lag(col("value"), 1).over(w))
        .filter(col("prev").isNotNull)
      val m = p.groupBy(col("user_id")).agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("prev").cast(DecimalType(30, 10))).cast(DoubleType).as("sx"),
        sum(col("value").cast(DecimalType(30, 10))).cast(DoubleType).as("sy"),
        sum((col("prev") * col("prev")).cast(DecimalType(30, 6)))
          .cast(DoubleType).as("sxx"),
        sum((col("value") * col("value")).cast(DecimalType(30, 6)))
          .cast(DoubleType).as("syy"),
        sum((col("prev") * col("value")).cast(DecimalType(30, 6)))
          .cast(DoubleType).as("sxy"))
      m.select(col("user_id"), col("n").cast(LongType).as("n_pairs"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
               (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
                 * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6))
            .as("autocorr_lag1"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
                       FROM events),
            p AS (SELECT user_id, value,
                         lag(value) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS prev
                  FROM e),
            q AS (SELECT * FROM p WHERE prev IS NOT NULL),
            m AS (SELECT user_id,
                         CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(CAST(prev AS DECIMAL(30,10))) AS DOUBLE) AS sx,
                         CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sy,
                         CAST(sum(CAST(prev * prev AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
                         CAST(sum(CAST(value * value AS DECIMAL(30,6))) AS DOUBLE) AS syy,
                         CAST(sum(CAST(prev * value AS DECIMAL(30,6))) AS DOUBLE) AS sxy
                  FROM q GROUP BY user_id)
            SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
                   CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                        THEN round((n * sxy - sx * sy)
                                   / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
                   END AS autocorr_lag1
            FROM m ORDER BY user_id NULLS FIRST"""))

  /** Daily active users + cumulative user growth — the canonical product
    * metric pair: per UTC day, the distinct active users, the number of
    * users seen for the FIRST time that day, and the running total of
    * distinct users ever seen. Two hash aggs (per-(day, user) dedup →
    * per-day counts) + one tiny window over |days| rows; the first-seen
    * day is a per-user min, so the cumulative line needs no distinct-over-
    * window (which neither engine can stream).
    */
  val tsDailyActiveUsers: Q = Q(
    "ts_daily_active_users",
    (s, d) => {
      val e = Tables.read(s, d, "events")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
      val dau = e.distinct().groupBy(col("day"))
        .agg(count(lit(1)).as("dau"))
      val firstSeen = e.groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dau.join(firstSeen, Seq("day"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .select(col("day"), col("dau"), col("new_users"), col("cum_users"))
        .orderBy(asc_nulls_first("day"))
    },
    Some("""WITH e AS (SELECT DISTINCT user_id,
                              epoch_us(ts) // 86400000000 AS day
                       FROM events),
            dau AS (SELECT day, count(*) AS dau FROM e GROUP BY day),
            fs AS (SELECT min(day) AS day FROM e GROUP BY user_id),
            nu AS (SELECT day, count(*) AS new_users FROM fs GROUP BY day)
            SELECT d.day, d.dau,
                   COALESCE(n.new_users, 0) AS new_users,
                   CAST(sum(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_users
            FROM dau d LEFT JOIN nu n ON d.day = n.day
            ORDER BY d.day NULLS FIRST"""))

  /** Multi-lag autocorrelation function (ACF, lags 1–7) of the daily
    * value series — the seasonality diagnostic `ts_autocorr_lag1`'s
    * single lag cannot show (a weekly cycle surfaces as the lag-7 peak;
    * the full profile is what ARIMA order selection and
    * `ts_seasonal_decompose`'s period choice read). Aggregate-first:
    * ONE corpus hash agg (map-side partials, DECIMAL-exact value sums)
    * to the O(#days) daily table, then per lag a self-join of that tiny
    * table on `day + lag` and the `agg_corr_manual` DECIMAL-moment
    * Pearson — every post-agg row count is |days| × 7 regardless of
    * corpus size (at far larger day ranges the moment decimals widen,
    * the same knob every moment op documents). Degenerate lags (≤1 pair
    * or zero variance) emit NULL.
    */
  val tsAcf: Q = Q(
    "ts_acf",
    (s, d) => {
      val daily = Tables.read(s, d, "events")
        .groupBy(expr("(ts div 1000) div 86400000000").as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("v"))
        .truncated // both sides of each per-lag self-join
      val lags = daily.sparkSession.range(1, 8).select(col("id").as("lag"))
      val p = daily.select(col("day"), col("v").as("x"))
        .crossJoin(broadcast(lags))
        .join(daily.select(col("day").as("d2"), col("v").as("y")),
          col("d2") === col("day") + col("lag"))
      val m = p.groupBy(col("lag")).agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x").cast(DecimalType(30, 10))).cast(DoubleType).as("sx"),
        sum(col("y").cast(DecimalType(30, 10))).cast(DoubleType).as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(30, 6)))
          .cast(DoubleType).as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(30, 6)))
          .cast(DoubleType).as("syy"),
        sum((col("x") * col("y")).cast(DecimalType(30, 6)))
          .cast(DoubleType).as("sxy"))
      m.select(col("lag"), col("n").cast(LongType).as("n_pairs"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
               (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
                 * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6))
            .as("acf"))
        .orderBy(asc_nulls_first("lag"))
    },
    Some("""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                                  CAST(sum(CAST(value AS DECIMAL(18,2)))
                                       AS DOUBLE) AS v
                           FROM events GROUP BY 1),
            lags AS (SELECT unnest(range(1, 8)) AS lag),
            p AS (SELECT l.lag, a.v AS x, b.v AS y
                  FROM daily a CROSS JOIN lags l
                  JOIN daily b ON b.day = a.day + l.lag),
            m AS (SELECT lag,
                         CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
                         CAST(sum(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
                         CAST(sum(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
                         CAST(sum(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS syy,
                         CAST(sum(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy
                  FROM p GROUP BY lag)
            SELECT CAST(lag AS BIGINT) AS lag,
                   CAST(n AS BIGINT) AS n_pairs,
                   CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                        THEN round((n * sxy - sx * sy)
                               / (sqrt(n * sxx - sx * sx)
                                  * sqrt(n * syy - sy * sy)), 6)
                        END AS acf
            FROM m ORDER BY lag NULLS FIRST"""))

  /** CUSUM drift statistic per user series — the classic change-point /
    * drift detector over an event stream, kept EXACT cross-engine by
    * clearing the denominators: instead of cusum_k = Σ_{i≤k}(v_i − S/n)
    * (whose division makes float drift), emit the integer-scaled
    * n·cusum_k = n·run_k − k·S where run_k is the running DECIMAL sum,
    * S the user's total DECIMAL sum and n the user's row count — every
    * term an exact decimal/integer product, same sign and zero crossings
    * as the textbook statistic. One shuffle keyed by `user_id` (the
    * shared event-stream partitioning); the full-partition S/n frame and
    * the running frame reuse the same sort.
    */
  val tsCusumDrift: Q = Q(
    "ts_cusum_drift",
    (s, d) => {
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val full = Window.partitionBy(col("user_id"))
      Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .withColumn("rn", row_number().over(ord).cast(LongType))
        .withColumn("runsum", sum(col("v")).over(run))
        .withColumn("tot", sum(col("v")).over(full))
        .withColumn("n", count(lit(1)).over(full))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          (col("runsum") * col("n") - col("rn") * col("tot"))
            .cast(DoubleType).as("scaled_cusum"))
        .orderBy(asc_nulls_first("user_id"), asc("ts_us"), asc("event_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                              CAST(value AS DECIMAL(18,2)) AS v
                       FROM events),
            f AS (SELECT user_id, event_id, ts_us,
                         CAST(row_number() OVER w AS BIGINT) AS rn,
                         sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS runsum,
                         sum(v) OVER (PARTITION BY user_id) AS tot,
                         count(*) OVER (PARTITION BY user_id) AS n
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
            SELECT user_id, event_id, ts_us,
                   CAST(runsum * n - rn * tot AS DOUBLE) AS scaled_cusum
            FROM f
            ORDER BY user_id NULLS FIRST, ts_us, event_id"""))

  /** Exponentially-weighted moving average (half-life = one event) over
    * the trailing 8 events of each user series — the standard decayed
    * feature next to the flat `ts_rolling_24h` window. The recursion is
    * unrolled into a FIXED expression tree: 8 lag terms, each scaled by
    * an exact power-of-two literal (multiplication by 2⁻ʲ only shifts
    * the exponent — exact), summed left-associatively (both engines
    * evaluate the written order), one final division by the exact weight
    * total — every step correctly-rounded IEEE, so the doubles are
    * bit-identical cross-engine with NO rounding fuzz. Rows before the
    * 8th are zero-padded (documented semantics: the series is treated as
    * 0 before its start). Same single `user_id` shuffle as the other
    * per-user ops.
    */
  val tsEwma: Q = Q(
    "ts_ewma",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val decayed = (0 to 7)
        .map(j => coalesce(lag(col("value"), j).over(w), lit(0.0)) *
          lit(math.pow(0.5, j)))
        .reduce(_ + _)
      Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          col("value"))
        .withColumn("ewma8", decayed / lit(1.9921875))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("ewma8"))
        .orderBy(asc_nulls_first("user_id"), asc("ts_us"), asc("event_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
                       FROM events),
            f AS (SELECT user_id, event_id, ts_us,
                         (COALESCE(lag(value, 0) OVER w, 0.0) * 1.0
                          + COALESCE(lag(value, 1) OVER w, 0.0) * 0.5
                          + COALESCE(lag(value, 2) OVER w, 0.0) * 0.25
                          + COALESCE(lag(value, 3) OVER w, 0.0) * 0.125
                          + COALESCE(lag(value, 4) OVER w, 0.0) * 0.0625
                          + COALESCE(lag(value, 5) OVER w, 0.0) * 0.03125
                          + COALESCE(lag(value, 6) OVER w, 0.0) * 0.015625
                          + COALESCE(lag(value, 7) OVER w, 0.0) * 0.0078125)
                         / 1.9921875 AS ewma8
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
            SELECT user_id, event_id, ts_us, ewma8
            FROM f
            ORDER BY user_id NULLS FIRST, ts_us, event_id"""))

  /** Interval union (gaps-and-islands, general form): per user, merge
    * VARIABLE-width event intervals into their connected components. Each
    * event opens [ts, ts + dur] with dur = (event_id mod 120 + 1) minutes
    * (integer-exact, portable); a new island starts exactly when an
    * event's start exceeds the running MAX of all previous interval ends
    * — the case sessionization's consecutive-gap test cannot express,
    * because an earlier LONG interval can swallow several later short
    * ones. One user-keyed shuffle: the running-max window, the island-id
    * running sum, and the per-island groupBy all ride the same hash
    * partitioning (the `ts_sessionize` discipline).
    */
  val tsIntervalUnion: Q = Q(
    "ts_interval_union",
    (s, d) => {
      val e = Tables.read(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("start_us"),
          (expr("ts div 1000") +
            (col("event_id") % 120 + 1) * 60000000L).as("end_us"))
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("start_us"), col("event_id"))
      val prevMaxEnd = max(col("end_us"))
        .over(order.rowsBetween(Window.unboundedPreceding, -1))
      val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("new_island",
          when(col("start_us") > prevMaxEnd || prevMaxEnd.isNull, 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("new_island")).over(run))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("start_us")).as("iv_start"),
          max(col("end_us")).as("iv_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("iv_start"), col("iv_end"),
          (col("iv_end") - col("iv_start")).as("span_us"), col("n_events"))
        .orderBy(asc_nulls_first("user_id"), asc("iv_start"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
                              epoch_us(ts) + (event_id % 120 + 1) * 60000000
                                AS end_us
                       FROM events),
            f AS (SELECT *,
                         max(end_us) OVER (PARTITION BY user_id
                           ORDER BY start_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS prev_max_end
                  FROM e),
            g AS (SELECT *,
                         CASE WHEN prev_max_end IS NULL
                                OR start_us > prev_max_end
                              THEN 1 ELSE 0 END AS new_island
                  FROM f),
            h AS (SELECT *,
                         sum(new_island) OVER (PARTITION BY user_id
                           ORDER BY start_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS island
                  FROM g)
            SELECT user_id, min(start_us) AS iv_start, max(end_us) AS iv_end,
                   max(end_us) - min(start_us) AS span_us,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM h GROUP BY user_id, island
            ORDER BY user_id NULLS FIRST, iv_start"""))

  /** Longest consecutive-day active streak per user — the engagement
    * metric next to retention/DAU, and the canonical gaps-and-islands
    * window idiom: over the DISTINCT (user, day) table (aggregate-first
    * — raw events never reach a window), `day − row_number()` is
    * constant exactly within a consecutive run, so one user-keyed
    * window + two hash aggs yield each user's longest streak. All
    * integers; identical SQL oracle.
    */
  val tsActiveStreak: Q = Q(
    "ts_active_streak",
    (s, d) => {
      val days = Tables.read(s, d, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          sum(col("len")).cast(LongType).as("n_active_days"))
        .orderBy(asc_nulls_first("user_id"))
    },
    Some("""WITH days AS (SELECT DISTINCT user_id,
                                 epoch_us(ts) // 86400000000 AS day
                          FROM events WHERE user_id IS NOT NULL),
            runs AS (SELECT user_id, day,
                            day - row_number() OVER (PARTITION BY user_id
                                                     ORDER BY day) AS grp
                     FROM days),
            lens AS (SELECT user_id, grp, count(*) AS len
                     FROM runs GROUP BY user_id, grp)
            SELECT user_id, max(len) AS longest_streak,
                   CAST(sum(len) AS BIGINT) AS n_active_days
            FROM lens GROUP BY user_id ORDER BY user_id NULLS FIRST"""))

  /** Strict-order funnel — the conversion question event analytics asks
    * of every acquisition flow: of the users whose journey CONTAINS a
    * view, how many clicked AT OR AFTER their first view, and of those,
    * how many purchased at or after that first qualifying click. Stage
    * anchors are conditional minima (first view, first post-view click),
    * so the order constraint is exact, not a per-type count comparison.
    * Plan shape: three user-keyed hash aggs chained by equi-joins on
    * user_id (each stage's survivors ≤ the previous — the joins shrink
    * monotonically), then three one-row counts cross-joined; no windows,
    * no self-join over raw events. The oracle states the identical
    * staged CTEs with scalar-subquery counts.
    */
  val tsFunnelStages: Q = Q(
    "ts_funnel_stages",
    (s, d) => {
      // e feeds three stages and each stage feeds both its successor and
      // a count — materialized once each (the ScanAuditSpec discipline:
      // without this the corpus re-expands per reference, 6 scans)
      val e = Tables.read(s, d, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
        .truncated
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("v0"))
        .truncated
      val c = e.join(v, "user_id")
        .filter(col("event_type") === "click" && col("ts_us") >= col("v0"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("c0"))
        .truncated
      val p = e.join(c, "user_id")
        .filter(col("event_type") === "purchase" && col("ts_us") >= col("c0"))
        .select(col("user_id")).distinct()
      v.agg(count(lit(1)).as("n_view_users"))
        .crossJoin(c.agg(count(lit(1)).as("n_then_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_then_purchase")))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                       FROM events WHERE user_id IS NOT NULL),
            v AS (SELECT user_id, min(ts_us) AS v0 FROM e
                  WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, min(ts_us) AS c0 FROM e JOIN v USING (user_id)
                  WHERE event_type = 'click' AND ts_us >= v0 GROUP BY e.user_id),
            p AS (SELECT DISTINCT e.user_id FROM e JOIN c USING (user_id)
                  WHERE event_type = 'purchase' AND ts_us >= c0)
            SELECT (SELECT count(*) FROM v) AS n_view_users,
                   (SELECT count(*) FROM c) AS n_then_click,
                   (SELECT count(*) FROM p) AS n_then_purchase"""))

  /** Day-over-day retention — the sibling of `ts_daily_active_users`:
    * per day, how many active users were also active the PREVIOUS day,
    * and the resulting retention rate. The distinct (user, day) set is
    * built once and self-joined with the day shifted by one — an
    * equi-join on (user_id, day), so at fact scale it is one hash
    * shuffle of the deduplicated activity set, never of raw events;
    * day-1 (no predecessor) reports 0 returning by construction.
    */
  val tsDailyRetention: Q = Q(
    "ts_daily_retention",
    (s, d) => {
      val days = Tables.read(s, d, "events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .distinct()
        .truncated
      val dau = days.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val ret = days
        .join(days.select(col("user_id"), (col("day") + 1).as("day")),
          Seq("user_id", "day"))
        .groupBy(col("day")).agg(count(lit(1)).as("returning"))
      dau.join(ret, Seq("day"), "left")
        .na.fill(0L, Seq("returning"))
        .select(col("day"), col("dau"), col("returning"),
          round(col("returning").cast(DoubleType) / col("dau"), 6)
            .as("retention_rate"))
        .orderBy(asc("day"))
    },
    Some("""WITH days AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                          FROM events),
            dau AS (SELECT day, count(*) AS dau FROM days GROUP BY day),
            ret AS (SELECT a.day, count(*) AS returning
                    FROM days a JOIN days b
                      ON a.user_id = b.user_id AND b.day = a.day - 1
                    GROUP BY a.day)
            SELECT d.day, d.dau, coalesce(r.returning, 0) AS returning,
                   round(CAST(coalesce(r.returning, 0) AS DOUBLE) / d.dau, 6)
                     AS retention_rate
            FROM dau d LEFT JOIN ret r ON d.day = r.day
            ORDER BY d.day"""))

  /** MAD-based robust anomaly detection — the outlier gate `ts_zscore_
    * anomaly`'s mean/stddev version breaks on: one huge outlier inflates
    * a stddev but barely moves a median, so MAD keeps flagging what z
    * misses. Exact LOWER medians (no interpolation — a float-free
    * cross-engine decision) via the aggregate-first discipline: the
    * corpus collapses to a (type, value) count table (map-combinable
    * hash agg), running-count windows rank only those ~|distinct values|
    * rows, and the 5-row median/MAD table broadcasts back for the final
    * streaming count — corpus rows are never sorted or shuffled beyond
    * the two count aggs. `dev = |value − med|` and the `> 3·MAD` test
    * are single IEEE ops on identical operands in both engines.
    */
  val tsMadAnomaly: Q = Q(
    "ts_mad_anomaly",
    (s, d) => {
      // NULL values are excluded (mirrored in the oracle): medians are
      // over observed values only, and a NULL cell would sort to the
      // running count's head in Spark but tail in DuckDB, shifting cum
      val ev = Tables.read(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      // ONE corpus pass: the (type, value) count table. Both medians,
      // the deviation histogram AND the final anomaly counts are all
      // derivable from these ~|distinct values| rows, so the per-stage
      // corpus re-scans the row-level formulation needs (3 of them) are
      // dead work; materialized once for its three consumers below
      val g1 = ev.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("n")).truncated
      def lowerMedian(cnt: DataFrame, valCol: String, outCol: String): DataFrame = {
        val byType = Window.partitionBy(col("event_type"))
        val cum = byType.orderBy(col(valCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cnt.withColumn("cum", sum(col("n")).over(cum))
          .withColumn("tot", sum(col("n")).over(byType))
          .filter(col("cum") * 2 >= col("tot"))
          .groupBy(col("event_type")).agg(min(col(valCol)).as(outCol))
      }
      // med is a |series|-row table with two consumers (the deviation
      // regroup and the final counts); materialized so neither re-runs
      // its window subtree
      val med = lowerMedian(g1, "value", "med").truncated
      // the deviation histogram regroups the COUNT table: per
      // (type, value, n) row, dev = |value − med| is the identical IEEE
      // op the row-level pass ran on each of its n duplicates, and
      // summing n yields the same multiset of deviations
      val g2 = g1.join(broadcast(med), "event_type")
        .groupBy(col("event_type"),
          abs(col("value") - col("med")).as("dev"))
        .agg(sum(col("n")).as("n"))
      val mad = lowerMedian(g2, "dev", "mad")
      g1.join(broadcast(med.join(mad, "event_type")), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("med")).as("median_value"), max(col("mad")).as("mad"),
          coalesce(sum(when(abs(col("value") - col("med")) > col("mad") * 3,
            col("n"))), lit(0L)).as("n_anomalies"),
          coalesce(sum(col("n")), lit(0L)).as("n_rows"))
        .orderBy(asc_nulls_first("event_type"))
    },
    Some("""WITH ev AS (SELECT event_type, value FROM events
                        WHERE value IS NOT NULL),
            g1 AS (SELECT event_type, value, count(*) AS n
                   FROM ev GROUP BY 1, 2),
            c1 AS (SELECT *,
                          sum(n) OVER (PARTITION BY event_type ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS cum,
                          sum(n) OVER (PARTITION BY event_type) AS tot
                   FROM g1),
            med AS (SELECT event_type, min(value) AS med
                    FROM c1 WHERE cum * 2 >= tot GROUP BY 1),
            dv AS (SELECT ev.event_type, abs(value - med) AS dev
                   FROM ev JOIN med USING (event_type)),
            g2 AS (SELECT event_type, dev, count(*) AS n
                   FROM dv GROUP BY 1, 2),
            c2 AS (SELECT *,
                          sum(n) OVER (PARTITION BY event_type ORDER BY dev
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS cum,
                          sum(n) OVER (PARTITION BY event_type) AS tot
                   FROM g2),
            mad AS (SELECT event_type, min(dev) AS mad
                    FROM c2 WHERE cum * 2 >= tot GROUP BY 1)
            SELECT ev.event_type, max(med) AS median_value, max(mad) AS mad,
                   CAST(count_if(abs(value - med) > 3 * mad) AS BIGINT)
                     AS n_anomalies,
                   count(*) AS n_rows
            FROM ev JOIN med USING (event_type) JOIN mad USING (event_type)
            GROUP BY ev.event_type ORDER BY ev.event_type NULLS FIRST"""))

  /** PMI collocation mining — the phrase/multi-word-expression extractor
    * a tokenizer-training pipeline runs before merging frequent pairs:
    * top bigrams by pointwise mutual information ln(P(w₁w₂)/(P(w₁·)P(·w₂)))
    * with a min-count support filter against PMI's rare-pair bias. All
    * probabilities derive from ONE corpus bigram pass ([[llmBigramLogprob]]'s
    * Generator): marginals and the grand total are rollups of the
    * |bigram-vocab| count table, the scalar total broadcasts in (the
    * `agg_ks_two_sample` idiom), and AQE sizes the marginal joins. The
    * counts are < 2⁵³ so the single double division is exact-operand
    * IEEE, and `round(ln, 6)` is the repo's cross-engine transcendental
    * discipline; top-50 via orderBy+limit = TakeOrderedAndProject (no
    * global sort), deterministic because the (pmi, w1, w2) sort key is
    * unique.
    */
  val llmNgramPmi: Q = Q(
    "llm_ngram_pmi",
    (s, d) => {
      val bg = Tables.read(s, d, "documents")
        .select(split(col("text"), " ").as("t"))
        .select(explode(expr(
          """CASE WHEN size(t) >= 2
               THEN transform(sequence(1, size(t) - 1),
                              i -> struct(element_at(t, i) AS w1,
                                          element_at(t, i + 1) AS w2))
               ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"""))
          .as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb")).truncated
      val rs = cb.groupBy(col("w1")).agg(sum(col("nb")).as("n1"))
      val cs = cb.groupBy(col("w2")).agg(sum(col("nb")).as("n2"))
      val tot = cb.agg(sum(col("nb")).as("total"))
      cb.filter(col("nb") >= 5)
        .join(rs, "w1").join(cs, "w2").crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("nb"), col("n1"), col("n2"),
          round(expr(
            "ln((CAST(nb AS DOUBLE) * total) / (CAST(n1 AS DOUBLE) * n2))"), 6)
            .as("pmi"))
        .orderBy(desc("pmi"), asc("w1"), asc("w2"))
        .limit(50)
    },
    Some("""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks),
            bg AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM pos),
            cb AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
            rs AS (SELECT w1, CAST(sum(nb) AS BIGINT) AS n1 FROM cb GROUP BY 1),
            cs AS (SELECT w2, CAST(sum(nb) AS BIGINT) AS n2 FROM cb GROUP BY 1),
            tot AS (SELECT CAST(sum(nb) AS BIGINT) AS total FROM cb)
            SELECT w1, w2, nb, n1, n2,
                   round(ln((CAST(nb AS DOUBLE) * total) /
                            (CAST(n1 AS DOUBLE) * n2)), 6) AS pmi
            FROM cb JOIN rs USING (w1) JOIN cs USING (w2) CROSS JOIN tot
            WHERE nb >= 5
            ORDER BY pmi DESC, w1, w2 LIMIT 50"""))

  /** Deterministic global corpus shuffle — the training-data-loader
    * problem: every document gets a REPRODUCIBLE global position, so any
    * worker can compute its slice without coordination and a re-run
    * yields the identical order. The shuffle key is md5(doc_id ‖ epoch
    * tag) — a portable keyed hash both engines compute identically — and
    * the global ordinal comes from [[TwoPassScan]]: range-partition by
    * key, per-partition counts prefix-combined on the driver
    * (O(#partitions), never data), positions emitted in pass 2. No
    * single-partition window anywhere — the exact plan `llm_vocab_build`
    * uses for ranks, reused for the one remaining "global order" op a
    * pipeline needs. Changing the epoch tag reshuffles the corpus — the
    * per-epoch reshuffle training runs expect.
    */
  val llmCorpusShuffle: Q = Q(
    "llm_corpus_shuffle",
    (s, d) => {
      // NULL doc_ids are excluded (mirrored in the oracle): their md5 key
      // is NULL, which Spark sorts first and DuckDB last — and a shuffle
      // position for an unidentifiable document is meaningless anyway
      val keyed = Tables.read(s, d, "documents")
        .filter(col("doc_id").isNotNull)
        .select(expr("md5(concat(cast(doc_id as string), ':epoch0'))")
          .as("shuffle_key"), col("doc_id"))
      val schema = StructType(Seq(
        StructField("shuffle_pos", LongType, nullable = false),
        StructField("doc_id", LongType, nullable = true),
        StructField("shuffle_key", StringType, nullable = true)))
      TwoPassScan[Long](keyed, Seq(asc("shuffle_key"), asc("doc_id")), schema,
        0L, add = (n, _) => n + 1L, combine = _ + _,
        emit = (_, pos, r) =>
          (org.apache.spark.sql.Row(pos, r.getLong(1), r.getString(0)), pos + 1L))
        .orderBy(asc("shuffle_pos"))
    },
    Some("""SELECT row_number() OVER (
                     ORDER BY md5(CAST(doc_id AS VARCHAR) || ':epoch0'), doc_id)
                   - 1 AS shuffle_pos,
                   doc_id,
                   md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS shuffle_key
            FROM documents WHERE doc_id IS NOT NULL
            ORDER BY shuffle_pos"""))

  /** Curriculum data ordering — easy-first scheduling (Bengio 2009, as
    * production pipelines actually configure it): docs bucketed by FIXED
    * quality thresholds (≥0.7 head, ≥0.5 middle, else tail — thresholds
    * from a prior profiling run, deliberately NOT corpus-relative
    * quantiles, which would make every batch's curriculum depend on a
    * global rank), then deterministically md5-shuffled WITHIN each
    * bucket, yielding one reproducible global training position per
    * doc. The global position comes from the same [[TwoPassScan]]
    * distributed ranking as `llm_corpus_shuffle` — range-partition on
    * (bucket, key), O(#partitions) driver prefix-combine, NO
    * single-partition window at any corpus size.
    */
  val llmCurriculumOrder: Q = Q(
    "llm_curriculum_order",
    (s, d) => {
      val keyed = LlmOps.qualityScored(s, d)
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("quality"))
        .withColumn("bucket",
          when(col("quality") >= 0.7, 0L)
            .when(col("quality") >= 0.5, 1L).otherwise(2L))
        .withColumn("k",
          expr("md5(concat(cast(doc_id as string), ':curriculum'))"))
        .select(col("doc_id"), col("quality"), col("bucket"), col("k"))
      val schema = StructType(Seq(
        StructField("curriculum_pos", LongType, nullable = false),
        StructField("doc_id", LongType, nullable = true),
        StructField("bucket", LongType, nullable = false),
        StructField("quality", DoubleType, nullable = true)))
      TwoPassScan[Long](keyed,
        Seq(asc("bucket"), asc("k"), asc("doc_id")), schema,
        0L, add = (n, _) => n + 1L, combine = _ + _,
        emit = (_, pos, r) =>
          (org.apache.spark.sql.Row(pos, r.getLong(0), r.getLong(2),
            r.getDouble(1)), pos + 1L))
        .orderBy(asc("curriculum_pos"))
    },
    Some("""WITH q AS (SELECT doc_id,
                              round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                                      / len(string_split(text, ' ')) * 0.4
                                    + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                         x -> x = 'the' OR x = 'a')) AS DOUBLE)
                                         / len(string_split(text, ' '))) * 0.3
                                    + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0,
                                            1.0) * 0.3,
                                    6) AS quality
                       FROM documents WHERE doc_id IS NOT NULL),
            b AS (SELECT doc_id, quality,
                         CASE WHEN quality >= 0.7 THEN 0
                              WHEN quality >= 0.5 THEN 1 ELSE 2 END AS bucket,
                         md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS k
                  FROM q)
            SELECT row_number() OVER (ORDER BY bucket, k, doc_id) - 1
                     AS curriculum_pos,
                   doc_id, CAST(bucket AS BIGINT) AS bucket, quality
            FROM b ORDER BY curriculum_pos"""))

  /** Fractional-epoch dataset repetition — "train on this corpus for 2.5
    * epochs" materialized: every doc appears in epochs 0 and 1, and a
    * DETERMINISTIC md5-keyed half of the docs (first hex digit < '8')
    * appears in epoch 2 — reproducible across runs and engines, unlike a
    * rand() sample, and unbiased w.r.t. doc order unlike `doc_id % 2`.
    * Pure map-side generator (explode of a per-row epoch array): no
    * shuffle, no state — the output streams straight to the next
    * pipeline stage at any corpus size.
    */
  val llmEpochRepeat: Q = Q(
    "llm_epoch_repeat",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(expr(
            """CASE WHEN substring(md5(concat(cast(doc_id as string), ':rep')), 1, 1) < '8'
                 THEN array(0, 1, 2) ELSE array(0, 1) END""")).as("epoch"))
        .orderBy(asc_nulls_first("doc_id"), asc("epoch")),
    Some("""SELECT doc_id, n_chars, epoch FROM (
              SELECT doc_id, n_chars, unnest(
                       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':rep'), 1, 1) < '8'
                            THEN [0, 1, 2] ELSE [0, 1] END) AS epoch
              FROM documents)
            ORDER BY doc_id NULLS FIRST, epoch"""))

  /** Classical seasonal decomposition (STL-lite, the moving-average
    * flavor of Cleveland et al.'s STL): daily total value splits into
    * TREND (centered 7-day moving average — NULL at the 3-day edges
    * where the window is incomplete, deterministically), SEASONAL (the
    * weekday mean of the detrended series) and RESIDUAL — the
    * decomposition an anomaly gate should run on business-cycled data
    * (`ts_weekday_profile` is the profile half; this emits the full
    * per-day split). Aggregate-first: ONE corpus hash agg to the
    * O(#days) daily table, then every window/join runs on |days| rows.
    * Determinism: daily totals are exact DECIMAL sums; each division
    * (by 7, by the weekday count) is one double op rounded to 6 dp, and
    * residual = v − trend − seasonal is computed FROM the rounded
    * components, so both engines emit identical bits. Weekday is epoch
    * `day % 7` — pure integer, no calendar library.
    */
  val tsSeasonalDecompose: Q = Q(
    "ts_seasonal_decompose",
    (s, d) => {
      val daily = Tables.read(s, d, "events")
        .groupBy(expr("(ts div 1000) div 86400000000").as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(28, 2)).as("v"))
      val wTrend = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val t = daily
        .withColumn("trend",
          when(count(lit(1)).over(wTrend) === 7,
            round(sum(col("v")).over(wTrend).cast(DoubleType) / 7.0, 6)))
        .withColumn("detr",
          round(col("v").cast(DoubleType) - col("trend"), 6)
            .cast(DecimalType(28, 6)))
        .withColumn("weekday", pmod(col("day"), lit(7L)))
        .truncated // feeds the weekday means AND the final join
      val seas = t.filter(col("detr").isNotNull)
        .groupBy(col("weekday"))
        .agg(round(sum(col("detr")).cast(DoubleType) / count(col("detr")), 6)
          .as("seasonal"))
      t.join(broadcast(seas), Seq("weekday"), "left")
        .select(col("day"), col("v").cast(DoubleType).as("total_value"),
          col("trend"),
          when(col("trend").isNotNull, col("seasonal")).as("seasonal"),
          when(col("trend").isNotNull,
            round(col("v").cast(DoubleType) - col("trend") - col("seasonal"), 6))
            .as("residual"))
        .orderBy(asc_nulls_first("day"))
    },
    Some("""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS v
                           FROM events GROUP BY 1),
            t AS (SELECT day, v,
                         CASE WHEN count(*) OVER w7 = 7
                              THEN round(CAST(sum(v) OVER w7 AS DOUBLE) / 7.0, 6)
                         END AS trend,
                         day % 7 AS weekday
                  FROM daily
                  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            t2 AS (SELECT *, CAST(round(CAST(v AS DOUBLE) - trend, 6)
                                  AS DECIMAL(28,6)) AS detr FROM t),
            seas AS (SELECT weekday,
                            round(CAST(sum(detr) AS DOUBLE) / count(detr), 6)
                              AS seasonal
                     FROM t2 WHERE detr IS NOT NULL GROUP BY 1)
            SELECT t2.day, CAST(t2.v AS DOUBLE) AS total_value, t2.trend,
                   CASE WHEN t2.trend IS NOT NULL THEN s.seasonal END AS seasonal,
                   CASE WHEN t2.trend IS NOT NULL
                        THEN round(CAST(t2.v AS DOUBLE) - t2.trend - s.seasonal, 6)
                   END AS residual
            FROM t2 LEFT JOIN seas s USING (weekday)
            ORDER BY day NULLS FIRST"""))

  /** Seasonality STRENGTH of the daily series — Hyndman's STL diagnostic
    * `F_s = max(0, 1 − Var(residual)/Var(seasonal + residual))`: ~0 means
    * the weekday cycle explains nothing (don't seasonally adjust), →1
    * means it dominates. The one-number answer to "should this series'
    * anomaly gate run on the decomposed residual
    * (`ts_seasonal_anomaly`) or the raw z-score (`ts_zscore_anomaly`)".
    * Reuses the [[tsSeasonalDecompose]] subtree (aggregate-first to
    * O(#days)); both variances are decimal-moment aggregates
    * (n·Σx² − (Σx)² form, merge-order independent) over the
    * already-rounded components, each final ratio one rounded double
    * op. Degenerate guard: Var(S+R)=0 → strength NULL (no cycle to
    * measure), identical CASE in both engines.
    */
  val tsSeasonalityStrength: Q = Q(
    "ts_seasonality_strength",
    (s, d) => {
      val dec = tsSeasonalDecompose.fn(s, d)
        .filter(col("residual").isNotNull)
        .select(col("residual").cast(DecimalType(28, 6)).as("r"),
          (col("seasonal") + col("residual")).cast(DecimalType(28, 6)).as("sr"))
      dec.agg(count(lit(1)).as("n_days"),
          sum(col("r")).as("s_r"),
          sum(expr("CAST(CAST(r AS DOUBLE) * CAST(r AS DOUBLE) AS DECIMAL(38,12))"))
            .as("s_r2"),
          sum(col("sr")).as("s_sr"),
          sum(expr("CAST(CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) AS DECIMAL(38,12))"))
            .as("s_sr2"))
        .select(col("n_days"),
          // sums leave DECIMAL (exact, order-independent) and convert to
          // DOUBLE once; the moment combination then runs on identical
          // doubles in both engines (a decimal x decimal product would
          // hit Spark's precision-38 scale reduction and round
          // differently than DuckDB's)
          round((col("n_days").cast(DoubleType) * col("s_r2").cast(DoubleType)
            - col("s_r").cast(DoubleType) * col("s_r").cast(DoubleType)) /
            (col("n_days").cast(DoubleType) * col("n_days").cast(DoubleType)), 6)
            .as("var_resid"),
          round((col("n_days").cast(DoubleType) * col("s_sr2").cast(DoubleType)
            - col("s_sr").cast(DoubleType) * col("s_sr").cast(DoubleType)) /
            (col("n_days").cast(DoubleType) * col("n_days").cast(DoubleType)), 6)
            .as("var_sr"))
        .withColumn("strength",
          when(col("var_sr") > 0,
            round(greatest(lit(0.0),
              lit(1.0) - col("var_resid") / col("var_sr")), 6)))
    },
    Some("""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS v
                           FROM events GROUP BY 1),
            t AS (SELECT day, v,
                         CASE WHEN count(*) OVER w7 = 7
                              THEN round(CAST(sum(v) OVER w7 AS DOUBLE) / 7.0, 6)
                         END AS trend,
                         day % 7 AS weekday
                  FROM daily
                  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            t2 AS (SELECT *, CAST(round(CAST(v AS DOUBLE) - trend, 6)
                                  AS DECIMAL(28,6)) AS detr FROM t),
            seas AS (SELECT weekday,
                            round(CAST(sum(detr) AS DOUBLE) / count(detr), 6)
                              AS seasonal
                     FROM t2 WHERE detr IS NOT NULL GROUP BY 1),
            comp AS (SELECT CAST(round(CAST(t2.v AS DOUBLE) - t2.trend - s.seasonal, 6)
                                 AS DECIMAL(28,6)) AS r,
                            CAST(s.seasonal
                                 + round(CAST(t2.v AS DOUBLE) - t2.trend - s.seasonal, 6)
                                 AS DECIMAL(28,6)) AS sr
                     FROM t2 JOIN seas s USING (weekday)
                     WHERE t2.trend IS NOT NULL),
            m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                         sum(r) AS s_r,
                         sum(CAST(CAST(r AS DOUBLE) * CAST(r AS DOUBLE)
                                  AS DECIMAL(38,12))) AS s_r2,
                         sum(sr) AS s_sr,
                         sum(CAST(CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
                                  AS DECIMAL(38,12))) AS s_sr2
                  FROM comp),
            v AS (SELECT n_days,
                         round((CAST(n_days AS DOUBLE) * CAST(s_r2 AS DOUBLE)
                                - CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE))
                               / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)),
                               6) AS var_resid,
                         round((CAST(n_days AS DOUBLE) * CAST(s_sr2 AS DOUBLE)
                                - CAST(s_sr AS DOUBLE) * CAST(s_sr AS DOUBLE))
                               / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)),
                               6) AS var_sr
                  FROM m)
            SELECT n_days, var_resid, var_sr,
                   CASE WHEN var_sr > 0
                        THEN round(greatest(CAST(0.0 AS DOUBLE),
                                   CAST(1.0 AS DOUBLE) - var_resid / var_sr), 6)
                   END AS strength
            FROM v"""))

  /** Seasonality-aware anomaly gate — the composition
    * `ts_seasonal_decompose` exists FOR: flag days whose RESIDUAL (the
    * series after trend and weekday seasonality are removed) exceeds 3×
    * the mean absolute residual. A raw-value gate fires on every Monday
    * spike; this one only fires when a day deviates from its own
    * cycle-adjusted expectation. Cost: the decompose subtree (one corpus
    * hash agg + O(#days) windows) + one O(#days) aggregate and a
    * broadcast of the single threshold row. Determinism: residuals are
    * already rounded 6-dp doubles; the mean-|residual| accumulates in
    * DECIMAL(28,6) (merge-order independent) and the threshold is one
    * rounded double op; the flag compares the same two doubles in both
    * engines. Oracle embeds the decompose CTE verbatim (keep in sync
    * with `ts_seasonal_decompose`).
    */
  val tsSeasonalAnomaly: Q = Q(
    "ts_seasonal_anomaly",
    (s, d) => {
      val dec = tsSeasonalDecompose.fn(s, d)
        .filter(col("residual").isNotNull)
        .select(col("day"),
          col("residual").cast(DecimalType(28, 6)).as("r"))
        .truncated // feeds the threshold agg AND the per-day flag
      val thr = dec.agg(
        round(sum(expr("abs(r)")).cast(DoubleType) / count(lit(1)) * 3.0, 6)
          .as("threshold"))
      dec.crossJoin(broadcast(thr))
        .select(col("day"), col("r").cast(DoubleType).as("residual"),
          col("threshold"),
          (abs(col("r").cast(DoubleType)) > col("threshold")).as("is_anomaly"))
        .orderBy(asc_nulls_first("day"))
    },
    Some("""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS v
                           FROM events GROUP BY 1),
            t AS (SELECT day, v,
                         CASE WHEN count(*) OVER w7 = 7
                              THEN round(CAST(sum(v) OVER w7 AS DOUBLE) / 7.0, 6)
                         END AS trend,
                         day % 7 AS weekday
                  FROM daily
                  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            t2 AS (SELECT *, CAST(round(CAST(v AS DOUBLE) - trend, 6)
                                  AS DECIMAL(28,6)) AS detr FROM t),
            seas AS (SELECT weekday,
                            round(CAST(sum(detr) AS DOUBLE) / count(detr), 6)
                              AS seasonal
                     FROM t2 WHERE detr IS NOT NULL GROUP BY 1),
            resid AS (SELECT t2.day,
                             CAST(round(CAST(t2.v AS DOUBLE) - t2.trend - s.seasonal, 6)
                                  AS DECIMAL(28,6)) AS r
                      FROM t2 JOIN seas s USING (weekday)
                      WHERE t2.trend IS NOT NULL),
            thr AS (SELECT round(CAST(sum(abs(r)) AS DOUBLE) / count(*) * 3.0, 6)
                             AS threshold
                    FROM resid)
            SELECT day, CAST(r AS DOUBLE) AS residual, threshold,
                   abs(CAST(r AS DOUBLE)) > threshold AS is_anomaly
            FROM resid CROSS JOIN thr
            ORDER BY day NULLS FIRST"""))

  /** Holt linear-trend forecast (double exponential smoothing) of the
    * daily total-value series — the recursive level+trend forecaster the
    * ts family lacked (`ts_ewma` is level-only and unrollable;
    * `ts_trend_slope` is a single global fit; this carries coupled
    * level/trend STATE through the series and emits the one-step-ahead
    * forecast an ingestion-volume monitor alarms on). α = β = 0.5 —
    * exact halvings, the `ts_ewma` power-of-two weight discipline — with
    * level₀ = x₀, trend₀ = 0 (the zero-initial-trend textbook variant,
    * so the recursion is uniform from t ≥ 1 and needs no two-row seed).
    *
    * Shape: aggregate-first to the O(#days) daily table (ONE corpus hash
    * agg, map-side partials), then the inherently SEQUENTIAL recursion
    * runs as a single Catalyst `aggregate` fold over the sorted
    * (day, x) array — one row, one task, |days| elements; at 100 TB
    * #days is 10³–10⁴, so the fold is trivially driver-safe while the
    * corpus-sized work stays distributed. Determinism: daily x is one
    * DECIMAL→double cast; the recursion runs on UNROUNDED doubles with
    * the oracle's arithmetic inlined to the identical IEEE expression
    * tree (the new level is substituted textually into the trend update,
    * which leaves the value bit-identical to two-step evaluation); only
    * the emitted level/trend/forecast are rounded (6 dp). The DuckDB
    * oracle is the same recursion as a recursive CTE over the
    * row-numbered daily table.
    */
  val tsHoltForecast: Q = Q(
    "ts_holt_forecast",
    (s, d) => {
      val daily = Tables.read(s, d, "events")
        .groupBy(expr("(ts div 1000) div 86400000000").as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(28, 2)).cast(DoubleType).as("x"))
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
        .select(explode(expr(
          """aggregate(
               s,
               named_struct('first', true,
                 'level', cast(0.0 as double), 'trend', cast(0.0 as double),
                 'out', cast(array() as
                   array<struct<day:bigint, observed:double, level:double,
                                trend:double, forecast:double>>)),
               (acc, e) -> IF(acc.first,
                 named_struct('first', false, 'level', e.x,
                   'trend', cast(0.0 as double),
                   'out', array(named_struct('day', e.day, 'observed', e.x,
                     'level', e.x, 'trend', cast(0.0 as double),
                     'forecast', cast(null as double)))),
                 named_struct('first', false,
                   'level', 0.5d * e.x + 0.5d * (acc.level + acc.trend),
                   'trend', 0.5d * ((0.5d * e.x + 0.5d * (acc.level + acc.trend)) - acc.level)
                            + 0.5d * acc.trend,
                   'out', array_append(acc.out, named_struct(
                     'day', e.day, 'observed', e.x,
                     'level', 0.5d * e.x + 0.5d * (acc.level + acc.trend),
                     'trend', 0.5d * ((0.5d * e.x + 0.5d * (acc.level + acc.trend)) - acc.level)
                              + 0.5d * acc.trend,
                     'forecast', acc.level + acc.trend)))),
               acc -> acc.out)""")).as("r"))
        .select(col("r.day").as("day"), col("r.observed").as("observed"),
          round(col("r.level"), 6).as("level"),
          round(col("r.trend"), 6).as("trend"),
          round(col("r.forecast"), 6).as("forecast"))
        .orderBy(asc_nulls_first("day"))
    },
    Some("""WITH RECURSIVE
            daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                             CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
                                  AS DECIMAL(28,2)) AS DOUBLE) AS x
                      FROM events GROUP BY 1),
            idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn
                    FROM daily),
            hw AS (SELECT rn, day, x AS observed, x AS level,
                          CAST(0.0 AS DOUBLE) AS trend,
                          CAST(NULL AS DOUBLE) AS forecast
                   FROM idx WHERE rn = 1
                   UNION ALL
                   SELECT i.rn, i.day, i.x,
                          0.5 * i.x + 0.5 * (hw.level + hw.trend),
                          0.5 * ((0.5 * i.x + 0.5 * (hw.level + hw.trend)) - hw.level)
                            + 0.5 * hw.trend,
                          hw.level + hw.trend
                   FROM hw JOIN idx i ON i.rn = hw.rn + 1)
            SELECT day, observed, round(level, 6) AS level,
                   round(trend, 6) AS trend, round(forecast, 6) AS forecast
            FROM hw ORDER BY day NULLS FIRST"""))

  /** Holt-Winters ADDITIVE triple exponential smoothing
    * (α=β=γ=0.5, season length 7 by epoch weekday `day % 7`) of the
    * daily total series — the seasonal completion of the forecasting
    * family (`ts_ewma` level-only → `ts_holt_forecast` level+trend →
    * here level+trend+seasonal), with the one-step-ahead forecast
    * `level + trend + s[weekday]` evaluated BEFORE the day's update.
    * Same scale shape as Holt: aggregate-first to the O(#days) daily
    * table (the only corpus-sized work, map-side partials), then the
    * inherently sequential recursion as ONE Catalyst `aggregate` fold
    * whose accumulator carries (level, trend, the 7-slot seasonal
    * array) — corpus work distributed, fold O(#days). Seasonal slots
    * key by `day % 7`, not by row position, so gap days cannot rotate
    * the cycle. Determinism: the recursion runs on unrounded doubles
    * with the oracle's arithmetic inlined to the identical IEEE
    * expression tree (the recursive CTE names `lvl`/`sprev` in derived
    * tables, which changes no bits); all outputs rounded 6 dp. First
    * row: level = x, trend = 0, seasonal slots stay 0 (the general
    * update yields exactly 0.0 there), forecast NULL.
    */
  val tsHoltWinters: Q = Q(
    "ts_holt_winters",
    (s, d) => {
      val daily = Tables.read(s, d, "events")
        .groupBy(expr("(ts div 1000) div 86400000000").as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(28, 2)).cast(DoubleType).as("x"))
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("sr"))
        .select(explode(expr(
          """aggregate(
               sr,
               named_struct('first', true,
                 'level', cast(0.0 as double), 'trend', cast(0.0 as double),
                 's', array_repeat(cast(0.0 as double), 7),
                 'out', cast(array() as
                   array<struct<day:bigint, observed:double, level:double,
                                trend:double, seasonal:double,
                                forecast:double>>)),
               (acc, e) -> IF(acc.first,
                 named_struct('first', false, 'level', e.x,
                   'trend', cast(0.0 as double), 's', acc.s,
                   'out', array(named_struct('day', e.day, 'observed', e.x,
                     'level', e.x, 'trend', cast(0.0 as double),
                     'seasonal', cast(0.0 as double),
                     'forecast', cast(null as double)))),
                 named_struct('first', false,
                   'level',
                   0.5d * (e.x - element_at(acc.s, cast(e.day % 7 as int) + 1))
                     + 0.5d * (acc.level + acc.trend),
                   'trend',
                   0.5d * ((0.5d * (e.x - element_at(acc.s, cast(e.day % 7 as int) + 1))
                            + 0.5d * (acc.level + acc.trend)) - acc.level)
                     + 0.5d * acc.trend,
                   's',
                   transform(acc.s, (v, i) -> IF(i = cast(e.day % 7 as int),
                     0.5d * (e.x - (0.5d * (e.x - element_at(acc.s, cast(e.day % 7 as int) + 1))
                                    + 0.5d * (acc.level + acc.trend)))
                       + 0.5d * element_at(acc.s, cast(e.day % 7 as int) + 1),
                     v)),
                   'out', array_append(acc.out, named_struct(
                     'day', e.day, 'observed', e.x,
                     'level',
                     0.5d * (e.x - element_at(acc.s, cast(e.day % 7 as int) + 1))
                       + 0.5d * (acc.level + acc.trend),
                     'trend',
                     0.5d * ((0.5d * (e.x - element_at(acc.s, cast(e.day % 7 as int) + 1))
                              + 0.5d * (acc.level + acc.trend)) - acc.level)
                       + 0.5d * acc.trend,
                     'seasonal',
                     0.5d * (e.x - (0.5d * (e.x - element_at(acc.s, cast(e.day % 7 as int) + 1))
                                    + 0.5d * (acc.level + acc.trend)))
                       + 0.5d * element_at(acc.s, cast(e.day % 7 as int) + 1),
                     'forecast',
                     acc.level + acc.trend
                       + element_at(acc.s, cast(e.day % 7 as int) + 1))))),
               acc -> acc.out)""")).as("r"))
        .select(col("r.day").as("day"), col("r.observed").as("observed"),
          round(col("r.level"), 6).as("level"),
          round(col("r.trend"), 6).as("trend"),
          round(col("r.seasonal"), 6).as("seasonal"),
          round(col("r.forecast"), 6).as("forecast"))
        .orderBy(asc_nulls_first("day"))
    },
    Some("""WITH RECURSIVE
            daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                             CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
                                  AS DECIMAL(28,2)) AS DOUBLE) AS x
                      FROM events GROUP BY 1),
            idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn
                    FROM daily),
            hw AS (SELECT rn, day, x AS observed, x AS level,
                          CAST(0.0 AS DOUBLE) AS trend,
                          CAST(0.0 AS DOUBLE) AS seasonal,
                          CAST(NULL AS DOUBLE) AS forecast,
                          CAST(0.0 AS DOUBLE) AS s0, CAST(0.0 AS DOUBLE) AS s1,
                          CAST(0.0 AS DOUBLE) AS s2, CAST(0.0 AS DOUBLE) AS s3,
                          CAST(0.0 AS DOUBLE) AS s4, CAST(0.0 AS DOUBLE) AS s5,
                          CAST(0.0 AS DOUBLE) AS s6
                   FROM idx WHERE rn = 1
                   UNION ALL
                   SELECT rn, day, x AS observed, lvl AS level,
                          0.5 * (lvl - plevel) + 0.5 * ptrend AS trend,
                          0.5 * (x - lvl) + 0.5 * sprev AS seasonal,
                          fc AS forecast,
                          CASE WHEN w = 0 THEN 0.5 * (x - lvl) + 0.5 * sprev
                               ELSE s0 END AS s0,
                          CASE WHEN w = 1 THEN 0.5 * (x - lvl) + 0.5 * sprev
                               ELSE s1 END AS s1,
                          CASE WHEN w = 2 THEN 0.5 * (x - lvl) + 0.5 * sprev
                               ELSE s2 END AS s2,
                          CASE WHEN w = 3 THEN 0.5 * (x - lvl) + 0.5 * sprev
                               ELSE s3 END AS s3,
                          CASE WHEN w = 4 THEN 0.5 * (x - lvl) + 0.5 * sprev
                               ELSE s4 END AS s4,
                          CASE WHEN w = 5 THEN 0.5 * (x - lvl) + 0.5 * sprev
                               ELSE s5 END AS s5,
                          CASE WHEN w = 6 THEN 0.5 * (x - lvl) + 0.5 * sprev
                               ELSE s6 END AS s6
                   FROM (SELECT t1.*,
                                0.5 * (x - sprev) + 0.5 * (plevel + ptrend)
                                  AS lvl
                         FROM (SELECT i.rn, i.day, i.x AS x,
                                      i.day % 7 AS w,
                                      hw.level AS plevel, hw.trend AS ptrend,
                                      hw.s0, hw.s1, hw.s2, hw.s3, hw.s4,
                                      hw.s5, hw.s6,
                                      CASE i.day % 7
                                        WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1
                                        WHEN 2 THEN hw.s2 WHEN 3 THEN hw.s3
                                        WHEN 4 THEN hw.s4 WHEN 5 THEN hw.s5
                                        ELSE hw.s6 END AS sprev,
                                      hw.level + hw.trend + CASE i.day % 7
                                        WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1
                                        WHEN 2 THEN hw.s2 WHEN 3 THEN hw.s3
                                        WHEN 4 THEN hw.s4 WHEN 5 THEN hw.s5
                                        ELSE hw.s6 END AS fc
                               FROM hw JOIN idx i ON i.rn = hw.rn + 1) t1) t2)
            SELECT day, observed, round(level, 6) AS level,
                   round(trend, 6) AS trend, round(seasonal, 6) AS seasonal,
                   round(forecast, 6) AS forecast
            FROM hw ORDER BY day NULLS FIRST"""))

  /** One-step-ahead forecast backtest — the evaluation half of
    * `ts_holt_forecast` (a forecaster nobody scores is a liability):
    * per-day absolute error of the Holt one-step forecast plus the
    * summary MAE and sMAPE an ingestion monitor thresholds on.
    * Cost: the Holt subtree (one corpus agg + an O(#days) fold) + one
    * O(#days) aggregate. Determinism: observed and forecast are the
    * op's already-rounded outputs; each error is one double subtraction
    * rounded to 6 dp and accumulated in DECIMAL(28,6) (merge-order
    * independent); each summary ratio is a single rounded double
    * division. Oracle embeds the Holt recursive CTE verbatim (keep in
    * sync with `ts_holt_forecast`).
    */
  val tsForecastBacktest: Q = Q(
    "ts_forecast_backtest",
    (s, d) => {
      val hw = tsHoltForecast.fn(s, d)
        .filter(col("forecast").isNotNull)
        .select(col("day"), col("observed"), col("forecast"),
          round(abs(col("observed") - col("forecast")), 6)
            .cast(DecimalType(28, 6)).as("abs_err"),
          // per-day symmetric APE term: |err| / ((|obs| + |fcst|) / 2)
          round(abs(col("observed") - col("forecast"))
            / ((abs(col("observed")) + abs(col("forecast"))) / 2.0), 6)
            .cast(DecimalType(28, 6)).as("sape"))
        .truncated // feeds the per-day rows AND the summary agg
      val n = count(lit(1))
      hw.agg(
        n.as("n_days"),
        round(sum(col("abs_err")).cast(DoubleType) / n, 6).as("mae"),
        round(sum(col("sape")).cast(DoubleType) / n, 6).as("smape"),
        round(max(col("abs_err")).cast(DoubleType), 6).as("max_abs_err"))
    },
    Some("""WITH RECURSIVE
            daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                             CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
                                  AS DECIMAL(28,2)) AS DOUBLE) AS x
                      FROM events GROUP BY 1),
            idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn
                    FROM daily),
            hw AS (SELECT rn, day, x AS observed, x AS level,
                          CAST(0.0 AS DOUBLE) AS trend,
                          CAST(NULL AS DOUBLE) AS forecast
                   FROM idx WHERE rn = 1
                   UNION ALL
                   SELECT i.rn, i.day, i.x,
                          0.5 * i.x + 0.5 * (hw.level + hw.trend),
                          0.5 * ((0.5 * i.x + 0.5 * (hw.level + hw.trend)) - hw.level)
                            + 0.5 * hw.trend,
                          hw.level + hw.trend
                   FROM hw JOIN idx i ON i.rn = hw.rn + 1),
            scored AS (SELECT day, observed, round(forecast, 6) AS forecast
                       FROM hw WHERE forecast IS NOT NULL),
            err AS (SELECT day,
                           CAST(round(abs(observed - forecast), 6)
                                AS DECIMAL(28,6)) AS abs_err,
                           CAST(round(abs(observed - forecast)
                                  / ((abs(observed) + abs(forecast)) / 2.0), 6)
                                AS DECIMAL(28,6)) AS sape
                    FROM scored)
            SELECT count(*) AS n_days,
                   round(CAST(sum(abs_err) AS DOUBLE) / count(*), 6) AS mae,
                   round(CAST(sum(sape) AS DOUBLE) / count(*), 6) AS smape,
                   round(CAST(max(abs_err) AS DOUBLE), 6) AS max_abs_err
            FROM err"""))

  /** Day-of-week seasonality profile — the decomposition step before any
    * anomaly gate on business-cycled data (a Monday spike is seasonality,
    * not drift): per (series, weekday) volume and mean vs the series'
    * overall mean, with the seasonal delta made explicit. Aggregate-first
    * ALL the way: one corpus hash agg to the 7·|series| profile cells,
    * the overall row ROLLS UP from those cells (never a second corpus
    * pass), and the join is cell-table sized. DECIMAL sums make every
    * mean a single exact-operand double division.
    */
  val tsWeekdayProfile: Q = Q(
    "ts_weekday_profile",
    (s, d) => {
      val byWd = Tables.read(s, d, "events")
        .select(col("event_type"),
          expr("((ts div 1000) div 86400000000) % 7").as("wd"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .groupBy(col("event_type"), col("wd"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        // materialized once: the rollup below re-USES the 7·|series| cell
        // table — without this Catalyst re-expands the subtree and scans
        // the corpus twice (PlanSpec pins the single-scan shape)
        .truncated
      val byType = byWd.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_all"), sum(col("s")).as("s_all"))
      byWd.join(byType, "event_type")
        .select(col("event_type"), col("wd"), col("n"),
          (col("s").cast(DoubleType) / col("n")).as("wd_avg"),
          (col("s_all").cast(DoubleType) / col("n_all")).as("overall_avg"),
          ((col("s").cast(DoubleType) / col("n"))
            - (col("s_all").cast(DoubleType) / col("n_all"))).as("seasonal_delta"))
        .orderBy(asc_nulls_first("event_type"), asc("wd"))
    },
    Some("""WITH w AS (SELECT event_type,
                              (epoch_us(ts) // 86400000000) % 7 AS wd,
                              count(*) AS n,
                              sum(CAST(value AS DECIMAL(18,2))) AS s
                       FROM events GROUP BY 1, 2),
            t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_all,
                         sum(s) AS s_all
                  FROM w GROUP BY 1)
            SELECT w.event_type, w.wd, w.n,
                   CAST(s AS DOUBLE) / n AS wd_avg,
                   CAST(s_all AS DOUBLE) / n_all AS overall_avg,
                   CAST(s AS DOUBLE) / n - CAST(s_all AS DOUBLE) / n_all
                     AS seasonal_delta
            FROM w JOIN t USING (event_type)
            ORDER BY w.event_type NULLS FIRST, w.wd"""))

  /** Cross-series lead-lag correlation — does click volume PREDICT
    * purchase volume days later? Pearson corr of (clicks_t,
    * purchases_{t+k}) for lags k = 0, 1, 2 over the daily-count series.
    * Aggregate-first: ONE corpus hash agg to the |days|-row daily table,
    * then per-lag self-joins and moment sums run on that tiny table —
    * the lag alignment is an equi-join on day+k (partition-parallel;
    * no global window even over the small table). All moments are exact
    * BIGINT sums of daily-count products; the one double formula is the
    * `agg_corr_manual` discipline (sqrt is IEEE-exact, round(…, 6)), and
    * degenerate variance yields NULL via an explicit integer guard, not
    * a float division blow-up.
    */
  val tsCrossCorrelation: Q = Q(
    "ts_cross_correlation",
    (s, d) => {
      val daily = Tables.read(s, d, "events")
        .groupBy(expr("(ts div 1000) div 86400000000").as("day"))
        .agg(expr("count_if(event_type = 'click')").as("c"),
          expr("count_if(event_type = 'purchase')").as("p"))
        .truncated
      val a = daily.select(col("day").as("aday"), col("c"))
      val b = daily.select(col("day").as("bday"), col("p"))
      // one equi-join + one grouped agg for all three lags (r21: the
      // former per-lag branches ran three joins + three one-row aggs and
      // unioned them): the lag column fans the CLICK side out 3× — |days|
      // extra rows, nothing at any scale — and the lag lives on the same
      // side as aday, so (aday + lag) = bday is a one-column-per-side
      // equi-join key (lag on the b side would mix sides in one
      // expression and degrade the join to a nested-loop cross product)
      a.withColumn("lag", explode(array(lit(0L), lit(1L), lit(2L))))
        .join(b, col("bday") === col("aday") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(col("p")).as("sy"), sum(col("c") * col("c")).as("sxx"),
          sum(col("p") * col("p")).as("syy"),
          sum(col("c") * col("p")).as("sxy"))
        .select(col("lag").as("lag_days"), col("n"),
          expr("""CASE WHEN n * sxx - sx * sx <= 0
                       OR n * syy - sy * sy <= 0 THEN NULL
                  ELSE round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
                  END""").as("corr"))
        // a grouped agg emits no row for a lag with NO aligned days —
        // exactly the oracle's GROUP BY semantics (the former global agg
        // needed an explicit n > 0 filter for its n=0 row)
        .orderBy(asc("lag_days"))
    },
    Some("""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                                  count_if(event_type = 'click') AS c,
                                  count_if(event_type = 'purchase') AS p
                           FROM events GROUP BY 1),
            lags AS (SELECT unnest([0, 1, 2]) AS lag_days),
            m AS (SELECT l.lag_days, count(*) AS n,
                         sum(a.c) AS sx, sum(b.p) AS sy,
                         sum(a.c * a.c) AS sxx, sum(b.p * b.p) AS syy,
                         sum(a.c * b.p) AS sxy
                  FROM lags l
                  JOIN daily a ON true
                  JOIN daily b ON b.day = a.day + l.lag_days
                  GROUP BY 1)
            SELECT CAST(lag_days AS BIGINT) AS lag_days,
                   CAST(n AS BIGINT) AS n,
                   CASE WHEN n * sxx - sx * sx <= 0
                        OR n * syy - sy * sy <= 0 THEN NULL
                   ELSE round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                              / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                 * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
                   END AS corr
            FROM m ORDER BY lag_days"""))

  /** First BPE merge iteration — the inner loop of tokenizer training:
    * rank adjacent character-pair frequencies across the corpus, weighted
    * by word frequency (the pair chosen for the first merge is the
    * argmax; the output is the ranked merge-candidate table). The BPE
    * trick IS the aggregate-first discipline: pair counting runs over
    * the |vocab| DISTINCT-word table carrying each word's count — the
    * corpus is touched exactly once for the vocab agg, and a 10×-bigger
    * corpus with the same vocabulary costs the same pair scan.
    * Characters come from an explicit substring transform (not
    * split(tok, '')) because the engines disagree on empty-pattern
    * trailing splits; substring is 1-indexed and identical in both.
    */
  val llmBpeMergeStep: Q = Q(
    "llm_bpe_merge_step",
    (s, d) => {
      val vocab = Tables.read(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      vocab.filter(length(col("tok")) >= 2)
        .select(col("n"), explode(expr(
          """transform(sequence(1, length(tok) - 1),
               i -> struct(substring(tok, i, 1) AS a,
                           substring(tok, i + 1, 1) AS b))""")).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"), col("n"))
        .groupBy(col("a"), col("b")).agg(sum(col("n")).as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(20)
    },
    Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS tok
                       FROM documents),
            c AS (SELECT tok, count(*) AS n FROM w GROUP BY 1),
            p AS (SELECT substr(tok, CAST(i AS INT), 1) AS a,
                         substr(tok, CAST(i AS INT) + 1, 1) AS b, n
                  FROM (SELECT tok, n, unnest(range(1, len(tok))) AS i
                        FROM c WHERE len(tok) >= 2)),
            g AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt
                  FROM p GROUP BY 1, 2)
            SELECT a, b, cnt FROM g
            ORDER BY cnt DESC, a, b LIMIT 20"""))

  /** The greedy-leftmost non-overlapping merge as a portable left fold
    * over columns (s: array of symbols, a, b) — exposed as a seam so the
    * property test can drive it against a reference scan for arbitrary
    * symbol arrays (including the a=b run cases).
    */
  private[operators] def bpeMergeFold: Column = expr(
    """aggregate(slice(s, 2, greatest(size(s) - 1, 0)), element_at(s, 1),
         (acc, x) -> CASE
           WHEN x = b AND (acc = a OR endswith(acc, concat(' ', a)))
           THEN CASE WHEN acc = a THEN concat(a, b)
                ELSE concat(substring(acc, 1, length(acc) - length(a) - 1),
                            ' ', a, b) END
           ELSE concat(acc, ' ', x) END)""")

  /** Training-loop seam shared by `llm_bpe_train_iters` and
    * `llm_bpe_tokenize_apply`: `vocab0` must carry (tok, w = space-joined
    * symbols, n); returns (per-step 1-row merge tables, the rewritten
    * vocab after all merges).
    */
  private[operators] def bpeTrainLoop(vocab0: DataFrame, iters: Int)
      : (Seq[DataFrame], DataFrame) = {
    val mergeFold = bpeMergeFold
    var vocab = vocab0
    val merges = (1 to iters).map { step =>
      val best = vocab
        .select(split(col("w"), " ").as("s"), col("n"))
        .filter(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          """transform(sequence(1, size(s) - 1),
               i -> struct(element_at(s, i) AS a,
                           element_at(s, i + 1) AS b))""")).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
        .withColumn("step", lit(step).cast(LongType))
        .truncated // 1 row; feeds BOTH the output and the rewrite
      vocab = vocab
        .crossJoin(broadcast(best.select(col("a"), col("b"))))
        .select(col("tok"), split(col("w"), " ").as("s"),
          col("a"), col("b"), col("n"))
        .select(col("tok"), mergeFold.as("w"), col("n"))
        .truncated
      best
    }
    (merges, vocab)
  }

  /** Initial character-split vocab (tok, w, n) — the ONE corpus
    * aggregation of the BPE family; everything downstream is
    * |vocab|-sized. Empty tokens (doubled/leading spaces) are filtered
    * BEFORE the character split: Spark's `sequence(1, 0)` descends
    * ([1, 0] → two empty substrings) while DuckDB's `range(1, 1)` is
    * empty — a latent cross-engine divergence the filter removes on
    * both sides (the oracles mirror `tok <> ''`).
    */
  private def bpeVocab0(s: SparkSession, d: String): DataFrame =
    Tables.read(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(col("tok"), array_join(expr(
        "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"),
        " ").as("w"), col("n"))
      .truncated

  /** BPE tokenizer TRAINING, three full iterations — the loop
    * `llm_bpe_merge_step` is one step of: per iteration (1) count
    * adjacent symbol-pair frequencies over the weighted vocab, (2) pick
    * the argmax pair (total order: cnt DESC, pair ASC), (3) rewrite
    * every word, merging occurrences of that pair greedy-leftmost
    * non-overlapping (the Sennrich 2016 semantics). Output is the
    * learned merge table — the artifact tokenizer training persists.
    *
    * The training loop never touches the corpus again after the ONE
    * vocab aggregation: every iteration runs over the |vocab|
    * distinct-word table (map-side-partial pair agg + a 1-row
    * TakeOrderedAndProject argmax broadcast back), so a 10×-bigger
    * corpus with the same vocabulary pays only the initial agg — the
    * property that makes BPE trainable at 100 TB. The greedy rewrite is
    * a portable left fold (`aggregate` HOF here, `list_reduce` in the
    * oracle) over the space-joined symbol string: a merged symbol can
    * never equal the pair's left element (concat(a,b) = a needs empty
    * b), so "don't re-merge what this pass just produced" falls out of
    * the exact-last-symbol check and both engines replay the identical
    * greedy scan — proven on the argmax-adversarial a=b runs ("aaaa" →
    * "aa aa"). Vocab materializes per iteration (3 rounds, bounded
    * lineage), the corpus exactly once.
    */
  val llmBpeTrainIters: Q = Q(
    "llm_bpe_train_iters",
    (s, d) => {
      val (merges, _) = bpeTrainLoop(bpeVocab0(s, d), 3)
      merges.reduce(_ unionByName _)
        .select(col("step"), col("a"), col("b"), col("cnt"))
        .orderBy(asc("step"))
    },
    Some {
      def iter(k: Int) = s"""
            p$k AS (SELECT s[CAST(i AS INT)] AS a, s[CAST(i AS INT) + 1] AS b,
                           CAST(sum(n) AS BIGINT) AS cnt
                    FROM (SELECT string_split(w, ' ') AS s, n,
                                 unnest(range(1, len(string_split(w, ' ')))) AS i
                          FROM v${k - 1} WHERE len(string_split(w, ' ')) >= 2)
                    GROUP BY 1, 2),
            m$k AS (SELECT CAST($k AS BIGINT) AS step, a, b, cnt FROM p$k
                    ORDER BY cnt DESC, a, b LIMIT 1),
            v$k AS (SELECT list_reduce(string_split(v.w, ' '), (acc, x) ->
                         CASE WHEN x = m.b
                                   AND (acc = m.a OR ends_with(acc, ' ' || m.a))
                              THEN CASE WHEN acc = m.a THEN m.a || m.b
                                   ELSE substr(acc, 1,
                                               len(acc) - len(m.a) - 1)
                                        || ' ' || m.a || m.b END
                              ELSE acc || ' ' || x END) AS w, v.n
                    FROM v${k - 1} v, m$k m)"""
      """WITH c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
                    FROM (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents)
                    WHERE tok <> ''
                    GROUP BY 1),
            v0 AS (SELECT array_to_string(list_transform(
                            range(1, len(tok) + 1),
                            i -> substr(tok, CAST(i AS INT), 1)), ' ') AS w, n
                   FROM c),""" +
        iter(1) + "," + iter(2) + "," + iter(3) + """
            SELECT step, a, b, cnt
            FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2
                  UNION ALL SELECT * FROM m3)
            ORDER BY step"""
    })

  /** BPE tokenizer APPLICATION — the other half of the lifecycle
    * `llm_bpe_train_iters` trains: segment every document with the
    * 3-merge model and report per-doc token accounting (word count, BPE
    * token count, character count, chars-per-token compression) — the
    * numbers that size a training run's token budget. Application never
    * re-runs the fold per document: the trained vocab IS the
    * tok → symbol-count mapping (every corpus token is in it by
    * construction), so applying = one explode + one vocab-sized
    * equi-join + a per-doc hash agg — at 100 TB the join's build side
    * is the |vocab| model table, exactly how a production tokenizer
    * ships (model broadcast, corpus streamed). Compression is one
    * exact-operand double division.
    */
  val llmBpeTokenizeApply: Q = Q(
    "llm_bpe_tokenize_apply",
    (s, d) => {
      val (_, v3) = bpeTrainLoop(bpeVocab0(s, d), 3)
      val mapping = v3.select(col("tok"), size(split(col("w"), " ")).as("nsym"))
      Tables.read(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .join(mapping, "tok")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("nsym")).as("n_bpe_tokens"),
          sum(length(col("tok"))).as("n_tok_chars"))
        .withColumn("chars_per_token",
          col("n_tok_chars").cast(DoubleType) / col("n_bpe_tokens"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some {
      def iter(k: Int) = s"""
            p$k AS (SELECT s[CAST(i AS INT)] AS a, s[CAST(i AS INT) + 1] AS b,
                           CAST(sum(n) AS BIGINT) AS cnt
                    FROM (SELECT string_split(w, ' ') AS s, n,
                                 unnest(range(1, len(string_split(w, ' ')))) AS i
                          FROM v${k - 1} WHERE len(string_split(w, ' ')) >= 2)
                    GROUP BY 1, 2),
            m$k AS (SELECT a, b FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
            v$k AS (SELECT v.tok, list_reduce(string_split(v.w, ' '), (acc, x) ->
                         CASE WHEN x = m.b
                                   AND (acc = m.a OR ends_with(acc, ' ' || m.a))
                              THEN CASE WHEN acc = m.a THEN m.a || m.b
                                   ELSE substr(acc, 1,
                                               len(acc) - len(m.a) - 1)
                                        || ' ' || m.a || m.b END
                              ELSE acc || ' ' || x END) AS w, v.n
                    FROM v${k - 1} v, m$k m)"""
      """WITH c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
                    FROM (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents)
                    WHERE tok <> ''
                    GROUP BY 1),
            v0 AS (SELECT tok, array_to_string(list_transform(
                            range(1, len(tok) + 1),
                            i -> substr(tok, CAST(i AS INT), 1)), ' ') AS w, n
                   FROM c),""" +
        iter(1) + "," + iter(2) + "," + iter(3) + """,
            mp AS (SELECT tok, CAST(len(string_split(w, ' ')) AS BIGINT)
                               AS nsym
                   FROM v3),
            dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents)
            SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(m.nsym) AS BIGINT) AS n_bpe_tokens,
                   CAST(sum(len(d.tok)) AS BIGINT) AS n_tok_chars,
                   CAST(sum(len(d.tok)) AS DOUBLE) / sum(m.nsym)
                     AS chars_per_token
            FROM dt d JOIN mp m USING (tok)
            GROUP BY d.doc_id ORDER BY d.doc_id NULLS FIRST"""
    })

  /** The END-TO-END corpus build — the stages every pretraining data
    * pipeline runs (quality gate → exact dedup → decontamination → mix
    * cap), composed into ONE declarative plan whose output is the
    * per-document LINEAGE table a 100 TB data platform persists for
    * audit: every doc with its stage verdicts and the final keep bit,
    * not just the survivors. Each stage reuses the proven single-op
    * machinery ([[graft.operators.LlmOps.qualityScored]], the
    * exact-digest window, the 5-gram eval-overlap screen, the
    * min-cell mix cap of [[llmMixRebalance]]), so Catalyst pipelines
    * the whole build: digests and 64-bit shingle hashes through the
    * shuffles — never document bodies — one window per stage, and an
    * O(#cells) driver scalar for the cap. The oracle composes the same
    * stage CTEs, so every verdict bit is hash-checked end-to-end.
    *
    * Accepted collision bound (same disclosure discipline as
    * [[graft.operators.LlmOps.llmDedupExactDigest]]): the
    * decontamination stage joins on `xxhash64(5-gram)` — 8-byte shuffle
    * keys, the 100 TB design — while the oracle joins the raw shingle
    * strings. A 64-bit collision between an eval shingle and a non-eval
    * shingle would flip that doc's `contaminated` bit engine-side only;
    * by birthday bound that is ~2^-64 × |eval| × |non-eval| distinct
    * shingles ≈ 1e-4 at 10× the bench corpus — accepted, not a latent
    * oracle bug, and the md5-keyed stages are immune (2^-128).
    */
  val llmCorpusBuildE2e: Q = Q(
    "llm_corpus_build_e2e",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
      // ONE text-bearing scan feeds the quality score, the exact-dedup
      // digest AND the lineage columns (was: three independent documents
      // scans — quality, md5+window, lineage base — re-joined on doc_id;
      // the digests and quality doubles are identical expressions, the
      // doc_id joins were pure re-assembly)
      val base = LlmOps.qualityScored(docs
          .select(col("doc_id"), col("lang"), col("source"),
            md5(col("text").cast("binary")).as("digest"),
            col("text"), col("n_chars")))
        .select(col("doc_id"), col("lang"), col("source"), col("digest"),
          col("quality"))
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy(col("digest"))))
        .withColumn("is_canonical", col("doc_id") === col("keep_id"))
      val sh = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(t) >= 5
               THEN transform(sequence(1, size(t) - 4),
                              i -> xxhash64(concat_ws(' ', slice(t, i, 5))))
               ELSE CAST(array() AS array<bigint>) END""")).as("sh"))
        .distinct()
        .truncated
      val evalSh = sh.filter(col("doc_id") % 50 === 0)
        .select(col("sh")).distinct().withColumn("hit", lit(1))
        .truncated // materialized ONCE: the budget probe and the
                   // decontamination join below share it — without this
                   // the probe re-executes the eval-distinct shuffle and
                   // the whole op pays that subtree twice
      // The eval-shingle set grows linearly with the corpus (~2% of all
      // distinct 5-grams), so a FORCED broadcast would become a driver
      // OOM at 100 TB rather than degrading. Budget-gate it like the
      // other ops: broadcast only when a cheap bounded probe (over the
      // already-truncated shingle table) proves it small; past the
      // budget leave the hint off and let AQE pick the shuffle join.
      val evalBudget = 5000000L
      val evalSide =
        if (evalSh.limit((evalBudget + 1).toInt).count() <= evalBudget)
          broadcast(evalSh)
        else evalSh
      // "any shingle hits the eval set" needs only the HITS: a left-semi
      // join short-circuits per probe row and the distinct aggregates
      // only contaminated docs, where the old left-join + groupBy pushed
      // EVERY non-eval (doc, shingle) row through the doc_id exchange to
      // mostly produce `false` rows the lineage coalesce already
      // produces for free (absent ⇒ false, count=0 ⇒ false — identical)
      val contam = sh.filter(col("doc_id") % 50 =!= 0)
        .join(evalSide, Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("contaminated", lit(true))
      val lineage = base
        .select(col("doc_id"), col("lang"), col("source"), col("quality"),
          col("is_canonical"))
        .withColumn("is_eval", col("doc_id") % 50 === 0)
        .join(contam, Seq("doc_id"), "left")
        .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
        .withColumn("passed_quality", col("quality") >= 0.64)
        .withColumn("survivor",
          col("passed_quality") && col("is_canonical") &&
            !col("is_eval") && !col("contaminated"))
        .truncated // three joins feed two consumers below — cut the replay
      val wCell = Window.partitionBy(col("lang"), col("source"))
        .orderBy(expr(LlmOps.scrambleSql), col("doc_id"))
      val surv = lineage.filter(col("survivor"))
        .withColumn("rk", row_number().over(wCell))
        .truncated
      // O(#cells) driver scalar, like llm_mix_rebalance's size table
      val target = surv.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n")).agg(min(col("n"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      val kept = surv.filter(col("rk") <= target)
        .select(col("doc_id"), lit(true).as("kept_final"))
      lineage.join(kept, Seq("doc_id"), "left")
        .withColumn("kept_final", coalesce(col("kept_final"), lit(false)))
        .select(col("doc_id"), col("lang"), col("source"), col("quality"),
          col("passed_quality"), col("is_canonical"), col("is_eval"),
          col("contaminated"), col("survivor"), col("kept_final"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH q AS (SELECT doc_id,
                   round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                           / len(string_split(text, ' ')) * 0.4
                         + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                              x -> x = 'the' OR x = 'a')) AS DOUBLE)
                              / len(string_split(text, ' '))) * 0.3
                         + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0,
                                 1.0) * 0.3,
                         6) AS quality
                 FROM documents),
            canon AS (SELECT doc_id,
                             doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                               AS is_canonical
                      FROM documents),
            toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i
                    FROM toks),
            sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh
                   FROM pos),
            ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
            cont AS (SELECT s.doc_id, count(e.sh) > 0 AS contaminated
                     FROM sh s LEFT JOIN ev e USING (sh)
                     WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id),
            lineage AS (SELECT d.doc_id, d.lang, d.source, q.quality,
                               q.quality >= 0.64 AS passed_quality,
                               c.is_canonical,
                               d.doc_id % 50 = 0 AS is_eval,
                               COALESCE(ct.contaminated, false) AS contaminated
                        FROM documents d
                        JOIN q USING (doc_id) JOIN canon c USING (doc_id)
                        LEFT JOIN cont ct USING (doc_id)),
            l2 AS (SELECT *, passed_quality AND is_canonical
                             AND NOT is_eval AND NOT contaminated AS survivor
                   FROM lineage),
            surv AS (SELECT *, row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS rk
                     FROM l2 WHERE survivor),
            tgt AS (SELECT min(n) AS target
                    FROM (SELECT count(*) AS n FROM surv GROUP BY lang, source)),
            kept AS (SELECT doc_id, true AS kept_final
                     FROM surv, tgt WHERE rk <= target)
            SELECT l2.doc_id, l2.lang, l2.source, l2.quality,
                   l2.passed_quality, l2.is_canonical, l2.is_eval,
                   l2.contaminated, l2.survivor,
                   COALESCE(k.kept_final, false) AS kept_final
            FROM l2 LEFT JOIN kept k USING (doc_id)
            ORDER BY l2.doc_id NULLS FIRST"""))

  /** Mean-shift changepoint detection — per event type, the day boundary
    * that maximizes |mean(value) before − mean(value) after| (the
    * binary-segmentation scan statistic at daily granularity): "when did
    * this metric's level actually change", the first question after
    * `ts_cusum_drift` flags THAT it drifted. Cost shape: one daily
    * pre-aggregation (map-side partial, output |types × days| — tiny
    * regardless of event volume), then prefix sums via ONE window per
    * type and an O(days) candidate scan; at 100 TB the scan stage is
    * metadata-sized, the only data-volume cost is the daily rollup.
    * §2.0 float discipline: per-day sums accumulate in DECIMAL (exact,
    * order-independent), each candidate's two means are single
    * exact-operand double divisions, and the ARGMAX never compares raw
    * doubles — it ranks `floor(|Δ| × 1e6)` as a BIGINT (floor is
    * rounding-mode-free, unlike round()) with the day as tiebreak, so
    * both engines pick the identical split even if an unrepresentable
    * |Δ| differed in its last ulp.
    */
  val tsChangepointMeanshift: Q = Q(
    "ts_changepoint_meanshift",
    (s, d) => {
      val dayNs = 86400000000000L
      val daily = Tables.read(s, d, "events")
        .select(col("event_type"), expr(s"ts div $dayNs").as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 2))).as("sv"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = daily
        .withColumn("cum_cnt", sum(col("cnt")).over(w))
        .withColumn("cum_sum", sum(col("sv")).over(w))
      val tot = daily.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("tot_cnt"), sum(col("sv")).as("tot_sum"))
      val cand = pre.join(tot, "event_type")
        .filter(col("cum_cnt") < col("tot_cnt"))
        .withColumn("mean_before",
          col("cum_sum").cast(DoubleType) / col("cum_cnt"))
        .withColumn("mean_after",
          (col("tot_sum") - col("cum_sum")).cast(DoubleType) /
            (col("tot_cnt") - col("cum_cnt")))
        .withColumn("diff_micro",
          floor(abs(col("mean_before") - col("mean_after")) * 1000000)
            .cast(LongType))
      val rk = Window.partitionBy(col("event_type"))
        .orderBy(col("diff_micro").desc, col("day").asc)
      cand.withColumn("rk", row_number().over(rk))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("split_day"),
          col("cum_cnt").as("n_before"),
          (col("tot_cnt") - col("cum_cnt")).as("n_after"),
          col("diff_micro"), col("mean_before"), col("mean_after"))
        .orderBy(asc_nulls_first("event_type"))
    },
    Some("""WITH e AS (SELECT event_type,
                              epoch_ns(ts) // 86400000000000 AS day, value
                       FROM events),
            daily AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS cnt,
                             SUM(CAST(value AS DECIMAL(18,2))) AS sv
                      FROM e GROUP BY 1, 2),
            pre AS (SELECT event_type, day, cnt, sv,
                           SUM(cnt) OVER w AS cum_cnt,
                           SUM(sv) OVER w AS cum_sum
                    FROM daily
                    WINDOW w AS (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)),
            tot AS (SELECT event_type, SUM(cnt) AS tot_cnt,
                           SUM(sv) AS tot_sum
                    FROM daily GROUP BY 1),
            cand AS (SELECT p.event_type, p.day,
                            CAST(p.cum_cnt AS BIGINT) AS n_before,
                            CAST(t.tot_cnt - p.cum_cnt AS BIGINT) AS n_after,
                            CAST(p.cum_sum AS DOUBLE) / p.cum_cnt AS mean_before,
                            CAST(t.tot_sum - p.cum_sum AS DOUBLE)
                              / (t.tot_cnt - p.cum_cnt) AS mean_after
                     FROM pre p JOIN tot t USING (event_type)
                     WHERE p.cum_cnt < t.tot_cnt),
            sc AS (SELECT *, CAST(floor(abs(mean_before - mean_after)
                                        * 1000000) AS BIGINT) AS diff_micro
                   FROM cand),
            r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                       ORDER BY diff_micro DESC, day) AS rk
                  FROM sc)
            SELECT event_type, day AS split_day, n_before, n_after,
                   diff_micro, mean_before, mean_after
            FROM r WHERE rk = 1 ORDER BY event_type NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    llmCorpusBuildE2e, tsChangepointMeanshift,
    llmInvertedIndex, llmTfidfTopTerms, llmQualityQuantile, llmMixRebalance,
    llmMixTemperature, llmSpanCorruption, llmCurriculumOrder,
    tsSessionize, tsZscoreAnomaly, llmPiiMask, llmVocabBuild, tsRolling24h,
    llmEmbedNormalize, llmUnigramLogprob, llmDocChunking, llmPackBlocks,
    tsOhlcBars, llmCorpusFilterDecision, tsGapStats, aggHistogramFixed,
    tsTrendSlope, llmBloomPrescreen, tsAutocorrLag1, tsDailyActiveUsers,
    tsCusumDrift, tsEwma, tsIntervalUnion, llmBigramLogprob, tsDailyRetention,
    tsMadAnomaly, llmNgramPmi, llmCorpusShuffle, llmEpochRepeat,
    tsWeekdayProfile, tsCrossCorrelation, llmBpeMergeStep, llmBpeTrainIters,
    llmBpeTokenizeApply, tsFunnelStages,
    tsRollingDau, tsActiveStreak, llmTextNormalize, tsSeasonalDecompose,
    tsHoltForecast, tsSeasonalAnomaly, tsForecastBacktest, tsHoltWinters,
    tsDownsampleLttb, tsCohortRetention, aggActivityBitmap,
    aggBitmapAudience, tsAcf,
    tsSeasonalityStrength, tsHourWeekdayHeatmap, tsGapHistogram,
    llmVocabCoverageCurve, llmBoilerplateWindows, aggGiniActivity,
    tsUserLifetime)
}
