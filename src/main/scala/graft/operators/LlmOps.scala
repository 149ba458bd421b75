package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.util.Checkpoints.Truncate
import graft.util.Memo

/** SURVEY §2.8 — LLM-training-data pipeline operators (all EXT;
  * `BASELINE.json` north_star: dedup, similarity search, multimodal columns,
  * text analysis) over the `documents` / `embeddings` corpus tables.
  *
  * Scale design: the all-pairs ops (`llm_jaccard_near_dup`,
  * `llm_embed_cosine_dup`, brute-force `llm_cosine_topk`) are the exact
  * ground-truth baselines; their 100 TB counterparts are the banded/LSH ops
  * (`llm_dedup_minhash`, `llm_dedup_simhash`, `llm_ann_lsh_topk`) which
  * replace the quadratic self-join with an equi-join on band/bucket keys —
  * one shuffle keyed by (band, hash), candidate set ≪ n², verified exactly
  * only within buckets. Token pipelines go through `explode(split(...))`
  * (Catalyst Generator → stays in codegen) + hash aggregation; no UDFs in
  * any hot path — everything below is built from codegen'd builtins and
  * higher-order array functions (the one deliberate exception is the typed
  * mapPartitions in `llm_multimodal_features`, whose point is the typed
  * per-partition batch surface for opaque binary payloads).
  */
object LlmOps {

  /** The `vec_id % 25 = 0` probe-anchor batch shared by
    * [[llmHardNegativeMine]] and [[llmKnnLabelProbe]] — built once per
    * (session, corpus) with its broadcast-budget gate resolved at build
    * time, so the eager gating count (one extra corpus-scan Spark job)
    * runs ONCE instead of once per consuming op per bench rep. Columns
    * are the neutral (anchor_id, a_emb, lbl); consumers rename `lbl`
    * to their role-specific label name (the broadcast hint lives on
    * the subtree, so it survives the rename projection).
    */
  private def probeAnchors(s: SparkSession, d: String): DataFrame =
    Memo.session(s, d, "probe_anchors") {
      val a0 = Tables.read(s, d, "embeddings")
        .filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("a_emb"),
          col("label").as("lbl"))
      val budget = 100000L
      if (a0.limit((budget + 1).toInt).count() <= budget) broadcast(a0)
      else a0
    }

  /** The `vec_id % 50 = 0` bucketed probe-anchor batch of
    * [[llmAnnRecallEval]] — same budget-gated-broadcast pattern as
    * [[probeAnchors]], cached per (session, corpus) so its eager gating
    * count (one corpus-scan Spark job) runs once, not once per
    * invocation per bench rep.
    */
  private def recallAnchors(s: SparkSession, d: String, nBits: Int): DataFrame =
    // nBits is part of the name: the cached batch's a_bucket values are a
    // function of it, so a second caller with a different plane count
    // must not be served the first caller's buckets
    Memo.session(s, d, s"recall_anchors/$nBits") {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val a0 = Tables.read(s, d, "embeddings")
        .filter(col("vec_id") % 50 === 0)
        .withColumn("bucket", expr(s"graft_lsh_bucket(embedding, $nBits)"))
        .select(col("vec_id").as("anchor_id"), col("embedding").as("a_emb"),
          col("bucket").as("a_bucket"))
      val budget = 100000L
      if (a0.limit((budget + 1).toInt).count() <= budget) broadcast(a0)
      else a0
    }

  /** The `doc_id % 5 = 1` sharded exact-Jaccard τ=0.9 edge list shared by
    * `llm_dedup_keep_best` and the four oracle-checked graph ops —
    * materialized ONCE per (session, corpus) like [[corpusToksAndSigs]]:
    * five registry ops consume the identical pair join, and without the
    * cache each re-executes the token self-join subtree per op in a
    * bench/verify sweep.
    */
  def shardedJaccardPairs(s: SparkSession, d: String): DataFrame =
    Memo.session(s, d, "sharded_jaccard_pairs") {
      jaccardPairs(s, docTokens(s, d).filter(col("doc_id") % lit(5) === 1))
        .select(col("id1"), col("id2")).truncated
    }

  /** Distinct (doc, token) table + k=16 minhash signatures, materialized
    * once per (session, corpus): four registry ops fan out of the token
    * table and two of the signature table — the same shared-subtree
    * discipline as [[simhashPairs]]. Sharing SIGNATURES between the
    * broadcast and forced-shuffle minhash keys is exactly what the
    * banded key exists to prove: same inputs, different pair-generation
    * plan, spec-identical output. Session-scoped in [[graft.util.Memo]]:
    * dropped and unpersisted once the session dies.
    */
  private[operators] def corpusToksAndSigs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    Memo.session(s, d, "corpus_toks_sigs") {
      val toks = Tables.read(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct().cache()
      (toks, minhashSigs(toks).cache())
    }

  private[graft] def docTokens(s: SparkSession, d: String): DataFrame =
    corpusToksAndSigs(s, d)._1

  // ---------------------------------------------------------------- dedup

  /** Exact dedup: canonical (min) doc_id per distinct text
    * (hash groupBy on the full text — at 100 TB group on a text digest
    * instead, same plan shape).
    */
  val llmDedupExactText: Q = Q.sql(
    "llm_dedup_exact_text",
    """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies, text
       FROM documents GROUP BY text ORDER BY keep_id NULLS FIRST""")

  /** Exact dedup via content digest — the 100 TB form of
    * `llm_dedup_exact_text`: group on md5(text) so the shuffle carries a
    * 32-byte key instead of the document body; the digest collision rate
    * is negligible against corpus sizes (2^-128 birthday bound).
    */
  val llmDedupExactDigest: Q = Q(
    "llm_dedup_exact_digest",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
        .groupBy(col("digest"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("digest"))
        .orderBy(asc_nulls_first("keep_id")),
    Some("""SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
                   md5(text) AS digest
            FROM documents GROUP BY md5(text) ORDER BY keep_id NULLS FIRST"""))

  /** Cross-source exact dedup with keep-priority — the "dedup the crawl
    * against the curated sets" decision ([[llmDedupExactDigest]] picks a
    * canonical id; this picks a canonical SOURCE): within each digest
    * group the copy from the lexicographically-first source survives
    * (doc_id tiebreak), every other copy is marked dropped, and each row
    * carries the group's copy count for audit. One digest-keyed window —
    * the shuffle carries 16-byte digests + ids, never document bodies.
    */
  val llmCrossSourceDedup: Q = Q(
    "llm_cross_source_dedup",
    (s, d) => {
      // explicit NULLS FIRST on both sort keys: Spark ASC defaults to
      // NULLS FIRST but DuckDB to NULLS LAST, so a NULL source/doc_id in
      // a multi-copy group would flip the keep flag between engines
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("digest"))
        .orderBy(asc_nulls_first("source"), asc_nulls_first("doc_id"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("digest"))
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("source"), md5(col("text").cast("binary")).as("digest"))
        .withColumn("keep", row_number().over(w) === 1)
        .withColumn("n_copies", count(lit(1)).over(wAll))
        .select(col("doc_id"), col("source"), col("keep"), col("n_copies"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""SELECT doc_id, source,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY source NULLS FIRST,
                                               doc_id NULLS FIRST) = 1 AS keep,
                   CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                     AS n_copies
            FROM documents ORDER BY doc_id NULLS FIRST"""))

  /** Exact token-set Jaccard near-dup pairs (ground truth for the MinHash
    * op). Adaptive physical plan: the distinct-token vocabulary is probed
    * first (limit-65 — never fully collected); when it fits 64 bits — as in this
    * corpus (31) — each doc's token set becomes ONE long bitmask and the
    * pair loop is `bit_count(m1 & m2)` in whole-stage codegen over the
    * id1<id2 self-join, instead of the inverted-index join whose
    * intermediate is Σ_tok df(tok)² rows (≈500M here: tiny vocab ⇒ every
    * token is in thousands of docs). Larger vocabularies fall back to the
    * general inverted-index + count plan. Jaccard = |∩| / (|A|+|B|-|∩|);
    * integers throughout + one final double ratio (§2.0 rule 3).
    */
  val llmJaccardNearDup: Q = Q(
    "llm_jaccard_near_dup",
    (s, d) => jaccardPairs(s, docTokens(s, d)),
    Some("""WITH toks AS (
              SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS inter
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT id1, id2, inter,
                   s1.sz AS n1, s2.sz AS n2,
                   CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
            FROM inter JOIN sizes s1 ON id1 = s1.doc_id
                       JOIN sizes s2 ON id2 = s2.doc_id
            WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.9
            ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** Driver-safe vocabulary gate: Some(vocabulary, sorted) iff the distinct
    * token vocabulary has ≤64 entries, None otherwise. Decided from a
    * `limit(65)` probe — 65 rows back means "too big", and the full
    * vocabulary (which may be 10M tokens on a real corpus) is NEVER
    * collected to the driver; ≤64 rows back means the probe IS the whole
    * vocabulary.
    */
  private[operators] def smallVocab(toks: DataFrame): Option[Array[String]] = {
    val probe = toks.select(col("tok")).distinct().limit(65)
      .collect().map(_.getString(0))
    if (probe.length <= 64) Some(probe.sorted) else None
  }

  /** Bucket chunking for triangular tile-salting of a self-equi-join: adds
    * `m` (chunk count of this row's bucket) and `c` (this row's chunk,
    * MONOTONE in `orderCol` — contiguous ranges, so for any pair
    * a < b within a bucket, c(a) ≤ c(b) and the pair lands in exactly one
    * (cL, cR) tile). Callers explode `sequence(c, m-1)` on the left side
    * and `sequence(0, c)` on the right and join on keyCols + (tl, tr):
    * a bucket of m chunks becomes m(m+1)/2 bounded tiles instead of one
    * |bucket|² task. Shared by the minhash band join and the exact-Jaccard
    * inverted-index join — the skew (join-OUTPUT rows ∝ |bucket|²) is
    * invisible to AQE's byte-based skew split in both.
    */
  private[graft] def chunkBuckets(postings: DataFrame, keyCols: Seq[String],
      orderCol: String, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    postings
      .withColumn("m", ceil(count(lit(1)).over(w) / lit(cap.toDouble)).cast("int"))
      .withColumn("c", ((row_number().over(
        w.orderBy(col(orderCol))) - 1) / cap).cast("int"))
  }

  /** Skew-safe self-equi-join of a (doc_id, key, payload...) table on
    * `keyCol`: payload columns come back suffixed 1/2 per side (`h` →
    * `h1`, `h2`), ids as `id1`/`id2`. Below `tileRowBudget` rows this is
    * the plain AQE-convertible join; past it, buckets are
    * triangular-tile-salted ([[chunkBuckets]]). Callers apply their own
    * `id1 < id2` orientation filter — every unordered pair appears in
    * exactly one tile per shared key either way.
    */
  private[graft] def tiledSelfJoin(postings: DataFrame, keyCol: String,
      tileRowBudget: Long = 500000L, chunkCap: Int = 256): DataFrame = {
    val payload = postings.columns.toSeq.filter(c => c != keyCol && c != "doc_id")
    def side(df: DataFrame, n: Int, tileCols: Seq[(String, String)]) =
      df.select((col(keyCol) +: tileCols.map { case (nm, src) => col(src).as(nm) }) ++
        (col("doc_id").as(s"id$n") +: payload.map(c => col(c).as(s"$c$n"))): _*)
    // probe is clamped so a huge budget cannot overflow limit()'s Int arg
    val probeRows = math.min(tileRowBudget, Int.MaxValue - 1L).toInt + 1
    if (postings.limit(probeRows).count() <= tileRowBudget) {
      side(postings, 1, Nil).join(side(postings, 2, Nil), keyCol)
    } else {
      val chunked = chunkBuckets(postings, Seq(keyCol), "doc_id", chunkCap)
      side(chunked.withColumn("tr", explode(expr("sequence(c, m - 1)"))),
          1, Seq("tl" -> "c", "tr" -> "tr"))
        .join(side(chunked.withColumn("tl", explode(expr("sequence(0, c)"))),
          2, Seq("tl" -> "tl", "tr" -> "c")),
          Seq(keyCol, "tl", "tr"))
    }
  }

  /** Shared posting-pair-count engine: self-equi-join a distinct
    * (doc_id, key) posting table and count shared keys per doc pair —
    * the skeleton of every shingle/window/fingerprint pair family
    * (exact-Jaccard tokens, 3-gram shingles, 20-token windows, winnow
    * fingerprints). Hot keys are tile-salted past `tileRowBudget`
    * postings (see [[chunkBuckets]] — a key shared by p docs otherwise
    * serializes p² join-output rows into one task, invisible to AQE's
    * byte-based skew split); below the budget the plain join keeps its
    * AQE-convertible shape. Every (pair, shared key) row arrives exactly
    * once either way (monotone chunks), so the count — the SEMANTIC
    * aggregate — is identical; spec-pinned and oracle hash-checked at
    * each call site.
    */
  private[graft] def postingPairCounts(postings: DataFrame, keyCol: String,
      countName: String, tileRowBudget: Long = 500000L,
      chunkCap: Int = 256): DataFrame =
    tiledSelfJoin(postings.select(col("doc_id"), col(keyCol)), keyCol,
        tileRowBudget, chunkCap)
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as(countName))

  /** (doc_id, mask, sz) token bitmask table — Some iff the distinct
    * vocabulary fits 64 bits ([[smallVocab]]'s limit-65 probe decides,
    * never a driver collect of the vocab). Shared by the exact-Jaccard
    * bitmask fast path and the calibration op's exact-intersection side:
    * with ≤64 tokens, |A ∩ B| is `bit_count(mask1 & mask2)` in whole-stage
    * codegen — one long of state per doc instead of the inverted-index
    * self-join whose intermediate is Σ_tok df(tok)² rows.
    */
  private[operators] def tokenMasks(toks: DataFrame): Option[DataFrame] =
    smallVocab(toks).map { vocab =>
      val bitOf = map(vocab.toSeq.zipWithIndex.flatMap {
        case (t, i) => Seq(lit(t), lit(i))
      }: _*)
      toks
        .withColumn("bit", bitOf(col("tok")))
        .groupBy(col("doc_id"))
        .agg(sum(expr("shiftleft(1L, bit)")).as("mask"),
          count(lit(1)).as("sz"))
    }

  /** Exact Jaccard pair engine behind `llm_jaccard_near_dup` (unit-test
    * seam: `bitmaskRowBudget` forces either physical path; `tau` is the
    * similarity threshold — the default 0.9 serves the near-dup ops, the
    * threshold-sweep op passes its loosest τ and re-filters).
    *
    * The bitmask fast path needs BOTH a ≤64-token vocabulary AND a corpus
    * small enough to broadcast (one (long id, long mask, long sz) triple
    * per doc) — a 10B-doc corpus with a 30-token vocabulary must still
    * take the inverted-index join, not an O(n²) driver-side pair scan; and
    * the ≤64 test itself is made from a `limit(65)` probe ([[smallVocab]]),
    * so a huge vocabulary routes to the join without ever reaching the
    * driver.
    */
  def jaccardPairs(s: SparkSession, toks: DataFrame,
                   bitmaskRowBudget: Long = 2000000L,
                   tileRowBudget: Long = 500000L,
                   chunkCap: Int = 256,
                   tau: Double = 0.9): DataFrame = {
    // the token pipeline feeds several passes (vocab probe, mask build,
    // pair-scan left side) — callers pass it cached
    def invertedIndexPairs: DataFrame = {
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      postingPairCounts(toks.select(col("doc_id"), col("tok")), "tok",
          "inter", tileRowBudget, chunkCap)
        .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "n1"), "id1")
        .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "n2"), "id2")
        .withColumn("jaccard",
          col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
        .filter(col("jaccard") >= tau)
    }
    val pairs = tokenMasks(toks) match {
      case Some(maskDf) =>
        import s.implicits._
        val masks = maskDf
          .as[(Long, Long, Long)]
          .cache()
        if (masks.count() <= bitmaskRowBudget) {
          // one long of state per doc → broadcast-block pair scan with the
          // threshold applied INSIDE the loop (a join-shaped plan pays
          // per-pair row machinery; emitting pre-filter pays the encoder
          // for all n²/2 pairs — both dominate the actual popcount).
          //
          // Size-window pruning keeps the scan off the O(n²) cliff at the
          // budget ceiling: inter ≤ min(n1,n2) and union ≥ max(n1,n2), so
          // jaccard ≥ τ forces min ≥ τ·max — a row only has to scan the
          // block slice with sz ∈ [⌊τ·n1⌋, ⌈n1/τ⌉] (bounds rounded
          // OUTWARD, so the window can only over-include; the exact
          // popcount test inside is unchanged and the emitted pair set is
          // bit-identical — spec-pinned against the inverted-index path).
          // The block is sorted by (sz, doc_id) and the window located by
          // binary search; a degenerate all-equal-sizes corpus keeps the
          // n²/2 worst case, any real size spread prunes proportionally.
          val block = masks.collect().sortBy(t => (t._3, t._1))
          val bc = s.sparkContext.broadcast(block)
          val tauL = tau
          masks.repartition(s.sparkContext.defaultParallelism)
            .flatMap { case (id1, m1, n1) =>
              val blk = bc.value
              val lo = if (tauL > 0) math.floor(tauL * n1).toLong else Long.MinValue
              val hi = if (tauL > 0) math.ceil(n1 / tauL).toLong else Long.MaxValue
              // first index with sz >= lo
              var a = 0
              var b = blk.length
              while (a < b) {
                val mid = (a + b) >>> 1
                if (blk(mid)._3 < lo) a = mid + 1 else b = mid
              }
              Iterator.range(a, blk.length).map(blk)
                .takeWhile(_._3 <= hi)
                .filter(_._1 > id1)
                .flatMap { case (id2, m2, n2) =>
                  val inter = java.lang.Long.bitCount(m1 & m2).toLong
                  val jaccard = inter.toDouble / (n1 + n2 - inter)
                  if (jaccard >= tauL) Some((id1, id2, inter, n1, n2, jaccard))
                  else None
                }
            }
            .toDF("id1", "id2", "inter", "n1", "n2", "jaccard")
        } else invertedIndexPairs
      case None => invertedIndexPairs
    }
    pairs
      .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"), col("jaccard"))
      .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
  }

  /** Token-shingle (3-gram) Jaccard near-dup pairs — the n-gram flavor of
    * the exact path; shingles are far more discriminative than unigrams, so
    * the threshold is lower. Shingling via a higher-order transform over the
    * token array (no UDF); each shingle is immediately collapsed to its
    * 64-bit xxhash64 so the distinct + inverted-index join shuffle fixed
    * 8-byte keys instead of raw 3-gram strings (the 100 TB shuffle shape;
    * a cross-shingle collision would perturb one intersection count with
    * probability ~2^-64 per shingle pair — negligible against the DuckDB
    * oracle, which computes on the raw strings).
    */
  val llmNgramJaccard: Q = Q(
    "llm_ngram_jaccard",
    (s, d) => {
      val sh = Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"))
          .as("sh_raw"))
        .select(col("doc_id"), xxhash64(col("sh_raw")).as("sh"))
        .distinct()
        .cache()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = postingPairCounts(sh, "sh", "inter")
      inter
        .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "n1"), "id1")
        .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "n2"), "id2")
        .withColumn("jaccard",
          col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
        .filter(col("jaccard") >= 0.04)
        .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"), col("jaccard"))
        .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
    },
    Some("""WITH sh AS (
              SELECT DISTINCT doc_id, unnest(list_transform(
                       range(1, len(string_split(text, ' ')) - 1),
                       i -> concat_ws(' ', string_split(text, ' ')[i],
                                           string_split(text, ' ')[i+1],
                                           string_split(text, ' ')[i+2]))) AS sh
              FROM documents),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT id1, id2, inter,
                   s1.sz AS n1, s2.sz AS n2,
                   CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
            FROM inter JOIN sizes s1 ON id1 = s1.doc_id
                       JOIN sizes s2 ON id2 = s2.doc_id
            WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.04
            ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** DuckDB rendering of the k=16 minhash signature table — the md5-prefix
    * hash ([[graft.functions.PortableHash.hash60]]) makes the signatures
    * bit-identical across engines, so the ENTIRE minhash family
    * (candidates, match counts, Jaccard estimates) is hash-checked, not
    * just property-tested. The band condition is stated as the true
    * semantics (some band's 4 rows all equal — rendered as a distinct
    * band-slice equi-join, the same plan shape as the engine); the band
    * HASH the engine shuffles on is a prefilter both paths verify away,
    * so it needs no oracle counterpart.
    */
  private val minhashSigsSql: String = minhashSigsSqlFor("")

  /** The same CTE chain over an optionally filtered document set (the
    * calibration op scopes to the exact-Jaccard shard).
    */
  private def minhashSigsSqlFor(where: String): String = {
    val mins = (0 until 16).map(i =>
      s"min(${graft.functions.PortableHash.duckDbHash60Sql(s"tok || '#$i'")})")
      .mkString(",\n                     ")
    s"""toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents $where),
        sigs AS (SELECT doc_id,
                   [$mins] AS sig
                 FROM toks GROUP BY doc_id),
        banded AS (SELECT doc_id, b,
                          array_to_string(sig[b*4+1:b*4+4], ',') AS slice
                   FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS b) bs),
        cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
                 FROM banded a JOIN banded c
                   ON a.b = c.b AND a.slice = c.slice
                      AND a.doc_id < c.doc_id)"""
  }

  private val minhashPairsOracle: String =
    s"""WITH $minhashSigsSql
        SELECT c.id1, c.id2,
               CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i]))
                    AS BIGINT) AS matching,
               CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i]))
                    AS DOUBLE) / 16 AS est_jaccard
        FROM cand c JOIN sigs s1 ON s1.doc_id = c.id1
                    JOIN sigs s2 ON s2.doc_id = c.id2
        ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""

  /** MinHash + LSH near-dup candidates — the 100 TB path. k=16 min-hashes
    * per doc, banded 4×4: candidate pairs are those equal on ALL 4 rows of
    * some band — no quadratic verification ever materializes at scale (the
    * band key is the shuffle key). Estimated similarity = matching
    * signature fraction. Fully oracle-checked since the portable-hash
    * signature swap ([[minhashSigs]]): the DuckDB oracle rebuilds the
    * identical signatures and band-slice candidates; recall remains
    * property-tested against `llm_jaccard_near_dup` (§5).
    */
  val llmDedupMinhash: Q = Q(
    "llm_dedup_minhash",
    (s, d) => minhashPairs(s, docTokens(s, d),
      precomputedSigs = Some(corpusToksAndSigs(s, d)._2)),
    Some(minhashPairsOracle))

  /** The 100 TB minhash plan forced end-to-end on the real corpus:
    * `broadcastRowBudget = 0` disables the broadcast-block fast path, so
    * this key always runs the (band, band-hash) equi-join — the shape whose
    * shuffle key is the band hash and whose candidate set is ≪ n². The
    * sf-scale corpus otherwise always fits the broadcast budget, which
    * would leave the scale path exercised only by unit tests; LlmOpsSpec
    * proves both paths emit the identical pair set, and this key runs the
    * banded one under the driver's FULL hash gate on corpus data (same
    * oracle as `llm_dedup_minhash` — passing both is the cross-engine
    * proof that the forced shuffle plan changes nothing but the plan).
    */
  val llmDedupMinhashBanded: Q = Q(
    "llm_dedup_minhash_banded",
    (s, d) => minhashPairs(s, docTokens(s, d), broadcastRowBudget = 0L,
      precomputedSigs = Some(corpusToksAndSigs(s, d)._2)),
    Some(minhashPairsOracle))

  /** k=16 minhash signature per doc (shared by the dedup pair engine and
    * the Jaccard estimator): per-seed min over salted token hashes — one
    * hash agg, map-side combinable. The per-seed hash is
    * [[graft.functions.PortableHash.hash60]] (md5-prefix, 60-bit space)
    * rather than xxhash64 so the signatures — and therefore the whole
    * minhash family's pair sets and estimates — reproduce bit-for-bit in
    * the DuckDB oracle; the 60-bit space keeps min-collision bias
    * negligible at any realistic vocabulary (P[collision among m tokens]
    * ≈ m²/2⁶¹). Swap in xxhash64 for raw throughput where oracle
    * portability is not needed; the plan shape is identical.
    */
  private[operators] def minhashSigs(toks: DataFrame): DataFrame = {
    val numHashes = 16
    val sigCols = (0 until numHashes).map(i =>
      min(graft.functions.PortableHash.hash60(
        concat(col("tok"), lit(s"#$i")))).as(s"h$i"))
    toks.groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash candidate-pair engine behind `llm_dedup_minhash` (unit-test
    * seam: `broadcastRowBudget` forces either physical path;
    * `precomputedSigs` lets a caller that already materialized the
    * signatures — the Jaccard estimator — share them instead of paying
    * the corpus hash agg twice).
    *
    * Candidate generation is size-gated: a corpus whose signature side fits
    * a broadcast (numHashes longs per doc) takes the broadcast-block path —
    * band-hash compare + signature match in one primitive loop per pair, no
    * candidate shuffle + distinct. Beyond the budget it switches to the
    * (band, band-hash) equi-join, which IS the 100 TB plan: one shuffle
    * keyed by the band hash, candidate set ≪ n², oversized buckets
    * triangular-tile-salted, and each pair emitted exactly once from its
    * FIRST fully-matching band (native `graft_first_band_match`) — no
    * pair-level distinct and no candidate exchange. Both paths emit the
    * identical pair set (both verify full band equality, band hashes are
    * prefilters only).
    */
  def minhashPairs(s: SparkSession, toks: DataFrame,
                   broadcastRowBudget: Long = 500000L,
                   precomputedSigs: Option[DataFrame] = None,
                   tileRowBudget: Long = 100000L,
                   chunkCap: Int = 256): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val numHashes = 16
    val bands = 4
    val rows = numHashes / bands
    val sigs = precomputedSigs.getOrElse(minhashSigs(toks).cache())
    import s.implicits._
    val sigRows = sigs.select(col("doc_id"), col("sig")).as[(Long, Seq[Long])]
    val nSigs = sigRows.count()
    val pairs =
      if (nSigs <= broadcastRowBudget) {
        val block = sigRows.collect().sortBy(_._1).map { case (id, sig) =>
          val sg = sig.toArray
          val bandHashes = Array.tabulate(bands)(b =>
            java.util.Arrays.hashCode(sg.slice(b * rows, b * rows + rows)))
          (id, sg, bandHashes)
        }
        val bc = s.sparkContext.broadcast(block)
        sigRows.repartition(s.sparkContext.defaultParallelism)
          .flatMap { case (id1, sig1s) =>
            val sig1 = sig1s.toArray
            val bh1 = Array.tabulate(bands)(b =>
              java.util.Arrays.hashCode(sig1.slice(b * rows, b * rows + rows)))
            bc.value.iterator.filter(_._1 > id1).flatMap { case (id2, sig2, bh2) =>
              var cand = false
              var b = 0
              while (!cand && b < bands) {
                if (bh1(b) == bh2(b)) {
                  // band hash equal → verify the band's rows really match
                  var eq = true
                  var j = b * rows
                  while (eq && j < b * rows + rows) { eq = sig1(j) == sig2(j); j += 1 }
                  cand = eq
                }
                b += 1
              }
              if (!cand) None
              else {
                var matching = 0
                var i = 0
                while (i < numHashes) { if (sig1(i) == sig2(i)) matching += 1; i += 1 }
                Some((id1, id2, matching.toLong, matching.toDouble / numHashes))
              }
            }
          }
          .toDF("id1", "id2", "matching", "est_jaccard")
      } else {
        // (band, band-hash) equi-join: explode each signature into its
        // `bands` band slices; the xxhash64 of (band, slice) is the shuffle
        // key, a prefilter — actual band equality is certified post-join
        // by the first-matching-band filter below, which also makes each
        // pair arrive exactly once (no distinct, no pair exchange).
        val banded = sigs.select(col("doc_id"), col("sig"),
          explode(expr(
            s"transform(sequence(0, ${bands - 1}), b -> " +
              s"named_struct('band', b, 'bslice', slice(sig, b * $rows + 1, $rows)))")).as("bb"))
          .select(col("doc_id"), col("sig"),
            col("bb.band").as("band"), col("bb.bslice").as("bslice"))
          .withColumn("bh", xxhash64(col("band"), col("bslice")))
        // Triangular tile-salting of oversized band buckets, size-gated.
        // A dense corpus puts thousands of docs behind ONE (band,
        // band-hash) key, and an equi-join computes each key's |bucket|²
        // candidate cross product in a SINGLE task — AQE's skew split
        // cannot rescue it because its detection is shuffle-BYTE-based
        // and this skew is in join OUTPUT rows, not input bytes (measured
        // in the k=30 scale rehearsal: max-task ≈ wall, 4× throughput
        // loss). Fix: chunk each bucket into contiguous doc-id ranges of
        // ≤ chunkCap and join on (band, bh, tileL, tileR) — a bucket of m
        // chunks becomes m(m+1)/2 independent tiles of bounded work.
        // Chunk ids are MONOTONE in doc_id (contiguous ranges, not
        // round-robin), so for any pair id1 < id2, chunk(id1) ≤
        // chunk(id2) and the pair materializes in exactly one tile — the
        // id1 < id2 filter then dedups within the diagonal tile exactly
        // as before; the emitted pair set is bit-identical (oracle
        // hash-checked both ways).
        //
        // The tileRowBudget gate exists because tiling is NOT free at
        // small scale: the chunk window + 4-column join key pushed the
        // build side past AQE's runtime broadcast threshold in the k=10
        // rehearsal, trading a broadcast-converted join (which spreads
        // the pair explosion across every probe task by construction —
        // 5.5 s) for a tiled SMJ (24.7 s). Below the gate the corpus is
        // broadcast-convertible and AQE already distributes the
        // explosion; past it the join is SMJ no matter what and tiling
        // is what keeps bucket skew off the critical path (k=30: 63.7 s
        // untiled → 38.7 s tiled, max task 47.9 s → 23.3 s).
        // the band slices themselves don't ride the join: the
        // first-matching-band filter below verifies band equality from
        // the full signatures, so shuffling bs per candidate row would
        // be dead payload on the join's hottest path
        val (a, b, joinKeys) = if (nSigs <= tileRowBudget) {
          (banded.select(col("band"), col("bh"),
            col("doc_id").as("id1"), col("sig").as("sig1")),
           banded.select(col("band"), col("bh"),
            col("doc_id").as("id2"), col("sig").as("sig2")),
           Seq("band", "bh"))
        } else {
          val chunked = chunkBuckets(banded, Seq("band", "bh"), "doc_id", chunkCap)
          (chunked
            .withColumn("tr", explode(expr("sequence(c, m - 1)")))
            .select(col("band"), col("bh"), col("c").as("tl"), col("tr"),
              col("doc_id").as("id1"), col("sig").as("sig1")),
           chunked
            .withColumn("tl", explode(expr("sequence(0, c)")))
            .select(col("band"), col("bh"), col("tl"), col("c").as("tr"),
              col("doc_id").as("id2"), col("sig").as("sig2")),
           Seq("band", "bh", "tl", "tr"))
        }
        // Duplicate suppression WITHOUT a pair shuffle: a pair surfaces
        // once per matching band, and the old distinct/groupBy dedup
        // exchanged every candidate row (2.3 GB / 193 M rows at the k=30
        // rehearsal, the op's single largest cost). Keeping only the row
        // whose band IS the pair's first fully-matching band retains
        // exactly one representative per pair by construction — no
        // exchange, and it subsumes the bs1 = bs2 band verification (a
        // band-hash collision can never equal the first MATCHING band).
        // Both native expressions are codegen'd, evaluated once per
        // candidate row. Emitted pair set is bit-identical
        // (oracle hash-checked).
        a.join(b, joinKeys)
          .filter(col("id1") < col("id2") &&
            expr(s"graft_first_band_match(sig1, sig2, $rows)") === col("band"))
          .select(col("id1"), col("id2"),
            expr("graft_sig_match(sig1, sig2)").as("matching"))
          .withColumn("est_jaccard",
            col("matching").cast(DoubleType) / lit(numHashes.toDouble))
      }
    pairs.orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
  }

  /** SimHash near-dup: 60-bit per-doc fingerprint (sign of per-bit sums
    * of md5-prefix token hashes — [[graft.functions.VectorMath.simhash60]]),
    * then ALL pairs with Hamming distance ≤ 3 — found completely via
    * 4×16-bit chunk banding (pigeonhole: ≤3 differing bits cannot hit
    * all 4 chunks), so the quadratic scan is replaced by an equi-join on
    * (chunk, value) with exact post-verification by `bit_count(xor)`.
    * Fully oracle-checked since the portable-hash fingerprint swap
    * (r19): the DuckDB oracle rebuilds every fingerprint and pair from
    * first principles ([[simhashPairsSql]]); the codegen'd native
    * expression stays the engine path, spec-pinned bit-equal to the
    * reference implementation.
    */
  val llmDedupSimhash: Q = Q(
    "llm_dedup_simhash",
    (s, d) => simhashPairs(s, d)
      .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2")),
    Some(simhashPairsSql(3) +
      """ SELECT id1, id2, hamming FROM pairs
          ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** Cached entry point: SIX registry ops consume the pair table
    * (simhash dedup, cluster resolution, the four graph ops), and each
    * recomputing the corpus-scan + hashing subtree is exactly the
    * repeated-shared-subtree shape the scan audit exists to prevent —
    * a production pipeline materializes the pair table once and fans
    * out. Session-scoped in [[graft.util.Memo]] per (corpus, radius); the
    * memo holds a lazy `.cache()`d plan, so the first consumer
    * materializes and the rest read memory.
    */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame =
    Memo.session(s, d, s"simhash_pairs/$maxHamming") {
      computeSimhashPairs(s, d, maxHamming).cache()
    }

  /** Unsorted simhash Hamming≤`maxHamming` pair engine — shared by the
    * registered op (which adds the presentation sort) and the
    * cluster-resolution op (which treats the pairs as an edge list, where
    * a sort is wasted work). The 4×16-bit chunk banding is COMPLETE for
    * Hamming ≤ 3 (pigeonhole: ≤3 flipped bits cannot touch all 4
    * chunks); radii 4–5 are recall-approximate through the same chunk
    * join (a pair differing in all four chunks is never a candidate) —
    * acceptable for consumers that only need a denser candidate graph
    * (link prediction), NOT for the dedup ops, which stay at the
    * complete ≤3 default.
    */
  private def computeSimhashPairs(s: SparkSession, d: String,
                                  maxHamming: Int): DataFrame = {
    val sims = simhashes(s, d)
    val chunked = sims.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), " +
        "c -> named_struct('chunk', c, 'v', (simhash >> (c * 16)) & 65535))")).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.v").as("v"))
    // first-matching-chunk duplicate suppression (same trick as the
    // minhash band join): a pair is a candidate once per equal chunk, so
    // keeping only the row whose chunk IS the pair's lowest equal chunk
    // replaces the distinct() — which exchanged every candidate row —
    // with a codegen'd bit test and no shuffle at all. Every candidate
    // has ≥1 equal chunk by construction of the join, so the CASE always
    // hits; the emitted pair set is bit-identical (oracle hash-checked).
    val firstChunk = "CASE " + (0 until 4).map(c =>
      s"WHEN ((sh1 ^ sh2) & ${65535L << (c * 16)}L) = 0 THEN $c").mkString(" ") +
      " END"
    chunked.select(col("chunk"), col("v"), col("doc_id").as("id1"), col("simhash").as("sh1"))
      .join(chunked.select(col("chunk"), col("v"), col("doc_id").as("id2"), col("simhash").as("sh2")),
        Seq("chunk", "v"))
      .filter(col("id1") < col("id2") && col("chunk") === expr(firstChunk))
      .select(col("id1"), col("id2"),
        expr("CAST(bit_count(sh1 ^ sh2) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** DuckDB rendering of the simhash fingerprint table and the
    * chunk-banded Hamming-pair set — portable since [[simhashes]] moved
    * to the md5-prefix token hash ([[graft.functions.VectorMath.tokenHash60]]).
    * The oracle rebuilds the fingerprints from first principles (per-token
    * md5-prefix hash → ±1 per-bit votes → sign), then states the pair
    * condition EXACTLY as the engine computes it: Hamming ≤ radius AND
    * at least one equal 16-bit chunk. For radius ≤3 the chunk disjunct
    * is implied (pigeonhole) and merely mirrors the plan; for radius 4–5
    * it is load-bearing — the banding is recall-approximate there and
    * the oracle must state the banded subset, not the brute-force truth.
    * Degenerate docs mirror the engine exactly: NULL text → NULL
    * fingerprint → excluded from the chunk join (the WHERE on `fp`);
    * token-less non-NULL text → fingerprint 0, participating (the
    * coalesce). Ends with `pairs AS (...)` so the exact-Jaccard graph
    * oracles' SQL tails drop in unchanged.
    */
  private[operators] def simhashPairsSql(maxHamming: Int): String = {
    val chunkEq = (0 until 4).map(c =>
      s"((a.sh >> ${c * 16}) & 65535) = ((b.sh >> ${c * 16}) & 65535)")
      .mkString("\n                          OR ")
    s"""WITH toksr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                       FROM documents),
        toks AS (SELECT doc_id, tok FROM toksr WHERE tok <> ''),
        th AS (SELECT doc_id,
                      ${graft.functions.PortableHash.duckDbHash60Sql("tok")} AS h
               FROM toks),
        bits AS (SELECT doc_id, b,
                        sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
                 FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bs
                 GROUP BY doc_id, b),
        fp0 AS (SELECT doc_id,
                       bit_or(CASE WHEN c > 0
                              THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                              ELSE CAST(0 AS BIGINT) END) AS sh
                FROM bits GROUP BY doc_id),
        fp AS (SELECT d.doc_id, coalesce(f.sh, CAST(0 AS BIGINT)) AS sh
               FROM documents d LEFT JOIN fp0 f USING (doc_id)
               WHERE d.text IS NOT NULL),
        pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                         CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
                  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.sh, b.sh)) <= $maxHamming
                    AND ($chunkEq))"""
  }

  /** Near-dup cluster resolution — the step every dedup pipeline ends
    * with: fold the pairwise near-dup graph (the exact-Jaccard τ=0.9
    * pairs on the deterministic `doc_id % 5 = 1` shard, the same cached
    * [[shardedJaccardPairs]] edge set five other registry keys consume)
    * into connected components and keep ONE representative (the minimum
    * doc_id) per component. Every shard document appears in the output
    * with its cluster id and a `keep` decision; singletons keep
    * themselves.
    *
    * Physical shape: Pregel-style min-label propagation on DataFrames —
    * per round, one (edge ⋈ label) shuffle + a min-aggregation, with a
    * lineage-truncating materialization per round ([[graft.util.Checkpoints]]:
    * `localCheckpoint` by default, reliable `checkpoint` under
    * `spark.graft.reliableCheckpoints=true` for executor-loss survival). Rounds =
    * graph diameter (near-dup components are shallow; the corpus
    * converges in ≤3). For extreme scale / high-diameter graphs the
    * large-star/small-star contraction of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SOCC'14) is IMPLEMENTED as
    * [[dedupClusterRepStar]] — O(log² n) rounds independent of diameter,
    * spec-proven to emit the identical cluster table on the real pair
    * set (the propagation/union-find/star trio stays spec-exercised on
    * the full-corpus simhash graph too, via LlmOpsSpec/GraphOpsSpec).
    * Fully ORACLE-CHECKED since r19: the DuckDB oracle reproduces the
    * components with the same recursive-CTE min-label closure
    * `llm_dedup_keep_best` proved terminates on this shard (the shard
    * bounds the closure's quadratic clique blow-up; the engine path is
    * the identical full machinery at any scale).
    */
  val llmDedupClusterRep: Q = Q(
    "llm_dedup_cluster_rep",
    (s, d) => {
      val pairs = shardedJaccardPairs(s, d)
      val docs = Tables.read(s, d, "documents")
        .filter(col("doc_id") % lit(5) === 1).select(col("doc_id"))
      dedupClusterRep(pairs, docs)
    },
    // same closure skeleton as llm_dedup_keep_best's oracle; the
    // `cc.label < e.src` guard prunes useless closure rows
    Some("""WITH RECURSIVE
            docs AS (SELECT * FROM documents WHERE doc_id % 5 = 1),
            toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                     FROM docs),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                             CAST(COUNT(*) AS BIGINT) AS inter
                      FROM toks a JOIN toks b
                        ON a.tok = b.tok AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
            pairs AS (SELECT id1, id2 FROM inter
                      JOIN sizes s1 ON id1 = s1.doc_id
                      JOIN sizes s2 ON id2 = s2.doc_id
                      WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.9),
            edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                      UNION SELECT id2 AS src, id1 AS dst FROM pairs),
            cc AS (SELECT doc_id AS node, doc_id AS label FROM docs
                   UNION
                   SELECT e.src AS node, cc.label FROM edges e JOIN cc ON cc.node = e.dst
                   WHERE cc.label < e.src),
            lab AS (SELECT node AS doc_id, min(label) AS cluster FROM cc GROUP BY node),
            csz AS (SELECT cluster, COUNT(*) AS cluster_size FROM lab GROUP BY cluster)
            SELECT l.doc_id, l.cluster,
                   CAST(csz.cluster_size AS BIGINT) AS cluster_size,
                   l.doc_id = l.cluster AS keep
            FROM lab l JOIN csz USING (cluster)
            ORDER BY l.doc_id NULLS FIRST"""))

  /** Quality-aware cluster resolution, fully ORACLE-CHECKED — the keep
    * policy production dedup actually ships (keep the HIGHEST-QUALITY
    * member of each near-dup cluster, not the smallest id): exact-Jaccard
    * pairs ([[jaccardPairs]], deterministic) → connected components
    * ([[dedupClusterRep]]: budget-gated union-find / min-label
    * propagation, min-id cluster labels) → per-cluster rank by
    * (quality DESC, doc_id). This upgrades the cluster step of the dedup
    * family from spec-only to hash-checked: the DuckDB oracle reproduces
    * the components with a recursive-CTE min-label closure over the SAME
    * portable edge set, so every cluster id, size, and keep decision is
    * compared bit-for-bit. (The sibling `llm_dedup_cluster_rep` stays the
    * scale demonstration on banded simhash pairs, which are not
    * SQL-portable.) At 100 TB the added policy cost is one window over
    * the cluster table — tiny next to the pair join that feeds it.
    *
    * Scoped to the deterministic `doc_id % 5 = 1` shard: the oracle's
    * ground-truth closure is inherently quadratic in clique size, and
    * this corpus's synthetic template families grow into ~2000-member
    * near-dup cliques at sf0.1 (≈1M exact-Jaccard pairs) — the
    * full-corpus closure does not terminate in useful time, which is
    * precisely why the ENGINE resolves components with union-find /
    * propagation / star-contraction instead of transitive closure. The
    * shard keeps the oracle at seconds for every sf while the engine
    * path being checked is the identical full machinery.
    */
  val llmDedupKeepBest: Q = Q(
    "llm_dedup_keep_best",
    (s, d) => {
      val shard = col("doc_id") % lit(5) === 1
      val pairs = shardedJaccardPairs(s, d)
      val docs = Tables.read(s, d, "documents").filter(shard).select(col("doc_id"))
      val clusters = dedupClusterRep(pairs, docs)
        .select(col("doc_id"), col("cluster"), col("cluster_size"))
      val q = qualityScored(s, d).select(col("doc_id"), col("quality"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      clusters.join(q, "doc_id")
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          col("quality"), (col("rk") === 1).as("keep"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    // the `cc.label < e.src` guard prunes useless closure rows (a label
    // ≥ the receiving node can never be its component minimum — the node
    // already holds itself)
    Some("""WITH RECURSIVE
            docs AS (SELECT * FROM documents WHERE doc_id % 5 = 1),
            toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                     FROM docs),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                             CAST(COUNT(*) AS BIGINT) AS inter
                      FROM toks a JOIN toks b
                        ON a.tok = b.tok AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
            pairs AS (SELECT id1, id2 FROM inter
                      JOIN sizes s1 ON id1 = s1.doc_id
                      JOIN sizes s2 ON id2 = s2.doc_id
                      WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.9),
            edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                      UNION SELECT id2 AS src, id1 AS dst FROM pairs),
            cc AS (SELECT doc_id AS node, doc_id AS label FROM docs
                   UNION
                   SELECT e.src AS node, cc.label FROM edges e JOIN cc ON cc.node = e.dst
                   WHERE cc.label < e.src),
            lab AS (SELECT node AS doc_id, min(label) AS cluster FROM cc GROUP BY node),
            csz AS (SELECT cluster, COUNT(*) AS cluster_size FROM lab GROUP BY cluster),
            q AS (SELECT doc_id,
                         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                                 / len(string_split(text, ' ')) * 0.4
                               + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                    x -> x = 'the' OR x = 'a')) AS DOUBLE)
                                    / len(string_split(text, ' '))) * 0.3
                               + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0,
                                       1.0) * 0.3,
                               6) AS quality
                  FROM documents),
            r AS (SELECT l.doc_id, l.cluster, csz.cluster_size, q.quality,
                         row_number() OVER (PARTITION BY l.cluster
                                            ORDER BY q.quality DESC, l.doc_id) AS rk
                  FROM lab l JOIN csz USING(cluster) JOIN q USING(doc_id))
            SELECT doc_id, cluster, CAST(cluster_size AS BIGINT) AS cluster_size,
                   quality, rk = 1 AS keep
            FROM r ORDER BY doc_id NULLS FIRST"""))

  /** Component engine behind `llm_dedup_cluster_rep` (unit-test seam).
    *
    * Two paths behind one contract (the same budget-gated duality as the
    * minhash op): a banded near-dup pair graph is SPARSE relative to the
    * corpus, so when one cheap `count()` shows it fits the driver budget,
    * the components resolve by an in-driver union-find over the collected
    * edge list (microseconds, zero iterative jobs) and rejoin as a
    * created label table. Past the budget — the genuine 100 TB regime —
    * the distributed min-label propagation loop below runs instead
    * (or [[dedupClusterRepStar]] for high-diameter graphs). Both paths
    * are spec-proven row-identical.
    *
    * Propagation runs ONLY over nodes that appear in a pair — singletons
    * can never change label, so the per-round joins scale with the
    * near-dup subgraph, not the corpus; singletons rejoin (label = own
    * id, size 1) in the final projection. Each round materializes once
    * (`Checkpoints.truncate`, also truncating lineage) and the convergence
    * check scans that materialized result — no extra shuffle.
    */
  def dedupClusterRep(pairs: DataFrame, nodes: DataFrame,
                      maxRounds: Int = 20,
                      driverBudget: Long = 2000000L): DataFrame = {
    // materialize the pair plan ONCE — the gate's count() and the
    // fast path's collect() must not re-execute the pair self-join
    val p0 = pairs.select(col("id1"), col("id2")).truncated
    if (driverBudget > 0 && p0.count() <= driverBudget) {
      val s = p0.sparkSession
      val edges = p0.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find + path compression: a chain-shaped component under
      // the edge budget must not overflow the driver stack
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
          parent(hi) = lo
        }
      }
      val keys = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
      import s.implicits._
      val labels = keys.map(k => (k, find(k))).toDF("id", "label")
      return resolveClusters(labels, nodes)
    }
    distributedClusterRep(p0, nodes, maxRounds)
  }

  /** The distributed min-label-propagation path (beyond-budget pair
    * graphs; also a direct unit-test seam).
    */
  private[operators] def distributedClusterRep(
      pairs: DataFrame, nodes: DataFrame, maxRounds: Int = 20): DataFrame = {
    // materialize the pair plan ONCE before the union references it twice
    val p = pairs.truncated
    val edges = p.select(col("id1").as("src"), col("id2").as("dst"))
      .union(p.select(col("id2").as("src"), col("id1").as("dst")))
      .truncated
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .truncated
    // one propagation hop, lazily; carries the round-start label in `old`
    def propagate(lbl: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(lbl.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src")).agg(min(col("nl")).as("nmin"))
      lbl.join(neighborMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
    }
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // two propagation hops per materialization: halves the checkpoint +
      // convergence-action count, and a round covers a 2-hop neighborhood
      val next = propagate(propagate(labels.withColumn("old", col("label"))))
        .truncated
      converged = next.filter(col("label") < col("old")).isEmpty
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    // never return silently-unconverged (wrong) cluster labels
    require(converged,
      s"cluster label propagation did not converge in $maxRounds rounds")
    resolveClusters(labels, nodes)
  }

  /** Shared final projection of both component engines: singletons rejoin
    * (label = own id), cluster sizes are counted, and the minimum doc of
    * each cluster is the `keep` representative.
    */
  private def resolveClusters(labels: DataFrame, nodes: DataFrame): DataFrame = {
    val resolved = nodes.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"))
    val sizes = resolved.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    resolved.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("cluster")).as("keep"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., SOCC'14) — the beyond-propagation scale path:
    * round count is O(log² n) INDEPENDENT of graph diameter, so a 100 TB
    * chain-shaped near-dup graph converges in ~a dozen rounds where
    * min-label propagation needs diameter rounds.
    *
    * Each round is two passes over the edge list, both plain
    * shuffle-agg-join shapes:
    *   - large-star: for every node u with m = min(N(u) ∪ u), re-hang
    *     every STRICTLY LARGER neighbor v > u onto m;
    *   - small-star: orient edges toward the larger endpoint; for every
    *     node u with smaller-neighbor set N⁻(u) and m = min(N⁻(u)),
    *     re-hang u and all of N⁻(u) \ m onto m.
    * The fixpoint is a star forest: every edge is (node → component
    * minimum). Convergence is checked on a cheap deterministic edge-set
    * signature (count + sum of xxhash64 pairs) over the materialized
    * round result — no extra shuffle beyond the round itself.
    */
  private[operators] def dedupClusterRepStar(pairs: DataFrame, nodes: DataFrame,
                                             maxRounds: Int = 30): DataFrame = {
    var edges = pairs
      .select(col("id1").as("u"), col("id2").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .truncated

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val hangNeighbors = oriented.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val hangSelf = m.select(col("u"), col("m").as("v"))
      hangNeighbors.union(hangSelf).distinct()
    }

    // hashes masked to 32 bits before the sum: ANSI long-overflow-safe up
    // to ~2^31 edges
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).bitwiseAND(lit(4294967295L))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).truncated
      val nextSig = signature(next)
      converged = nextSig == sig
      edges = next
      sig = nextSig
      round += 1
    }
    require(converged,
      s"star contraction did not converge in $maxRounds rounds")
    // fixpoint edges are (node → component min); roots label themselves
    val labels = edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")))
      .distinct()
    resolveClusters(labels, nodes)
  }

  /** 60-bit simhash per document: sum ±1 per bit position over
    * md5-prefix token hashes (weighted by token multiplicity), take the
    * sign bit-vector — DuckDB-portable since r19 (see
    * [[graft.functions.VectorMath.tokenHash60]]).
    * One primitive-loop kernel per document — the equivalent
    * higher-order-function pipeline (per-token 64-element bit arrays,
    * element-wise array sums) evaluates a lambda tree per element and is
    * ~50× slower. The kernel runs as the native codegen'd
    * [[graft.functions.Simhash60]] expression (bit-identical to
    * `VectorMath.simhash60`; no ScalaUDF in the plan).
    */
  def simhashes(s: SparkSession, d: String): DataFrame =
    simhashOf(Tables.read(s, d, "documents"))

  /** Simhash over any (doc_id, text) DataFrame (unit-test seam). */
  def simhashOf(docs: DataFrame): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), expr("graft_simhash60(text)").as("simhash"))
  }

  // --------------------------------------------------- similarity search

  /** Exact cosine building block: left-to-right double summation over the
    * float vectors (cast-to-double per element is exact; identical reduction
    * order in the DuckDB oracle's list_transform + list_sum). Backed by the
    * native codegen'd [[graft.functions.CosineSimilarity]] expression
    * (registered idempotently on the passed session) — stays inside
    * whole-stage codegen, unlike a UDF.
    */
  private def cosineCols(s: SparkSession)(vec: String, qvec: String): Column = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    expr(s"graft_cosine($vec, $qvec)")
  }

  /** Brute-force cosine top-k against a query vector (vec_id 0) — the exact
    * ANN baseline. Broadcast the 1-row query side; ranking on the ROUNDED
    * score + vec_id tiebreak so the top-k cut is stable cross-engine
    * (§2.0 rule 7).
    */
  val llmCosineTopk: Q = Q(
    "llm_cosine_topk",
    (s, d) => {
      val e = Tables.read(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("score", round(cosineCols(s)("embedding", "qvec"), 4))
        .select(col("vec_id"), col("label"), col("score"))
        .orderBy(desc_nulls_first("score"), asc_nulls_first("vec_id"))
        .limit(10)
    },
    Some("""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id, label,
                     round(
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, 65),
                            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(range(1, 65),
                            i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))), 4) AS score
              FROM embeddings, q WHERE vec_id <> 0)
            SELECT vec_id, label, score FROM scored
            ORDER BY score DESC NULLS FIRST, vec_id NULLS FIRST LIMIT 10"""))

  /** MMR (maximal-marginal-relevance, Carbonell & Goldstein SIGIR'98)
    * diversified top-k — the selection step a training-data curator runs
    * INSTEAD of plain cosine top-k when near-duplicate hits would waste
    * the budget: greedily pick 8 of the top-20 candidates maximizing
    * `0.7·rel(c,q) − 0.3·max_{s∈S} sim(c,s)` (relevance minus redundancy
    * against what is already selected).
    *
    * Scale shape: ALL corpus-sized work is distributed — the candidate
    * pool is `TakeOrderedAndProject` over the full embedding table (the
    * `llm_cosine_topk` plan) and the pairwise sims are a k×k self-join of
    * the 20-row pool; only the inherently sequential greedy loop runs on
    * the driver, over O(k²) collected doubles — bounded by the SELECTION
    * budget (k is the knob), never by the corpus, the same driver-state
    * budget class as `dedupClusterRep`'s fast path. Determinism: rel and
    * sims are 4-dp-rounded before the greedy (so the argmax compares
    * identical doubles cross-engine), each MMR score is one double
    * expression rounded to 6 dp, ties break by vec_id. The DuckDB oracle
    * replays the greedy as a recursive CTE whose LATERAL picks the
    * best-scored remaining candidate per step.
    */
  val llmMmrDiversify: Q = Q(
    "llm_mmr_diversify",
    (s, d) => {
      import s.implicits._
      val e = Tables.read(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      // a NULL cosine (null/zero-norm vector) is not a rankable candidate
      // — excluded EXPLICITLY on both sides so neither engine's null-sort
      // default decides the pool (§2.0 rule 1 discipline)
      val rel = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("rel", round(cosineCols(s)("embedding", "qvec"), 4))
        .filter(col("rel").isNotNull)
        .select(col("vec_id"), col("embedding"), col("rel"))
        .orderBy(desc("rel"), asc_nulls_first("vec_id"))
        .limit(20)
        .truncated // pool feeds both self-join sides and the collect
      val sims = rel.select(col("vec_id").as("id1"), col("embedding").as("e1"))
        .join(broadcast(rel.select(col("vec_id").as("id2"), col("embedding").as("e2"))),
          col("id1") =!= col("id2"))
        .select(col("id1"), col("id2"), round(cosineCols(s)("e1", "e2"), 4).as("sim"))
      val cand = rel.select(col("vec_id"), col("rel")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val simMap = sims.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // a short pool (tiny corpus, or no vec_id-0 query row) yields fewer
      // than 8 rows, exactly as the oracle's recursion just stops
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double, Option[Double], Double)]
      if (cand.nonEmpty) {
        val first = cand.maxBy { case (id, rl) => (rl, -id) }
        var selected = List(first._1)
        out += ((1L, first._1, first._2, None, first._2))
        (2 to math.min(8, cand.length)).foreach { rnk =>
          val best = cand.filterNot(c => selected.contains(c._1))
            .map { case (id, rl) =>
              val ms = selected.map(sid => simMap((id, sid))).max
              (id, rl, ms, r6(0.7 * rl - 0.3 * ms))
            }
            .maxBy { case (id, _, _, score) => (score, -id) }
          selected = selected :+ best._1
          out += ((rnk.toLong, best._1, best._2, Some(best._3), best._4))
        }
      }
      out.toSeq.toDF("rnk", "vec_id", "rel", "max_sim", "score")
        .orderBy(asc("rnk"))
    },
    Some("""WITH RECURSIVE
            q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
            rel0 AS (SELECT vec_id,
                           round(
                             list_sum(list_transform(range(1, 65),
                               i -> CAST(embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
                             / (sqrt(list_sum(list_transform(range(1, 65),
                                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                              * sqrt(list_sum(list_transform(range(1, 65),
                                  i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))), 4) AS rel
                    FROM embeddings, q WHERE vec_id <> 0),
            rel AS (SELECT vec_id, rel FROM rel0 WHERE rel IS NOT NULL
                    ORDER BY rel DESC, vec_id NULLS FIRST LIMIT 20),
            cand AS (SELECT e.vec_id, e.embedding, r.rel
                     FROM embeddings e JOIN rel r USING (vec_id)),
            sims AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                            round(
                              list_sum(list_transform(range(1, 65),
                                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                              / (sqrt(list_sum(list_transform(range(1, 65),
                                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                               * sqrt(list_sum(list_transform(range(1, 65),
                                   i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 4) AS sim
                     FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
            mmr AS (
              (SELECT 1 AS rnk, vec_id, rel, CAST(NULL AS DOUBLE) AS max_sim,
                      rel AS score, [vec_id] AS selected
               FROM rel ORDER BY rel DESC, vec_id NULLS FIRST LIMIT 1)
              UNION ALL
              SELECT m.rnk + 1, pick.vec_id, pick.rel, pick.ms, pick.score,
                     list_append(m.selected, pick.vec_id)
              FROM mmr m, LATERAL (
                SELECT r.vec_id, r.rel,
                       (SELECT max(s.sim) FROM sims s
                        WHERE s.id1 = r.vec_id AND list_contains(m.selected, s.id2)) AS ms,
                       round(0.7 * r.rel - 0.3 * (SELECT max(s.sim) FROM sims s
                         WHERE s.id1 = r.vec_id AND list_contains(m.selected, s.id2)), 6) AS score
                FROM rel r
                WHERE NOT list_contains(m.selected, r.vec_id)
                ORDER BY score DESC, r.vec_id NULLS FIRST LIMIT 1) pick
              WHERE m.rnk < 8)
            SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, rel, max_sim, score
            FROM mmr ORDER BY rnk"""))

  /** Embedding-cosine near-dup pairs (exact, all-pairs ground truth;
    * the banded `llm_ann_lsh_topk` bucketing is the scale path). Threshold
    * on the rounded score keeps the cut cross-engine stable.
    *
    * Physical plan: tiled broadcast-block nested loop ([[embedCosinePairs]])
    * — the vector side (with precomputed norms) broadcasts one bounded
    * block at a time, each partition streams its rows against the in-memory
    * block in a primitive loop; no per-pair array (de)serialization, which
    * is what makes a join-per-pair plan ~50× slower.
    */
  val llmEmbedCosineDup: Q = Q(
    "llm_embed_cosine_dup",
    (s, d) => {
      import s.implicits._
      val e = Tables.read(s, d, "embeddings")
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      embedCosinePairs(s, e)
    },
    Some("""SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(range(1, 65),
                          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(range(1, 65),
                          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 4) AS score
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(range(1, 65),
                          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(range(1, 65),
                          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 4) >= 0.35
            ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** All-pairs exact cosine engine behind `llm_embed_cosine_dup` (unit-test
    * seam: `blockRows` forces the tiled path).
    *
    * The broadcast side is TILED: ids are hash-partitioned into
    * ceil(n / blockRows) blocks, each block broadcasts alone, and every
    * block does one pass of the (cached) corpus in a primitive loop — the
    * block-nested-loop shape. Peak driver/executor memory is one block, not
    * the corpus, so the exact baseline degrades gracefully instead of
    * hard-collecting; the blocks partition the id space, so each unordered
    * pair is emitted exactly once and the result is byte-identical to the
    * single-block plan. (Past ~10 blocks of useful size, prefer the LSH
    * bucketed op — n²/blockRows passes stop paying.)
    */
  def embedCosinePairs(s: SparkSession,
                       e: org.apache.spark.sql.Dataset[(Long, Array[Float])],
                       blockRows: Long = 500000L): DataFrame = {
    import s.implicits._
    val left = e.repartition(s.sparkContext.defaultParallelism).cache()
    val n = left.count()
    val nBlocks = math.max(1L, (n + blockRows - 1) / blockRows).toInt
    val parts = (0 until nBlocks).map { blk =>
      val block = left.filter(_._1 % nBlocks == blk).collect().sortBy(_._1)
        .map { case (id, v) => (id, v, graft.functions.VectorMath.normD(v)) }
      val bc = s.sparkContext.broadcast(block)
      left.flatMap { case (id1, v1) =>
        val n1 = graft.functions.VectorMath.normD(v1)
        bc.value.iterator
          .filter(_._1 > id1)
          .map { case (id2, v2, n2) =>
            val score = java.math.BigDecimal
              .valueOf(graft.functions.VectorMath.dotD(v1, v2) / (n1 * n2))
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            (id1, id2, score)
          }
          .filter(_._3 >= 0.35)
      }.toDF("id1", "id2", "score")
    }
    parts.reduce(_ union _)
      .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
  }

  /** DuckDB rendering of the sign-LSH bucket table `bk(vec_id, bucket)` —
    * portable since [[graft.functions.VectorMath.planeComponent]] moved
    * to the md5-prefix derivation: the oracle rebuilds each plane's ±1
    * component row (one small `pm` CTE of $nBits × 64 md5 calls), then
    * computes every bucket bit as the sign of the SAME left-to-right
    * double dot product the engine's codegen loop runs (`list_sum` over
    * `list_transform(range, ...)` — the ordered-reduction idiom the
    * cosine oracle already relies on). CTE fragment (no leading WITH),
    * for composition into the consuming oracles.
    */
  private def lshBucketSql(nBits: Int): String =
    s"""pm AS (SELECT b, list(CASE WHEN
                     ${graft.functions.PortableHash.duckDbHash60Sql("b || '#' || i")}
                       & 1 = 1
                     THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
                     ORDER BY i) AS ws
              FROM (SELECT unnest(range(0, $nBits)) AS b) bs
              CROSS JOIN (SELECT unnest(range(0, 64)) AS i) dims
              GROUP BY b),
        bb AS (SELECT e.vec_id, p.b,
                      list_sum(list_transform(range(1, 65),
                        i -> CAST(e.embedding[i] AS DOUBLE) * p.ws[i])) AS s
               FROM embeddings e CROSS JOIN pm p),
        bk AS (SELECT vec_id,
                      bit_or(CASE WHEN s > 0
                             THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                             ELSE CAST(0 AS BIGINT) END) AS bucket
               FROM bb GROUP BY vec_id)"""

  /** Exact-cosine SQL over two 64-dim float columns `$a`/`$b` — the
    * left-to-right reduction the engine's `graft_cosine` kernel runs
    * (same formula as the `llm_cosine_topk` oracle).
    */
  private def cosineSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, 65),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, 65),
             i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, 65),
             i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))"""

  /** Shared oracle for both banded-LSH embedding near-dup keys (the
    * broadcast and forced-shuffle resolves emit identical rows — both
    * hash-checking against ONE statement is the cross-engine form of
    * the path-equivalence spec): bucket table → 8×4-bit band explode →
    * distinct band-collision candidates (the engine's first-matching-band
    * filter is exactly a per-pair dedup, so DISTINCT states it) → exact
    * cosine re-score ≥ τ.
    */
  private val embedLshPairsOracle: String =
    s"""WITH ${lshBucketSql(32)},
        banded AS (SELECT vec_id, t, (bucket >> (t * 4)) & 15 AS band
                   FROM bk CROSS JOIN (SELECT unnest(range(0, 8)) AS t) ts),
        cand AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
                 FROM banded a JOIN banded c
                   ON a.t = c.t AND a.band = c.band AND a.vec_id < c.vec_id),
        sc AS (SELECT cand.id1, cand.id2,
                      round(${cosineSql("e1.embedding", "e2.embedding")}, 4)
                        AS score
               FROM cand
               JOIN embeddings e1 ON e1.vec_id = cand.id1
               JOIN embeddings e2 ON e2.vec_id = cand.id2)
        SELECT id1, id2, score FROM sc WHERE score >= 0.35
        ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""

  /** LSH-bucketed embedding near-dup — the 100 TB plan behind
    * `llm_embed_cosine_dup`'s exact broadcast-block baseline (the doc there
    * says "past ~10 blocks use LSH": this is that op). One native
    * `graft_lsh_bucket(embedding, 32)` sign signature per vector, banded
    * into 8 tables × 4 bits: candidates are pairs sharing at least one
    * band value, i.e. an OR over 8 hash tables, found by an equi-join on
    * (table, band) — the shuffle key — never an all-pairs scan. Survivors
    * re-score EXACTLY (codegen'd cosine) and threshold, so precision is 1
    * by construction (emitted ⊆ exact pairs with identical scores);
    * recall is the banding collision probability (≈1 for true near-dups,
    * lower near the threshold — property-measured in LlmOpsSpec).
    * Candidates arrive exactly once (first-colliding-table filter, see
    * [[embedCosinePairsLsh]]) and score once each. Skewed buckets
    * (correlated corpora) are AQE skew-join territory; at 100 TB raise
    * `bitsPerTable` so bucket occupancy tracks corpus growth. Fully
    * oracle-checked since the portable plane derivation (r19):
    * [[embedLshPairsOracle]] rebuilds buckets, band candidates, and
    * exact re-scores; the recall property stays spec-measured.
    */
  val llmEmbedCosineDupLsh: Q = Q(
    "llm_embed_cosine_dup_lsh",
    (s, d) => embedCosinePairsLsh(s,
      Tables.read(s, d, "embeddings").select(col("vec_id"), col("embedding"))),
    Some(embedLshPairsOracle))

  /** The banded-LSH near-dup with the SHUFFLE score-resolve forced
    * (`broadcastRowBudget = 0`) — the plan that runs when the vector side
    * outgrows a broadcast: candidates key-partition against the vector
    * table twice instead of broadcast-hash-joining it. The sf-scale
    * corpus always fits the broadcast budget, which would leave this
    * shape exercised only by unit tests; this key runs it end-to-end on
    * corpus data under the driver's FULL hash gate (the minhash_banded
    * precedent — same oracle as `llm_embed_cosine_dup_lsh`, so passing
    * both is the cross-engine proof the forced shuffle changes nothing
    * but the plan). LlmOpsSpec proves both resolves emit identical rows.
    */
  val llmEmbedCosineDupLshShuffled: Q = Q(
    "llm_embed_cosine_dup_lsh_shuffled",
    (s, d) => embedCosinePairsLsh(s,
      Tables.read(s, d, "embeddings").select(col("vec_id"), col("embedding")),
      broadcastRowBudget = 0L),
    Some(embedLshPairsOracle))

  /** Banded-LSH near-dup engine (unit-test seam: `nTables`/`bitsPerTable`
    * tune the recall/candidate-volume trade, `nTables * bitsPerTable ≤ 32`;
    * `broadcastRowBudget` forces either score-resolve path).
    *
    * The band equi-join itself always runs COMPACT — (table, band, id,
    * sig) rows, never the vectors: a candidate pair can hit up to
    * `nTables` bands, and shuttling two 64-float arrays per hit through
    * the shuffle is the wide-row mistake the minhash path already avoids.
    * There is NO pair-level distinct either: a pair is emitted only from
    * the FIRST table whose bands collide — decided bitwise from the two
    * signatures the rows already carry (the lowest zero nibble of
    * `sig1 ^ sig2`), a codegen'd filter in the join stage — so the
    * candidate set arrives exactly-once with zero extra shuffle. Vectors
    * are then attached for the one exact scoring pass:
    * - vector side within `broadcastRowBudget` → two broadcast hash joins
    *   (no shuffle; the sf-scale and any ≲10⁶-row dimension case);
    * - beyond it → two key-partitioned shuffle joins against the vector
    *   table (at 100 TB both sides bucket by id, and the candidate set is
    *   band-bounded ≪ n²) — same rows either way, spec-proven.
    */
  def embedCosinePairsLsh(s: SparkSession, e: DataFrame, tau: Double = 0.35,
                          nTables: Int = 8, bitsPerTable: Int = 4,
                          broadcastRowBudget: Long = 500000L): DataFrame = {
    require(nTables * bitsPerTable <= 32, "signature is a 32-bit int bucket")
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val nBits = nTables * bitsPerTable
    val mask = (1 << bitsPerTable) - 1
    val banded = e
      .withColumn("sig", expr(s"graft_lsh_bucket(embedding, $nBits)"))
      .select(col("vec_id"), col("sig"),
        explode(expr(s"transform(sequence(0, ${nTables - 1}), t -> " +
          s"named_struct('t', t, 'b', shiftrightunsigned(sig, t * $bitsPerTable) & $mask))")).as("tb"))
      .select(col("vec_id"), col("sig"), col("tb.t").as("t"), col("tb.b").as("b"))
      // materialized once: the self-join references the banded table on
      // both sides — without this the scan AND the signature explode run
      // twice (ScanAuditSpec pins the corpus-scan bound)
      .truncated
    val candidates = banded
      .select(col("t"), col("b"), col("vec_id").as("id1"), col("sig").as("sig1"))
      .join(banded.select(col("t"), col("b"), col("vec_id").as("id2"), col("sig").as("sig2")),
        Seq("t", "b"))
      .filter(col("id1") < col("id2") && isFirstMatchingBand(nTables, bitsPerTable))
      .select(col("id1"), col("id2"))
    // limit-probe, not count(): deciding the score-resolve shape needs
    // only "≤ budget or not", so scan at most budget+1 rows (the r5
    // jaccard-gate pattern) — and skip the job entirely when the shuffle
    // path is forced
    val probe = math.min(broadcastRowBudget + 1, Int.MaxValue.toLong).toInt
    val fits = broadcastRowBudget > 0 && e.limit(probe).count() <= broadcastRowBudget
    def side(idCol: String, embCol: String) = {
      val df = e.select(col("vec_id").as(idCol), col("embedding").as(embCol))
      if (fits) broadcast(df) else df
    }
    candidates
      .join(side("id1", "e1"), "id1")
      .join(side("id2", "e2"), "id2")
      .select(col("id1"), col("id2"),
        round(expr("graft_cosine(e1, e2)"), 4).as("score"))
      .filter(col("score") >= tau)
      .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
  }

  /** Hard-negative mining over the labeled embedding table — the
    * contrastive-training data op (DPR / SimCSE / CLIP recipe): for each
    * anchor, the most-similar vector carrying a DIFFERENT label is the
    * hardest negative, the example that actually moves the loss.
    * Anchors = `vec_id % 25 = 0` (the mining batch — in production the
    * batch being trained on, bounded by construction, never the corpus).
    * One anchors×corpus pass with the codegen'd `graft_cosine` kernel
    * (oracle-proven bit-equal to the SQL formula by `llm_cosine_topk`),
    * label-filtered BEFORE scoring; per-anchor argmax by
    * (rounded-4 score DESC, neg_id ASC) — a total order. The anchor side
    * broadcasts under a row budget and falls back to a partitioned
    * cartesian past it (the batch can be big; the hint must not force a
    * driver OOM at 100 TB). Scale path for corpus-sized anchor sets:
    * the banded-LSH candidate join (`llm_embed_cosine_dup_lsh`) with
    * the label filter — this op is the exact per-batch form.
    */
  val llmHardNegativeMine: Q = Q(
    "llm_hard_negative_mine",
    (s, d) => {
      val cos = cosineCols(s)("a_emb", "n_emb")
      val e = Tables.read(s, d, "embeddings")
      val anchors = probeAnchors(s, d).withColumnRenamed("lbl", "anchor_label")
      val w = Window.partitionBy(col("anchor_id"))
        .orderBy(col("score").desc, col("neg_id").asc)
      e.select(col("vec_id").as("neg_id"), col("embedding").as("n_emb"),
          col("label").as("neg_label"))
        .crossJoin(anchors)
        .filter(col("neg_label") =!= col("anchor_label"))
        .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
          col("neg_label"),
          round(cos, 4).as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
        .orderBy(asc_nulls_first("anchor_id"))
    },
    Some("""WITH a AS (SELECT vec_id AS anchor_id, embedding AS a_emb,
                              label AS anchor_label
                       FROM embeddings WHERE vec_id % 25 = 0),
            c AS (SELECT vec_id AS neg_id, embedding AS n_emb,
                         label AS neg_label
                  FROM embeddings),
            sc AS (SELECT a.anchor_id, a.anchor_label, c.neg_id, c.neg_label,
                          round(list_sum(list_transform(range(1, 65),
                                  i -> CAST(a.a_emb[i] AS DOUBLE)
                                       * CAST(c.n_emb[i] AS DOUBLE)))
                                / (sqrt(list_sum(list_transform(range(1, 65),
                                     i -> CAST(a.a_emb[i] AS DOUBLE)
                                          * CAST(a.a_emb[i] AS DOUBLE))))
                                 * sqrt(list_sum(list_transform(range(1, 65),
                                     i -> CAST(c.n_emb[i] AS DOUBLE)
                                          * CAST(c.n_emb[i] AS DOUBLE))))), 4)
                            AS score
                   FROM a JOIN c ON c.neg_label <> a.anchor_label),
            r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
                       ORDER BY score DESC, neg_id) AS rk
                  FROM sc)
            SELECT anchor_id, anchor_label, neg_id, neg_label, score
            FROM r WHERE rk = 1 ORDER BY anchor_id NULLS FIRST"""))

  /** Leave-one-out kNN label probe over the embeddings — the standard
    * embedding-quality audit (the "kNN probe" of representation-learning
    * evals): for each anchor (`vec_id % 25 = 0`, the probe batch), its
    * k=5 nearest OTHER vectors by cosine vote on the anchor's label;
    * majority vote (votes DESC, label ASC tiebreak) against the true
    * label says whether the embedding geometry actually encodes the
    * labels. Same anchors×corpus kernel pass as
    * [[llmHardNegativeMine]] (budget-gated broadcast, codegen'd
    * `graft_cosine`), then a per-anchor top-5 window on the
    * (rounded-4 score DESC, vec_id ASC) total order and a vote
    * hash-agg — the k-row-per-anchor shuffle is bounded by k×|batch|
    * regardless of corpus size. All-integer votes; fully
    * DuckDB-oracled.
    */
  val llmKnnLabelProbe: Q = Q(
    "llm_knn_label_probe",
    (s, d) => {
      val cos = cosineCols(s)("a_emb", "n_emb")
      val e = Tables.read(s, d, "embeddings")
      val anchors = probeAnchors(s, d).withColumnRenamed("lbl", "true_label")
      val wTop = Window.partitionBy(col("anchor_id"))
        .orderBy(col("score").desc, col("neg_id").asc)
      val top5 = e.select(col("vec_id").as("neg_id"),
          col("embedding").as("n_emb"), col("label").as("nb_label"))
        .crossJoin(anchors)
        .filter(col("neg_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("true_label"), col("neg_id"),
          col("nb_label"), round(cos, 4).as("score"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
      val wVote = Window.partitionBy(col("anchor_id"))
        .orderBy(col("n_votes").desc, col("nb_label").asc)
      top5.groupBy(col("anchor_id"), col("true_label"), col("nb_label"))
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("anchor_id"), col("true_label"),
          col("nb_label").as("pred_label"), col("n_votes"),
          (col("nb_label") === col("true_label")).as("correct"))
        .orderBy(asc_nulls_first("anchor_id"))
    },
    Some("""WITH a AS (SELECT vec_id AS anchor_id, embedding AS a_emb,
                              label AS true_label
                       FROM embeddings WHERE vec_id % 25 = 0),
            c AS (SELECT vec_id AS neg_id, embedding AS n_emb,
                         label AS nb_label
                  FROM embeddings),
            sc AS (SELECT a.anchor_id, a.true_label, c.neg_id, c.nb_label,
                          round(list_sum(list_transform(range(1, 65),
                                  i -> CAST(a.a_emb[i] AS DOUBLE)
                                       * CAST(c.n_emb[i] AS DOUBLE)))
                                / (sqrt(list_sum(list_transform(range(1, 65),
                                     i -> CAST(a.a_emb[i] AS DOUBLE)
                                          * CAST(a.a_emb[i] AS DOUBLE))))
                                 * sqrt(list_sum(list_transform(range(1, 65),
                                     i -> CAST(c.n_emb[i] AS DOUBLE)
                                          * CAST(c.n_emb[i] AS DOUBLE))))), 4)
                            AS score
                   FROM a JOIN c ON c.neg_id <> a.anchor_id),
            top5 AS (SELECT * FROM (
                       SELECT *, row_number() OVER (PARTITION BY anchor_id
                            ORDER BY score DESC, neg_id) AS rk FROM sc)
                     WHERE rk <= 5),
            votes AS (SELECT anchor_id, true_label, nb_label,
                             CAST(count(*) AS BIGINT) AS n_votes
                      FROM top5 GROUP BY 1, 2, 3),
            best AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
                          ORDER BY n_votes DESC, nb_label) AS vr
                     FROM votes)
            SELECT anchor_id, true_label, nb_label AS pred_label, n_votes,
                   nb_label = true_label AS correct
            FROM best WHERE vr = 1 ORDER BY anchor_id NULLS FIRST"""))

  /** Dedup threshold SWEEP — the exact-Jaccard pair count at
    * τ ∈ {0.85, 0.9, 0.95} on the portable shard: the tuning curve a
    * dedup rollout is calibrated from ("how many pairs does each
    * threshold commit us to deleting") before freezing the single τ the
    * production ops run at. ONE exact pair pass computed at the LOOSEST
    * threshold — [[jaccardPairs]] at τ=0.85, i.e. the identical adaptive
    * engine `llm_jaccard_near_dup` runs (bitmask popcount scan under a
    * ≤64-token vocabulary, inverted-index join otherwise; spec-proven
    * path-identical) — then ALL THREE cumulative counts in ONE
    * conditional aggregation over that single pass (r21: the former
    * three filter+count branches re-scanned the materialized pair table
    * three times and unioned three one-row jobs). Each similarity is
    * the exact-operand division the pair family shares; τ comparisons
    * are double-literal compares, identical cross-engine.
    */
  val llmDedupThresholdSweep: Q = Q(
    "llm_dedup_threshold_sweep",
    (s, d) => {
      val toks = docTokens(s, d).filter(col("doc_id") % 5 === 1)
      val sims = jaccardPairs(s, toks, tau = 0.85).select(col("jaccard"))
      sims.agg(
          count(when(col("jaccard") >= 0.85, 1)).as("c85"),
          count(when(col("jaccard") >= 0.9, 1)).as("c90"),
          count(when(col("jaccard") >= 0.95, 1)).as("c95"))
        .select(explode(array(
          struct(lit(0.85).as("tau"), col("c85").as("n_pairs")),
          struct(lit(0.9).as("tau"), col("c90").as("n_pairs")),
          struct(lit(0.95).as("tau"), col("c95").as("n_pairs")))).as("r"))
        .select(col("r.tau").as("tau"), col("r.n_pairs").as("n_pairs"))
        .orderBy(asc("tau"))
    },
    Some("""WITH docs AS (SELECT * FROM documents WHERE doc_id % 5 = 1),
            toks AS (SELECT DISTINCT doc_id,
                            unnest(string_split(text, ' ')) AS tok
                     FROM docs),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                             CAST(COUNT(*) AS BIGINT) AS inter
                      FROM toks a JOIN toks b
                        ON a.tok = b.tok AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id),
            sims AS (SELECT CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter)
                              AS jaccard
                     FROM inter
                     JOIN sizes s1 ON id1 = s1.doc_id
                     JOIN sizes s2 ON id2 = s2.doc_id
                     WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter)
                           >= 0.85),
            ks AS (SELECT unnest([0.85, 0.9, 0.95]) AS tau)
            SELECT CAST(ks.tau AS DOUBLE) AS tau,
                   CAST(count(CASE WHEN sims.jaccard >= ks.tau THEN 1 END)
                        AS BIGINT) AS n_pairs
            FROM ks LEFT JOIN sims ON sims.jaccard >= ks.tau
            GROUP BY ks.tau ORDER BY tau"""))

  /** Exactly-once emission predicate over columns (t, sig1, sig2): of the
    * ≤nTables tables where the pair's bands collide, keep only the lowest
    * — t must be the FIRST zero `w`-wide nibble of sig1^sig2. Closed-form
    * bitwise find-first-zero-nibble (the zero-byte-detect trick at nibble
    * width: borrow propagation can corrupt flags ABOVE the first zero
    * nibble, but the LOWEST flagged bit is always exact, and that is all
    * the comparison reads; with no zero nibble at all the detector is 0
    * and the predicate is false for every t). Pure codegen'd integer ops,
    * no per-element lambda fold — property-tested against a positional
    * reference in LlmOpsSpec.
    */
  private[operators] def isFirstMatchingBand(nTables: Int, w: Int): Column = {
    val lowM = (0 until nTables).map(t => 1L << (w * t)).sum
    val highM = (0 until nTables).map(t => 1L << (w * t + w - 1)).sum
    val x = "((cast(sig1 as bigint) ^ cast(sig2 as bigint)) & 4294967295)"
    val zn = s"((($x - ${lowM}L) & ~$x) & ${highM}L)"
    expr(s"($zn & -$zn) = shiftleft(cast(${1L << (w - 1)} as bigint), t * $w)")
  }

  /** LSH-bucketed ANN top-k — the scale path for similarity search.
    * 6 deterministic pseudo-random hyperplanes (Rademacher ±1 components
    * derived from the portable md5-prefix hash —
    * [[graft.functions.VectorMath.planeComponent]]); bucket key = sign
    * bits of the 6
    * projections; the candidate set is the query's bucket plus all
    * Hamming-1 neighbor buckets (multi-probe), re-ranked exactly by cosine.
    * Bit count sizes buckets to the corpus (~n/2^bits candidates per probe);
    * at 100 TB: more bits, buckets are the shuffle key, the query side
    * broadcasts, and the exact re-rank touches only the probed buckets.
    * Fully oracle-checked since the portable plane derivation (r19);
    * recall stays property-tested against `llm_cosine_topk`.
    */
  val llmAnnLshTopk: Q = Q(
    "llm_ann_lsh_topk",
    (s, d) => {
      val nBits = 6
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      // bucket assignment via the native codegen'd graft_lsh_bucket
      // expression — the whole query plan is UDF-free (LlmOpsSpec asserts)
      val e = Tables.read(s, d, "embeddings")
        .withColumn("bucket", expr(s"graft_lsh_bucket(embedding, $nBits)"))
      val qRow = e.filter(col("vec_id") === 0)
        .select(col("embedding"), col("bucket")).head()
      val qvec = qRow.getSeq[Float](0).toArray
      val qBucket = qRow.getInt(1)
      // multi-probe: query bucket + all Hamming-1 neighbor buckets
      val probes = qBucket +: (0 until nBits).map(b => qBucket ^ (1 << b))
      // exact re-rank via the native codegen'd graft_cosine expression (the
      // query vector folds in as an array<float> literal — no ScalaUDF in
      // the scoring stage)
      e.filter(col("vec_id") =!= 0 && col("bucket").isin(probes: _*))
        .withColumn("qvec", typedLit(qvec))
        .withColumn("score", round(cosineCols(s)("embedding", "qvec"), 4))
        .drop("qvec")
        .select(col("vec_id"), col("label"),
          col("bucket").cast(LongType).as("bucket"), col("score"))
        .orderBy(desc_nulls_first("score"), asc_nulls_first("vec_id"))
        .limit(10)
    },
    // fully oracle-checked since the portable plane derivation (r19):
    // the oracle rebuilds the buckets, multi-probes the query bucket +
    // its 6 Hamming-1 neighbors, and re-ranks by the exact cosine —
    // the recall property vs brute force stays spec-measured
    Some(s"""WITH ${lshBucketSql(6)},
        q AS (SELECT e.embedding AS qvec, bk.bucket AS qb
              FROM embeddings e JOIN bk USING (vec_id) WHERE e.vec_id = 0),
        probes AS (SELECT qb AS p FROM q
                   UNION ALL
                   SELECT xor(q.qb, 1 << CAST(b AS INT)) AS p
                   FROM q CROSS JOIN (SELECT unnest(range(0, 6)) AS b) bs),
        cand AS (SELECT e.vec_id, e.label, bk.bucket, e.embedding
                 FROM embeddings e JOIN bk USING (vec_id)
                 WHERE e.vec_id <> 0
                   AND bk.bucket IN (SELECT p FROM probes))
        SELECT c.vec_id, c.label, c.bucket,
               round(${cosineSql("c.embedding", "q.qvec")}, 4) AS score
        FROM cand c CROSS JOIN q
        ORDER BY score DESC NULLS FIRST, vec_id NULLS FIRST LIMIT 10"""))

  /** ANN recall@10 EVALUATION — the acceptance measurement every ANN
    * deployment ships next to its index: for each probe anchor
    * (`vec_id % 50 = 0`), compare the multi-probe LSH candidate set
    * (the anchor's bucket + its `nBits` Hamming-1 neighbors — exactly
    * `llm_ann_lsh_topk`'s probe policy) against the exact brute-force
    * top-10, and report per-anchor candidate volume, hits, and
    * recall@10. Ground truth REQUIRES the exact anchors×corpus scoring
    * pass, so eval cost is |probe batch| × corpus by construction — the
    * batch is the sampling knob (bounded in production; the corpus side
    * streams through the codegen'd kernel once per batch). Fully
    * hash-checked — possible only since the plane derivation became
    * portable (r19): the oracle rebuilds buckets, ranks by the same
    * (rounded score, vec_id) total order, and counts the identical
    * candidate membership.
    */
  val llmAnnRecallEval: Q = Q(
    "llm_ann_recall_eval",
    (s, d) => {
      val nBits = 6
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val cos = cosineCols(s)("a_emb", "n_emb")
      // single-consumer below (anchors come from the separately cached
      // recallAnchors scan), so no truncation: checkpointing it would be
      // a dead eager copy of the corpus-sized side
      val e = Tables.read(s, d, "embeddings")
        .withColumn("bucket", expr(s"graft_lsh_bucket(embedding, $nBits)"))
        .select(col("vec_id"), col("embedding"), col("bucket"))
      // the % 50 anchor set is a FRACTION of the corpus, not a bound, so
      // the broadcast is budget-gated exactly like [[probeAnchors]] —
      // and, like it, cached per (session, corpus) so the eager gating
      // count runs ONCE, not once per invocation
      val anchors = recallAnchors(s, d, nBits)
      val isCand = col("n_bucket") === col("a_bucket") ||
        expr("bit_count(n_bucket ^ a_bucket) = 1")
      e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("bucket").as("n_bucket"))
        .crossJoin(anchors)
        .filter(col("n_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("a_bucket"), col("n_id"),
          col("n_bucket"), round(cos, 4).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("anchor_id"))
            .orderBy(col("score").desc, col("n_id").asc)))
        .groupBy(col("anchor_id"))
        .agg(sum(when(isCand, 1L).otherwise(0L)).as("n_candidates"),
          sum(when(col("rn") <= 10 && isCand, 1L).otherwise(0L)).as("n_hits"),
          count(lit(1)).as("n_others"))
        // denominator is least(10, #non-anchor vectors): a batch with
        // <10 others can still reach recall 1.0 instead of being
        // structurally understated
        .withColumn("recall", col("n_hits").cast(DoubleType) /
          least(lit(10L), col("n_others")).cast(DoubleType))
        .select("anchor_id", "n_candidates", "n_hits", "recall")
        .orderBy(asc_nulls_first("anchor_id"))
    },
    Some(s"""WITH ${lshBucketSql(6)},
        a AS (SELECT e.vec_id AS anchor_id, e.embedding AS a_emb,
                     bk.bucket AS a_bucket
              FROM embeddings e JOIN bk USING (vec_id)
              WHERE e.vec_id % 50 = 0),
        n AS (SELECT e.vec_id AS n_id, e.embedding AS n_emb,
                     bk.bucket AS n_bucket
              FROM embeddings e JOIN bk USING (vec_id)),
        sc AS (SELECT a.anchor_id, a.a_bucket, n.n_id, n.n_bucket,
                      round(${cosineSql("a.a_emb", "n.n_emb")}, 4) AS score
               FROM a JOIN n ON n.n_id <> a.anchor_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
                   ORDER BY score DESC, n_id) AS rn
              FROM sc)
        SELECT anchor_id,
               CAST(sum(CASE WHEN n_bucket = a_bucket
                             OR bit_count(xor(n_bucket, a_bucket)) = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN rn <= 10 AND (n_bucket = a_bucket
                             OR bit_count(xor(n_bucket, a_bucket)) = 1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               CAST(sum(CASE WHEN rn <= 10 AND (n_bucket = a_bucket
                             OR bit_count(xor(n_bucket, a_bucket)) = 1)
                        THEN 1 ELSE 0 END) AS DOUBLE)
                 / least(10, count(*)) AS recall
        FROM r GROUP BY anchor_id ORDER BY anchor_id NULLS FIRST"""))

  /** IVF (inverted-file) ANN top-k — the second scale path for similarity
    * search, complementing the LSH op: spherical-k-means centroids
    * partition the corpus into `nLists` inverted lists, the query probes
    * only the `nProbe` lists whose centroids are nearest, and candidates
    * re-rank exactly by cosine.
    *
    * Everything is deterministic: seeds are the `nLists` lowest
    * `xxhash64(vec_id)` vectors, Lloyd runs a FIXED 2 iterations with
    * decimal-exact (associative, order-independent) coordinate means, and
    * argmax ties break to the lowest list index — so repeated runs emit
    * identical rows.
    *
    * The index is REAL, not recomputed per query: [[ivfBuild]] writes the
    * assigned corpus as parquet `partitionBy("list_id")` (the inverted
    * lists ARE the storage partitions) and [[ivfQuery]] reads it back
    * with `list_id IN (probes)` — Spark prunes the non-probed lists at
    * the SOURCE (LlmOpsSpec asserts the executed scan's `numFiles` metric
    * equals the file count of the probed `list_id=` directories alone).
    * At 100 TB that is the whole
    * point of IVF: query cost scales with `nProbe/nLists` of the corpus,
    * not the corpus; centroid state is `nLists × dim` driver-side
    * regardless of corpus size; there is no shuffle at query time at
    * all, versus the LSH op's bucket equi-join. No oracle (approximate
    * recall) — property-tested against brute force in LlmOpsSpec
    * (probe-all ≡ exact top-k).
    */
  val llmAnnIvfTopk: Q = Q(
    "llm_ann_ivf_topk",
    (s, d) => annIvfTopk(s, Tables.read(s, d, "embeddings")),
    None)

  /** Built IVF index handle: the `list_id`-partitioned parquet path plus
    * the O(nLists × dim) centroid set (the only driver-side state).
    */
  final case class IvfIndex(path: String, centroids: Seq[Array[Float]])

  /** Index-build pass (write-once, query-many): train centroids, assign
    * every vector to its nearest list, persist partitioned by `list_id`.
    */
  private[operators] def ivfBuild(e: DataFrame, nLists: Int = 8,
                                  iters: Int = 2): IvfIndex = {
    val centroids = ivfCentroids(e, nLists, iters)
    val dir = graft.util.TempDirs.create("graft_ivf").toString
    assignLists(e, centroids)
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    IvfIndex(dir, centroids)
  }

  /** Probe-list selection on the driver: `nLists` centroid cosines,
    * O(nLists) work regardless of corpus size; ties break to the lowest
    * list index.
    */
  private[operators] def ivfProbes(index: IvfIndex, qvec: Array[Float],
                                   nProbe: Int): Seq[Int] =
    index.centroids.zipWithIndex
      .map { case (c, i) => (graft.functions.VectorMath.cosineD(qvec, c), i) }
      .sortBy { case (sc, i) => (-sc, i) }
      .take(math.min(nProbe, index.centroids.size)).map(_._2)

  /** Query pass over a built index: partition-pruned scan of the probed
    * lists only + exact codegen'd cosine re-rank. No shuffle, no scan of
    * non-probed lists.
    */
  private[operators] def ivfQuery(s: SparkSession, index: IvfIndex,
                                  qvec: Array[Float], excludeVecId: Long,
                                  nProbe: Int, topK: Int): DataFrame = {
    val probes = ivfProbes(index, qvec, nProbe)
    s.read.parquet(index.path)
      .filter(col("list_id").isin(probes: _*) && col("vec_id") =!= excludeVecId)
      .withColumn("qvec", typedLit(qvec))
      .withColumn("score", round(cosineCols(s)("embedding", "qvec"), 4))
      .drop("qvec")
      .select(col("vec_id"), col("label"),
        col("list_id").cast(IntegerType).as("list_id"), col("score"))
      .orderBy(desc_nulls_first("score"), asc_nulls_first("vec_id"))
      .limit(topK)
  }

  /** Index cache per (session, input plan): an IVF index is built ONCE
    * and queried many times — that asymmetry IS the operator's point, so
    * repeated calls (Verify, Bench reps, interactive use) reuse the
    * persisted index exactly like `Tables.read` reuses analyzed plans.
    * Deterministic: the build is a pure function of the corpus.
    *
    * Concurrency + lifecycle (see [[graft.util.KeyedLazyCache]]):
    * builds run OUTSIDE the cache lock (a slow corpus build never blocks
    * another session's cache hit), and eviction frees the HEAP entry
    * immediately but DEFERS deleting the index's on-disk parquet —
    * [[annIvfTopk]] returns a LAZY DataFrame over the index files, so a
    * not-yet-collected query may legitimately read an already-evicted
    * index; deleting at eviction time (as before r10) raced such readers
    * into FileNotFoundException. An evicted index is retired (directory
    * deleted) only after [[IvfCacheMax]] FURTHER evictions, bounding
    * disk at 2 × [[IvfCacheMax]] RETIREMENT-MANAGED indexes (resident +
    * queued) — versus exit-hook-only cleanup's one corpus-sized rewrite
    * per distinct corpus ever seen. Outside that bound, per the
    * [[graft.util.KeyedLazyCache]] caveats, an index whose slot was
    * evicted mid-build (or whose deletion failed, logged to stderr) is
    * never retired and survives to the [[graft.util.TempDirs]] exit
    * hook — under sustained concurrent distinct-corpus churn those can
    * accumulate. The residual read race is generational and explicit: a
    * query's plan stays readable until its index's EVICTION plus
    * [[IvfCacheMax]] further evictions — at minimum [[IvfCacheMax]] + 1
    * subsequent distinct-corpus index builds, more while its corpus
    * stays recently queried (LlmOpsSpec exercises both sides: a held
    * query survives eviction, and a fully-retired index's directory
    * really is deleted). Heap holds up to 2 × [[IvfCacheMax]] ×
    * O(nLists × dim) centroid sets (resident + retirement queue).
    */
  private[operators] val IvfCacheMax = 4
  private[operators] val ivfIndexCache =
    new graft.util.KeyedLazyCache[(Int, String, Int), IvfIndex](
      IvfCacheMax, retireKeep = IvfCacheMax,
      onRetire = idx =>
        graft.util.TempDirs.deleteRecursively(java.nio.file.Paths.get(idx.path)))

  /** Cache key for a corpus DataFrame (shared by the operator and its
    * eviction spec). The canonicalized plan of a parquet scan does NOT
    * include the file path (HadoopFsRelation renders as just "parquet"),
    * so the input FILES anchor the key — two corpora must never share an
    * index — and each file carries its modification time, so rewriting a
    * corpus in place under the same paths invalidates rather than serving
    * a stale index (O(#files) metadata-only stats, no data read).
    */
  private[operators] def ivfCacheKey(s: SparkSession, e: DataFrame,
                                     nLists: Int): (Int, String, Int) = {
    val hconf = s.sparkContext.hadoopConfiguration
    val stampedFiles = e.inputFiles.sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      s"$f@${p.getFileSystem(hconf).getFileStatus(p).getModificationTime}"
    }.mkString(",")
    (System.identityHashCode(s),
      stampedFiles + e.queryExecution.analyzed.canonicalized.toString(), nLists)
  }

  private[operators] def annIvfTopk(s: SparkSession, e: DataFrame,
                                    nLists: Int = 8, nProbe: Int = 2,
                                    topK: Int = 10): DataFrame = {
    val key = ivfCacheKey(s, e, nLists)
    val index = ivfIndexCache.getOrBuild(key)(ivfBuild(e, nLists))
    val qvec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    ivfQuery(s, index, qvec, excludeVecId = 0L, nProbe, topK)
  }

  /** Deterministic spherical-k-means centroids (unit-test seam).
    *
    * Seeding: the `nLists` vectors with the lowest `xxhash64(vec_id)` — a
    * deterministic pseudo-random sample, collected (O(nLists) driver
    * state). Each Lloyd iteration is two distributed passes: a codegen'd
    * argmax assignment ([[assignLists]]) and a per-(list, coordinate)
    * mean via `posexplode` + hash agg. Means accumulate in DECIMAL —
    * exact and associative, so the centroid bits never depend on Spark's
    * partial-aggregation order (§2.0 determinism discipline applied to an
    * iterative algorithm). An emptied list keeps its previous centroid.
    */
  private[operators] def ivfCentroids(e: DataFrame, nLists: Int,
                                      iters: Int): Seq[Array[Float]] = {
    var centroids: Seq[Array[Float]] = e
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(asc("h"), asc("vec_id"))
      .limit(nLists)
      .select(col("embedding"))
      .collect().toSeq.map(_.getSeq[Float](0).toArray)
    (1 to iters).foreach { _ =>
      val byList = assignLists(e, centroids)
        .select(col("list_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("v").cast(DecimalType(24, 10))).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDecimal(2).floatValue()))
        .groupBy(_._1)
      centroids = centroids.indices.map { i =>
        byList.get(i).fold(centroids(i))(_.sortBy(_._2).map(_._3).toArray)
      }
    }
    centroids
  }

  /** One distributed assignment pass: nearest (max-cosine) centroid per
    * vector, as a codegen'd `greatest` over (cosine, -index) structs —
    * the same UDF-free argmax shape as [[scoreByProfile]]; the centroid
    * vectors fold into the plan as `array<float>` literals. Ties break to
    * the lowest list index.
    */
  private[operators] def assignLists(e: DataFrame,
                                     centroids: Seq[Array[Float]]): DataFrame = {
    require(centroids.nonEmpty, "IVF needs at least one centroid")
    org.apache.spark.sql.graft.GraftFunctions.register(e.sparkSession)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        call_function("graft_cosine", col("embedding"), typedLit(c)).as("s"),
        lit(-i).as("ni"))
    }
    val best = if (scored.size > 1) greatest(scored: _*) else scored.head
    e.withColumn("list_id", (lit(0) - best.getField("ni")).cast(IntegerType))
  }

  // -------------------------------------------------------- PQ ANN

  /** PQ geometry (the textbook Jégou et al. config): 64 dims → 8
    * subspaces × 8 dims, 256 centroids per subspace → one 8-bit code per
    * subspace, so a vector's code word is 8 bytes = ONE 64-bit long.
    */
  private[operators] val PqM = 8
  private[operators] val PqDsub = 8
  private[operators] val PqK = 256

  /** Deterministic sampled codebook: per subspace, the subvectors of the
    * [[PqK]] lowest-`xxhash64(vec_id)` vectors (the same seeding as the
    * IVF op; a production build would Lloyd-refine per subspace exactly
    * as [[ivfCentroids]] does — the Spark plumbing is identical, and the
    * sampled book keeps the op a pure function of the corpus).
    */
  private[operators] def pqCodebook(e: DataFrame): Seq[Seq[Array[Float]]] = {
    val seeds = e.withColumn("h", xxhash64(col("vec_id")))
      .orderBy(asc("h"), asc("vec_id")).limit(PqK)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray).toSeq
    (0 until PqM).map(j => seeds.map(v => v.slice(j * PqDsub, (j + 1) * PqDsub)))
  }

  /** The 64-bit PQ word for one vector: per subspace a k-way L2 argmin
    * (strict `<` keeps the LOWEST centroid index on ties — deterministic),
    * bytes packed by shift-or. A plain JIT'd loop, measured against two
    * expression encodings of the same kernel: higher-order functions
    * (`zip_with`/`aggregate` per centroid) are interpreted, and an
    * unrolled `element_at` multiply-add tree with struct-argmin cost
    * multi-second Catalyst analysis/codegen per pass — fixed overhead
    * charged to EVERY query at any data size, and it grows with k. The
    * m·k·dsub flops here JIT to the same machine code codegen would
    * emit, with zero planning cost.
    */
  private[operators] def pqCode(book: Array[Array[Array[Float]]],
                                v: Array[Float]): Long = {
    var word = 0L
    var j = 0
    while (j < PqM) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < PqK) {
        val cen = book(j)(c)
        var d = 0.0
        var i = 0
        while (i < PqDsub) {
          val dd = v(j * PqDsub + i).toDouble - cen(i).toDouble
          d += dd * dd
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      word |= best.toLong << (8 * j)
      j += 1
    }
    word
  }

  /** Per-partition batch encode against a BROADCAST codebook (the same
    * shared-read-only-model shape as [[llmMultimodalFeatures]]'s decoder:
    * one deserialized book per executor, rows never leave their
    * partition). Keeps the source embedding alongside the code so
    * [[pqTrain]] reuses the pass without a self-join.
    */
  private[operators] def pqAssign(e: DataFrame, cb: Seq[Seq[Array[Float]]]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cb.map(_.toArray).toArray)
    e.select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, String, Array[Float])]
      .mapPartitions { it =>
        val book = bc.value
        it.map { case (id, label, v) => (id, label, pqCode(book, v), v) }
      }.toDF("vec_id", "label", "code", "embedding") // code: LongType (8 bytes)
  }

  /** Encode every vector to its code word. The codes table is the entire
    * search-time representation: 8 bytes/vector vs 256 for the raw
    * floats — the 32× memory compression that lets 100 TB of embeddings
    * ADC-scan from RAM.
    */
  private[operators] def pqEncode(e: DataFrame, cb: Seq[Seq[Array[Float]]]): DataFrame =
    pqAssign(e, cb).select(col("vec_id"), col("label"), col("code"))

  /** One Lloyd refinement of the sampled codebook — the training step a
    * production PQ build runs to convergence, here a FIXED single
    * iteration for determinism (same discipline as [[ivfCentroids]]):
    * assign with the sampled book, then per (subspace, code, dim) take
    * the DECIMAL-exact (order-independent) member mean; empty cells keep
    * their seed. ONE distributed pass: the full posexplode maps every
    * coordinate to its (subspace, code, dim) cell, so all m·k·dsub =
    * 1024 means ride a single hash aggregate to the driver.
    */
  private[operators] def pqTrain(e: DataFrame): Seq[Seq[Array[Float]]] = {
    val cb = pqCodebook(e)
    val cells = pqAssign(e, cb).select(col("code"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(expr(s"pos div $PqDsub").cast(IntegerType).as("j"),
        expr(s"shiftright(code, (pos div $PqDsub) * 8) & 255").cast(IntegerType).as("c"),
        (col("pos") % PqDsub).cast(IntegerType).as("subpos"),
        col("v"))
      .groupBy(col("j"), col("c"), col("subpos"))
      .agg(avg(col("v").cast(DecimalType(24, 10))).as("m"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDecimal(3).floatValue())))
      .groupBy(_._1)
    (0 until PqM).map { j =>
      cb(j).zipWithIndex.map { case (seed, c) =>
        cells.get((j, c))
          .fold(seed)(_.map(_._2).sortBy(_._1).map(_._2).toArray)
      }
    }
  }

  /** Driver-side ADC distance table for a query: d(j)(c) = ‖q_j − c‖² —
    * O(m·k·dsub) work and O(m·k) state regardless of corpus size.
    */
  private[operators] def pqDistTable(cb: Seq[Seq[Array[Float]]],
                                     qvec: Array[Float]): Seq[Seq[Double]] =
    (0 until PqM).map { j =>
      val qs = qvec.slice(j * PqDsub, (j + 1) * PqDsub)
      cb(j).map { c =>
        var acc = 0.0
        var i = 0
        while (i < PqDsub) { val dd = qs(i).toDouble - c(i).toDouble; acc += dd * dd; i += 1 }
        acc
      }
    }

  /** ADC score expression over the code word: 8 byte extracts + 8
    * array-literal lookups + 7 adds — pure codegen, no join, no shuffle;
    * the asymmetric-distance scan PQ exists for.
    */
  private[operators] def pqAdcExpr(dtab: Seq[Seq[Double]]): Column =
    (0 until PqM).map { j =>
      element_at(typedLit(dtab(j)),
        (shiftright(col("code"), 8 * j).bitwiseAND(lit(255L)) + lit(1))
          .cast(IntegerType))
    }.reduce(_ + _)

  /** Product-quantization ANN top-k — the MEMORY-side scale path of the
    * ANN family (LSH prunes candidates by bucket collision, IVF prunes
    * by partition; PQ compresses the candidate REPRESENTATION so the
    * exhaustive scan itself becomes cheap): vectors quantize per-subspace
    * against a shared codebook into 8-byte code words, a query scans
    * CODES ONLY via the asymmetric-distance (ADC) lookup expression, and
    * the top-256 ADC candidates re-rank exactly against the raw vectors
    * (a broadcast of 256 ids — the only time full vectors are touched).
    * At 100 TB: codes live hot at 32× compression, the ADC scan is
    * shuffle-free whole-stage codegen, re-rank fetches O(candidates)
    * vectors. No oracle (approximate recall, float kernel) —
    * [[graft.operators.LlmOpsSpec]]-pinned: ADC ≡ distance-to-
    * reconstruction law, recall floor vs the exact top-k, and the 8-byte
    * representation.
    */
  val llmAnnPqTopk: Q = Q(
    "llm_ann_pq_topk",
    (s, d) => {
      val raw = Tables.read(s, d, "embeddings")
      // Train and encode over UNIT vectors: for unit vectors
      // ‖a−b‖² = 2·(1−cosθ), so the ADC-L2 candidate order is exactly
      // the cosine order the re-rank (and the brute-force op) use —
      // without this, large-norm/high-cosine vectors fall out of the
      // candidate set and recall degrades for no structural reason.
      val e = PipelineOps.normalizeEmbeddings(raw)
        .select(col("vec_id"), col("label"), col("normalized").as("embedding"))
      val cb = pqTrain(e)
      val codes = pqEncode(e, cb)
      val qvec = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      val cand = codes.filter(col("vec_id") =!= 0)
        .withColumn("adc_dist", round(pqAdcExpr(pqDistTable(cb, qvec)), 4))
        .orderBy(asc_nulls_first("adc_dist"), asc_nulls_first("vec_id"))
        .limit(256)
      // Exact re-rank against the RAW vectors (cosine is scale-invariant,
      // so the scores are bit-identical to llm_cosine_topk's).
      val qraw = raw.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      raw.filter(col("vec_id") =!= 0)
        .join(broadcast(cand.select(col("vec_id"), col("adc_dist"))), "vec_id")
        .withColumn("qvec", typedLit(qraw))
        .withColumn("score", round(cosineCols(s)("embedding", "qvec"), 4))
        .select(col("vec_id"), col("label"), col("adc_dist"), col("score"))
        .orderBy(desc_nulls_first("score"), asc_nulls_first("vec_id"))
        .limit(10)
    },
    None)

  // -------------------------------------------------------- text analysis

  /** Token statistics per language (UDTF surface: explode = Catalyst
    * Generator). Counts are exact ints; the single avg is one double
    * division (§2.0 rule 3).
    */
  val llmTextTokenStats: Q = Q(
    "llm_text_token_stats",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("lang"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct_tokens"),
          (count(lit(1)).cast(DoubleType) / countDistinct(col("doc_id"))).as("avg_tokens_per_doc"))
        .orderBy(asc_nulls_first("lang")),
    Some("""WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                       FROM documents)
            SELECT lang,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
                   CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avg_tokens_per_doc
            FROM t GROUP BY lang ORDER BY lang NULLS FIRST"""))

  /** Corpus distribution by lang × source, with global share. */
  val llmLangSourceDist: Q = Q(
    "llm_lang_source_dist",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
      val total = docs.count()
      docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", col("n").cast(DoubleType) / lit(total.toDouble))
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))
    },
    Some("""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) AS DOUBLE) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS share
            FROM documents GROUP BY lang, source
            ORDER BY lang NULLS FIRST, source NULLS FIRST"""))

  /** The fingerprint table itself — (doc_id, fp_hash, fp_pos), shared
    * by the registered op and [[llmWinnowDedupPairs]].
    */
  private[operators] def winnowFps(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        (size(col("tk")) - 2).cast(LongType).as("ng"),
        explode(expr("sequence(1, size(tk) - 2)")).as("j"),
        col("tk"))
      .select(col("doc_id"), col("ng"), col("j"),
        (graft.functions.PortableHash.hash32(
          concat_ws(" ", expr("slice(tk, j, 3)"))) * lit(2147483648L)
          + col("j")).as("comb"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("j"))
      .rowsBetween(0, 3)
    grams
      .withColumn("fp", min(col("comb")).over(w))
      .filter(col("j") <= col("ng") - 3)
      .select(col("doc_id"),
        expr("fp div 2147483648").as("fp_hash"),
        expr("fp % 2147483648").as("fp_pos"))
      .distinct()
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03 — the
    * MOSS algorithm): per document, hash every 3-token shingle, then
    * keep the MINIMUM hash of each sliding window of 4 consecutive
    * shingles, deduplicated — a fingerprint set with guaranteed
    * position coverage (any match of ≥ 6 tokens shares a fingerprint)
    * at ~2/(w+1) the density of full shingling, which is what makes
    * substring-level dedup affordable at corpus scale. Determinism
    * across engines: hash and position are PACKED into one integer
    * (`h·2³¹ + pos`, exact in int64: h < 2³², pos < 2³¹ — any document
    * whose token positions fit an int, i.e. every real document) so the
    * window `min` resolves hash ties to the leftmost position
    * identically everywhere — no arg_min tie ambiguity; the hash is the
    * portable md5-derived 32-bit. Shape: one map-side shingle explode,
    * ONE doc-keyed window (the ts_sessionize shuffle class), distinct.
    * Rows per doc ≈ 2·tokens/(w+1), never quadratic.
    */
  val llmWinnowFingerprint: Q = Q(
    "llm_winnow_fingerprint",
    (s, d) =>
      winnowFps(Tables.read(s, d, "documents"))
        .orderBy(asc_nulls_first("doc_id"), asc("fp_pos"), asc("fp_hash")),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents WHERE len(string_split(text, ' ')) >= 3),
            g AS (SELECT doc_id, len(tk) - 2 AS ng,
                         unnest(range(1, len(tk) - 1)) AS j, tk
                  FROM t),
            h AS (SELECT doc_id, ng, j,
                         CAST(('0x' || substr(md5(array_to_string(tk[j:j+2], ' ')), 1, 8))
                              AS BIGINT) * 2147483648 + j AS comb
                  FROM g),
            w AS (SELECT doc_id, ng, j,
                         min(comb) OVER (PARTITION BY doc_id ORDER BY j
                                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                  FROM h)
            SELECT DISTINCT doc_id,
                   CAST(fp // 2147483648 AS BIGINT) AS fp_hash,
                   CAST(fp % 2147483648 AS BIGINT) AS fp_pos
            FROM w WHERE j <= ng - 3
            ORDER BY doc_id NULLS FIRST, fp_pos, fp_hash"""))

  /** Winnowing candidate pairs — the fingerprints of
    * [[llmWinnowFingerprint]] put to their intended use (MOSS's second
    * half): docs sharing ≥ 2 fingerprint hashes are substring-overlap
    * candidates. The join is an inverted-index equi-join ON THE
    * FINGERPRINT BUCKETS — Σ bucket² work, the same scale discipline as
    * the banded-LSH families, and winnowing keeps buckets sparse by
    * construction (~2/(w+1) of shingle density; measured join work at
    * sf0.1 is 13.7 k candidate pairs from 20 k fingerprints). Scoped to
    * the deterministic `doc_id % 5 = 1` shard like
    * [[llmDedupKeepBest]], purely so the oracle's self-join stays
    * seconds at every sf — the engine path is the full machinery.
    */
  val llmWinnowDedupPairs: Q = Q(
    "llm_winnow_dedup_pairs",
    (s, d) => {
      val fps = winnowFps(Tables.read(s, d, "documents")
          .filter(col("doc_id") % 5 === 1))
        .select(col("doc_id"), col("fp_hash")).distinct()
        .truncated // both sides of the self-join
      postingPairCounts(fps, "fp_hash", "shared_fps")
        .filter(col("shared_fps") >= 2)
        .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents
                       WHERE doc_id % 5 = 1
                         AND len(string_split(text, ' ')) >= 3),
            g AS (SELECT doc_id, len(tk) - 2 AS ng,
                         unnest(range(1, len(tk) - 1)) AS j, tk
                  FROM t),
            h AS (SELECT doc_id, ng, j,
                         CAST(('0x' || substr(md5(array_to_string(tk[j:j+2], ' ')), 1, 8))
                              AS BIGINT) * 2147483648 + j AS comb
                  FROM g),
            w AS (SELECT doc_id, ng, j,
                         min(comb) OVER (PARTITION BY doc_id ORDER BY j
                                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                  FROM h),
            fps AS (SELECT DISTINCT doc_id, fp // 2147483648 AS fp_hash
                    FROM w WHERE j <= ng - 3)
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(count(*) AS BIGINT) AS shared_fps
            FROM fps a JOIN fps b USING (fp_hash)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2
            ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** Per-source distribution-drift monitor — KL(source ‖ corpus) over
    * the unigram token distribution, the "did a feed's content shift"
    * alarm every continuously-ingesting training pipeline runs (a
    * scraper gone wrong shows up as a KL spike long before a human
    * reads samples). KL(Pₛ‖P) = Σₜ (n_st/Nₛ)·ln((n_st·N)/(Nₛ·n_t));
    * per-token terms are exact-rational ln's rounded to 6 decimals and
    * carried as DECIMAL weighted by the INTEGER n_st, so the per-source
    * sum is merge-order independent and the one double division per
    * source comes last ([[graft.operators.PipelineOps.llmUnigramLogprob]]
    * discipline). Distributed shape: one explode, three hash aggs, an
    * AQE-sized token join against the |vocab|-row count table (never on
    * the driver), the per-source totals broadcast (O(#sources) rows).
    * A NULL source labels as the sentinel feed `__null__` so the
    * misconfigured-ingest case a drift alarm exists for is MONITORED,
    * not silently dropped by equi-join null semantics.
    */
  val llmSourceKlDrift: Q = Q(
    "llm_source_kl_drift",
    (s, d) => {
      val toks = Tables.read(s, d, "documents")
        .select(coalesce(col("source"), lit("__null__")).as("source"),
          explode(split(col("text"), " ")).as("token"))
      val st = toks.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n_st"))
        .truncated // feeds the term join AND the per-source totals
      val srcTot = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
      val vocab = st.groupBy(col("token")).agg(sum(col("n_st")).as("n_t"))
      val tot = vocab.agg(sum(col("n_t")).as("n"))
      val terms = st
        .join(vocab, "token")
        .join(broadcast(srcTot), "source")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_st"), col("n_s"),
          round(expr("ln((CAST(n_st AS DOUBLE) * n) / (CAST(n_s AS DOUBLE) * n_t))"), 6)
            .cast(DecimalType(20, 6)).as("lnr"))
      terms.groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          sum(col("n_st") * col("lnr")).as("num"))
        .select(col("source"), col("n_tokens"),
          (col("num").cast(DoubleType) / col("n_tokens")).as("kl_nats"))
        .orderBy(asc_nulls_first("source"))
    },
    Some("""WITH t AS (SELECT COALESCE(source, '__null__') AS source,
                              unnest(string_split(text, ' ')) AS token
                       FROM documents),
            st AS (SELECT source, token, count(*) AS n_st FROM t GROUP BY 1, 2),
            srct AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY 1),
            v AS (SELECT token, sum(n_st) AS n_t FROM st GROUP BY 1),
            tot AS (SELECT sum(n_t) AS n FROM v),
            terms AS (SELECT st.source, st.n_st, srct.n_s,
                             CAST(round(ln((CAST(st.n_st AS DOUBLE) * tot.n)
                                           / (CAST(srct.n_s AS DOUBLE) * v.n_t)), 6)
                                  AS DECIMAL(20,6)) AS lnr
                      FROM st JOIN v USING (token)
                              JOIN srct USING (source)
                              CROSS JOIN tot)
            SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
                   CAST(sum(n_st * lnr) AS DOUBLE) / max(n_s) AS kl_nats
            FROM terms GROUP BY source
            ORDER BY source NULLS FIRST"""))

  /** The DATASET REPORT CARD — the per-(lang, source) summary a corpus
    * release ships (HF dataset card / Dolma-style data sheet): document
    * and token counts, mean document length, mean quality, and the
    * exact-duplicate rate, in ONE composed Catalyst plan reusing the
    * proven single-op machinery ([[qualityScored]], the md5-digest
    * canonical window of the corpus build). Everything aggregates to
    * O(|langs| × |sources|) cells: two corpus passes (profile + digest
    * window) that both partial-aggregate/shuffle on bounded keys —
    * digests, never bodies, through the one wide shuffle. §2.0
    * discipline: quality (already rounded 6 dp) sums in DECIMAL, every
    * mean is one exact-operand double division.
    */
  val llmDatasetReport: Q = Q(
    "llm_dataset_report",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
      val prof = qualityScored(s, d).select(col("doc_id"), col("n_tokens"),
        col("quality"))
      val dup = docs
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy(col("digest"))))
        .select(col("doc_id"),
          when(col("doc_id") === col("keep_id"), 0L).otherwise(1L).as("is_dup"))
      docs.select(col("doc_id"), col("lang"), col("source"))
        .join(prof, "doc_id").join(dup, "doc_id")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("quality").cast(DecimalType(18, 6))).as("q_sum"),
          sum(col("is_dup")).as("n_exact_dups"))
        .select(col("lang"), col("source"), col("n_docs"), col("total_tokens"),
          (col("total_tokens").cast(DoubleType) / col("n_docs")).as("avg_tokens"),
          (col("q_sum").cast(DoubleType) / col("n_docs")).as("mean_quality"),
          col("n_exact_dups"),
          (col("n_exact_dups").cast(DoubleType) / col("n_docs")).as("dup_rate"))
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))
    },
    Some("""WITH prof AS (SELECT doc_id, lang, source,
                                 CAST(len(string_split(text, ' ')) AS BIGINT)
                                   AS n_tokens,
                                 round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                                         / len(string_split(text, ' ')) * 0.4
                                       + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                            x -> x = 'the' OR x = 'a')) AS DOUBLE)
                                            / len(string_split(text, ' '))) * 0.3
                                       + least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0,
                                               1.0) * 0.3,
                                       6) AS quality
                          FROM documents),
            dup AS (SELECT doc_id,
                           CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                                THEN 0 ELSE 1 END AS is_dup
                    FROM documents)
            SELECT p.lang, p.source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(p.n_tokens) AS DOUBLE) / count(*) AS avg_tokens,
                   CAST(sum(CAST(p.quality AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*) AS mean_quality,
                   CAST(sum(d.is_dup) AS BIGINT) AS n_exact_dups,
                   CAST(sum(d.is_dup) AS DOUBLE) / count(*) AS dup_rate
            FROM prof p JOIN dup d USING (doc_id)
            GROUP BY p.lang, p.source
            ORDER BY p.lang NULLS FIRST, p.source NULLS FIRST"""))

  /** Out-of-vocabulary rate under a fixed top-K token vocabulary — the
    * tokenizer-coverage audit (does a K-entry word vocab cover this
    * corpus slice, per language): vocab = top 1000 corpus tokens by
    * frequency (total order: count DESC, token ASC, so the rank-1000
    * cut is deterministic), then per language the fraction of token
    * OCCURRENCES falling outside it. Vocab build is one map-side-
    * partial hash agg + a 1000-row TakeOrderedAndProject; scoring is
    * one explode + a broadcast join against the fixed-size vocab (the
    * model-broadcast/corpus-streamed shape — the vocab is bounded by K
    * at any corpus size, so the hint is safe to force). All-integer
    * counts; the rate is one exact-operand double division.
    */
  val llmOovRate: Q = Q(
    "llm_oov_rate",
    (s, d) => {
      val toks = Tables.read(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .truncated // one corpus explode feeds vocab build AND scoring
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok")).limit(1000)
        .select(col("tok")).withColumn("in_vocab", lit(1))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast(DoubleType) / col("n_tokens"))
        .orderBy(asc_nulls_first("lang"))
    },
    Some("""WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
                          FROM documents),
            vc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
            vocab AS (SELECT tok FROM vc ORDER BY cnt DESC, tok LIMIT 1000)
            SELECT t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS oov_rate
            FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
            GROUP BY t.lang ORDER BY t.lang NULLS FIRST"""))

  /** Per-doc quality metrics + combined score, carrying `lang` — shared by
    * the score op and the per-lang quantile filter ([[graft.operators
    * .PipelineOps.llmQualityQuantile]]).
    */
  private[operators] def qualityScored(s: SparkSession, d: String): DataFrame =
    qualityScored(Tables.read(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars")))

  /** The quality profile over a pre-projected documents frame. Columns
    * beyond (doc_id, lang, text, n_chars) ride through unchanged, so a
    * composed op (the e2e corpus build) can fuse the quality pass with
    * other per-doc derivations (digest, source) into ONE text-bearing
    * scan instead of re-scanning and joining back on doc_id; the quality
    * expression chain is byte-identical for every caller.
    */
  private[operators] def qualityScored(docs: DataFrame): DataFrame = {
    val extra = docs.columns.toSeq
      .filterNot(Set("doc_id", "lang", "text", "n_chars"))
    val keep = (Seq("doc_id", "lang") ++ extra).map(col)
    docs
      .select(keep :+ split(col("text"), " ").as("t") :+ col("n_chars"): _*)
      .select(keep ++ Seq(
        expr("CAST(size(t) AS BIGINT)").as("n_tokens"),
        expr("CAST(size(array_distinct(t)) AS BIGINT)").as("n_types"),
        expr("CAST(size(filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT)").as("n_stop"),
        col("n_chars")): _*)
      .withColumn("ttr", col("n_types").cast(DoubleType) / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast(DoubleType) / col("n_tokens"))
      .withColumn("avg_tok_len",
        (col("n_chars") - col("n_tokens") + 1).cast(DoubleType) / col("n_tokens"))
      .withColumn("quality",
        round(col("ttr") * 0.4 + (lit(1.0) - col("stop_ratio")) * 0.3 +
          least(col("n_tokens").cast(DoubleType) / 100.0, lit(1.0)) * 0.3, 6))
  }

  /** Per-document type-token ratio — the lexical-diversity quality
    * signal (Gopher-style filters threshold on distinct-token fraction:
    * templated/boilerplate docs sit low, natural text high). Deliberately
    * a PURE MAP-SIDE expression: `size(split)` and
    * `size(array_distinct(split))` run per row inside codegen with NO
    * shuffle at all — the scale-right form of a per-doc profile (the
    * lang-level rollup is `llm_text_token_stats`). The ratio is one
    * exact IEEE division of two integers.
    */
  val llmTtrStats: Q = Q(
    "llm_ttr_stats",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"),
          expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)").as("n_types"))
        .withColumn("ttr", col("n_types").cast(DoubleType) / col("n_tokens"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS ttr
            FROM documents ORDER BY doc_id NULLS FIRST"""))

  /** Per-document quality scoring: token count, type-token ratio, stopword
    * ratio, average token length, combined score — pure integer counts +
    * per-row double arithmetic, identical expression tree on both engines.
    */
  val llmQualityScore: Q = Q(
    "llm_quality_score",
    (s, d) =>
      qualityScored(s, d)
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_stop"),
          col("ttr"), col("stop_ratio"), col("avg_tok_len"), col("quality"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""WITH b AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
                     CAST(len(list_filter(string_split(text, ' '),
                          x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_stop,
                     n_chars
              FROM documents)
            SELECT doc_id, n_tokens, n_types, n_stop,
                   CAST(n_types AS DOUBLE) / n_tokens AS ttr,
                   CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
                   CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_tok_len,
                   round(CAST(n_types AS DOUBLE) / n_tokens * 0.4
                         + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
                         + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3, 6) AS quality
            FROM b ORDER BY doc_id NULLS FIRST"""))

  /** Token counting under a BPE-ish regex tokenizer (letter runs, digit
    * runs, single punctuation — the GPT-2 pre-tokenizer shape) next to the
    * whitespace count, via `regexp_extract_all` (codegen'd, same regex
    * dialect both engines).
    */
  val llmTokenCountBpe: Q = Q(
    "llm_token_count_bpe",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_ws_tokens"),
          expr("CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)")
            .as("n_bpe_tokens"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS n_bpe_tokens
            FROM documents ORDER BY doc_id NULLS FIRST"""))

  /** Multinomial Naive Bayes language classifier, TRAINED on the corpus
    * and EVALUATED on a held-out split — the supervised companion to the
    * profile-based [[llmLangIdNgram]] (and the standard fastText-class
    * baseline a curation pipeline trains to audit its language labels):
    * train = `doc_id % 5 != 0`, test = the rest; Laplace-smoothed token
    * likelihoods, log-prior + Σ count·log-likelihood scoring, argmax
    * class; output is the 5×5 CONFUSION MATRIX — the artifact that says
    * whether the labels are trustworthy.
    *
    * Scale shape: training is two hash aggs over the train tokens
    * (map-side partials; the (lang, tok) model table is vocab-sized,
    * never driver-side); scoring joins the test doc-token counts to the
    * model on `tok` after a bounded ×|classes| fanout — the standard NB
    * scoring join, cost ∝ test tokens × classes with classes bounded.
    * §2.0 float discipline: every log-likelihood is `round(ln, 6)` cast
    * to DECIMAL(18,6) (ln operands are exact-integer divisions, so both
    * engines see identical doubles), per-doc scores accumulate as
    * count-weighted DECIMAL sums (merge-order independent), and the
    * argmax compares exact decimals with the class as tiebreak.
    * Unseen-token handling is exactly Laplace c=0: a per-class default
    * `ln(1/(tot+V))` coalesced in for (tok, class) pairs the training
    * set lacks.
    *
    * On THIS corpus the matrix correctly reports near-majority-class
    * behavior (~0.40 test accuracy at sf0.1): the synthetic documents
    * draw from one shared vocabulary regardless of `lang`, so the
    * labels are not token-separable — which is precisely the
    * label-trustworthiness verdict the confusion-matrix audit exists to
    * deliver, not a model defect (measured: char-bigram features do
    * WORSE, 0.30, confirming the labels carry no textual signal).
    */
  val llmNbLangClassifier: Q = Q(
    "llm_nb_lang_classifier",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
      val train = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("lang"), col("text"))
      val test = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang").as("lang_true"), col("text"))
      val cst = train
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
        .truncated // feeds class totals, vocab size AND the model join
      val tots = cst.groupBy(col("lang")).agg(sum(col("c")).as("tot"))
      val vv = cst.agg(countDistinct(col("tok")).as("v"))
      // d (total train docs) = Σ n_docs over the |classes|-row ds — an
      // exact integer window sum BEFORE the tots join (a lang with docs
      // but no tokens must still count), so the separate full train-side
      // count scan the old `dd` aggregate ran is dead work; cls is also
      // single-consumer (the broadcast below), so no truncation
      val ds = train.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("d", sum(col("n_docs")).over(Window.partitionBy()))
      val cls = tots.join(ds, "lang")
        .crossJoin(broadcast(vv))
        .select(col("lang"), col("tot"), col("v"),
          round(log(lit(1.0) / (col("tot") + col("v"))), 6)
            .cast(DecimalType(18, 6)).as("lp0"),
          round(log(col("n_docs").cast(DoubleType) / col("d")), 6)
            .cast(DecimalType(18, 6)).as("prior"))
      val lp = cst.join(tots, "lang").crossJoin(broadcast(vv))
        .select(col("tok"), col("lang"),
          round(log((col("c") + 1).cast(DoubleType) / (col("tot") + col("v"))), 6)
            .cast(DecimalType(18, 6)).as("lp"))
      val tc = test
        .select(col("doc_id"), col("lang_true"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("lang_true"), col("tok"))
        .agg(count(lit(1)).as("k"))
      val sc = tc
        .crossJoin(broadcast(cls.select(col("lang"), col("lp0"), col("prior"))))
        .join(lp, Seq("tok", "lang"), "left")
        .groupBy(col("doc_id"), col("lang_true"), col("lang"), col("prior"))
        .agg(sum(col("k") * coalesce(col("lp"), col("lp0"))).as("s"))
        .withColumn("score", col("prior") + col("s"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("lang").asc)
      sc.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy(col("lang_true"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang_true"), col("lang").as("lang_pred"), col("n"))
        .orderBy(asc_nulls_first("lang_true"), asc_nulls_first("lang_pred"))
    },
    Some("""WITH train AS (SELECT doc_id, lang, text FROM documents
                           WHERE doc_id % 5 <> 0),
            test AS (SELECT doc_id, lang AS lang_true, text FROM documents
                     WHERE doc_id % 5 = 0),
            cst AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
                    FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
                          FROM train)
                    GROUP BY 1, 2),
            tots AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot
                     FROM cst GROUP BY 1),
            vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM cst),
            dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM train),
            ds AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                   FROM train GROUP BY 1),
            cls AS (SELECT t.lang, t.tot, vv.v,
                           CAST(round(ln(CAST(1 AS DOUBLE) / (t.tot + vv.v)), 6)
                                AS DECIMAL(18,6)) AS lp0,
                           CAST(round(ln(CAST(ds.n_docs AS DOUBLE) / dd.d), 6)
                                AS DECIMAL(18,6)) AS prior
                    FROM tots t JOIN ds USING (lang)
                    CROSS JOIN vv CROSS JOIN dd),
            lp AS (SELECT c.tok, c.lang,
                          CAST(round(ln(CAST(c.c + 1 AS DOUBLE)
                                        / (t.tot + vv.v)), 6)
                               AS DECIMAL(18,6)) AS lp
                   FROM cst c JOIN tots t USING (lang) CROSS JOIN vv),
            tc AS (SELECT doc_id, lang_true, tok,
                          CAST(count(*) AS BIGINT) AS k
                   FROM (SELECT doc_id, lang_true,
                                unnest(string_split(text, ' ')) AS tok
                         FROM test)
                   GROUP BY 1, 2, 3),
            sc AS (SELECT tc.doc_id, tc.lang_true, cls.lang,
                          cls.prior + sum(tc.k * COALESCE(lp.lp, cls.lp0))
                            AS score
                   FROM tc CROSS JOIN cls
                   LEFT JOIN lp ON lp.tok = tc.tok AND lp.lang = cls.lang
                   GROUP BY 1, 2, 3, cls.prior),
            pred AS (SELECT doc_id, lang_true, lang AS lang_pred,
                            row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, lang) AS rk
                     FROM sc)
            SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
            FROM pred WHERE rk = 1
            GROUP BY 1, 2
            ORDER BY lang_true NULLS FIRST, lang_pred NULLS FIRST"""))

  /** Fully ORACLE-CHECKED (r18): the native [[graft.functions.BigramCounts]]
    * kernel only changes HOW the per-(lang, bigram) totals are produced —
    * its counts equal the one-row-per-character-position substr explode,
    * which IS SQL — and every downstream step (top-20 rank with the
    * (n DESC, bg) tiebreak, contains-overlap scoring, smallest-lang
    * argmax) is exact integer arithmetic both engines replay, so the
    * DuckDB oracle reproduces the whole classifier including the
    * profile build.
    */
  val llmLangIdNgram: Q = Q(
    "llm_lang_id_ngram",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
      scoreByProfile(docs, langProfiles(docs))
    },
    Some("""WITH bgpos AS (SELECT lang,
                     unnest(list_transform(range(1, length(text)),
                            i -> substr(text, i, 2))) AS bg
                   FROM documents),
            counts AS (SELECT lang, bg, COUNT(*) AS n
                       FROM bgpos GROUP BY lang, bg),
            prof AS (SELECT lang, bg FROM (
                       SELECT lang, bg,
                              row_number() OVER (PARTITION BY lang
                                                 ORDER BY n DESC, bg) AS rk
                       FROM counts) WHERE rk <= 20),
            ov AS (SELECT d.doc_id, d.lang, p.lang AS cand,
                          CAST(sum(CASE WHEN contains(d.text, p.bg)
                                        THEN 1 ELSE 0 END) AS BIGINT) AS overlap
                   FROM documents d CROSS JOIN prof p
                   GROUP BY d.doc_id, d.lang, p.lang),
            best AS (SELECT doc_id, lang, cand AS predicted, overlap,
                            row_number() OVER (PARTITION BY doc_id
                                               ORDER BY overlap DESC, cand) AS rk
                     FROM ov)
            SELECT doc_id, lang, predicted, overlap FROM best WHERE rk = 1
            ORDER BY doc_id NULLS FIRST"""))

  /** Distributed per-language top-20 character-bigram profiles. The
    * collected result is `n_langs × 20` rows REGARDLESS of corpus size
    * (O(1) driver state); langs sorted ascending for a stable argmax
    * tiebreak downstream.
    *
    * The generator input is the native map-returning
    * [[graft.functions.BigramCounts]] expression — per-doc bigram counts
    * in one kernel pass, so `explode` emits one row per DISTINCT bigram
    * per doc (summed per (lang, bigram), exactly the totals the one-row-
    * per-character-position `substr` explode produced) instead of one row
    * per character of the corpus.
    */
  private[operators] def langProfiles(docs: DataFrame): Seq[(String, Seq[String])] = {
    org.apache.spark.sql.graft.GraftFunctions.register(docs.sparkSession)
    docs.select(col("lang"), explode(expr("graft_bigram_counts(text)")).as(Seq("bg", "cnt")))
      .groupBy(col("lang"), col("bg")).agg(sum(col("cnt")).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bg"))))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("bg"))
      .collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq.sorted)
      .toSeq.sortBy(_._1)
  }

  /** One classification pass, fully inside whole-stage codegen: per lang,
    * overlap = count of its profile bigrams PRESENT in the text — equal to
    * |profile ∩ doc-bigram-set|, since a 2-char substring occurs in `text`
    * iff it is one of the text's bigrams — as a sum of `contains` terms;
    * argmax via `greatest` over (overlap, -langIndex) structs, so ties
    * break to the lexicographically smallest lang exactly like the
    * previous rank()-based form.
    */
  private[operators] def scoreByProfile(
      docs: DataFrame, profile: Seq[(String, Seq[String])]): DataFrame = {
    require(profile.nonEmpty,
      "lang profile is empty (no documents / no langs) — nothing to score against")
    val scored = profile.zipWithIndex.map { case ((_, bgs), i) =>
      val overlap = bgs.map(bg =>
        when(col("text").contains(bg), 1).otherwise(0)).reduce(_ + _)
      struct(overlap.as("overlap"), lit(-i).as("ni"))
    }
    val best = if (scored.size > 1) greatest(scored: _*) else scored.head
    val langNames = typedLit(profile.map(_._1))
    docs.select(col("doc_id"), col("lang"), col("text"))
      .withColumn("best", best)
      .select(col("doc_id"), col("lang"),
        element_at(langNames, lit(1) - col("best.ni")).as("predicted"),
        col("best.overlap").cast(LongType).as("overlap"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Repetition filters (the Gopher-rules shape): per-document share of
    * the most frequent token and duplicate-bigram fraction, with a
    * combined `repetitive` flag — the standard "drop boilerplate/spam"
    * gate of a training-data pipeline. Pure per-row HOF arithmetic
    * (no shuffle at all: one scan, one projection); counts are exact
    * ints, the two ratios are single double divisions (§2.0 rule 3).
    * `top_tok_n` (max token multiplicity) is the max RUN LENGTH of the
    * sorted token array: one `array_sort` + one O(n) `aggregate` fold —
    * O(n log n) per doc even on pathological long low-diversity docs
    * (the exact docs a repetition filter exists to catch), versus the
    * naive |distinct| × |tokens| count-each-distinct loop. The oracle
    * keeps the naive form — the value is algorithm-independent, so the
    * hash compare also proves the fold correct on every corpus doc.
    */
  val llmRepetitionStats: Q = Q(
    "llm_repetition_stats",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"),
          expr("CAST(size(t) AS BIGINT)").as("n_tokens"),
          expr("""CASE WHEN size(t) = 0 THEN CAST(NULL AS BIGINT) ELSE
                  aggregate(array_sort(t),
                    named_struct('prev', CAST(NULL AS STRING),
                                 'run',  CAST(0 AS BIGINT),
                                 'best', CAST(0 AS BIGINT)),
                    (a, x) -> named_struct('prev', x,
                      'run',  CASE WHEN x = a.prev THEN a.run + 1
                                   ELSE CAST(1 AS BIGINT) END,
                      'best', greatest(a.best,
                        CASE WHEN x = a.prev THEN a.run + 1
                             ELSE CAST(1 AS BIGINT) END)),
                    a -> a.best) END""").as("top_tok_n"),
          expr("""CAST(CASE WHEN size(t) >= 2
                       THEN size(t) - 1 ELSE 0 END AS BIGINT)""").as("n_bigrams"),
          expr("""CAST(CASE WHEN size(t) >= 2
                       THEN size(array_distinct(transform(sequence(1, size(t) - 1),
                                i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))))
                       ELSE 0 END AS BIGINT)""").as("n_distinct_bigrams"))
        .withColumn("top_share", col("top_tok_n").cast(DoubleType) / col("n_tokens"))
        // n_bigrams is 0 for sub-2-token docs and ANSI division by zero
        // THROWS — null (not a crash) is the defined value there, matching
        // the oracle's CASE
        .withColumn("dup_bigram_frac",
          when(col("n_bigrams") > 0,
            lit(1.0) - col("n_distinct_bigrams").cast(DoubleType) / col("n_bigrams")))
        .withColumn("repetitive",
          col("top_share") > 0.2 || col("dup_bigram_frac") > 0.5)
        .orderBy(asc_nulls_first("doc_id")),
    Some("""WITH b AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            c AS (SELECT doc_id,
                         CAST(len(t) AS BIGINT) AS n_tokens,
                         CAST(list_aggregate(list_transform(list_distinct(t),
                                d -> len(list_filter(t, x -> x = d))), 'max') AS BIGINT) AS top_tok_n,
                         CAST(CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END AS BIGINT) AS n_bigrams,
                         CAST(CASE WHEN len(t) >= 2
                              THEN len(list_distinct(list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i + 1])))
                              ELSE 0 END AS BIGINT) AS n_distinct_bigrams
                  FROM b)
            SELECT doc_id, n_tokens, top_tok_n, n_bigrams, n_distinct_bigrams,
                   CAST(top_tok_n AS DOUBLE) / n_tokens AS top_share,
                   CASE WHEN n_bigrams > 0
                        THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams END
                     AS dup_bigram_frac,
                   (CAST(top_tok_n AS DOUBLE) / n_tokens > 0.2
                    OR CASE WHEN n_bigrams > 0
                            THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams END > 0.5)
                     AS repetitive
            FROM c ORDER BY doc_id NULLS FIRST"""))

  /** Benchmark-decontamination screen: distinct 5-gram shingles of every
    * non-eval document are checked against the union of eval-set shingles
    * (the eval set here is the deterministic `doc_id % 50 = 0` slice —
    * in production, the benchmark suites). Output per non-eval doc:
    * shingle count, overlapping-shingle count, contamination fraction,
    * flag. (Docs with <5 tokens have no shingles and are absent from the
    * output by definition — in both engines.) At 100 TB the eval shingle
    * set is tiny and broadcasts — the scan side is ONE Generator +
    * left-broadcast-join + hash-agg pass (`count(*)` vs `count(hit)`
    * yields total and overlapping shingles together); no corpus×corpus
    * join ever exists. Shingles collapse to xxhash64 longs BEFORE the
    * corpus-wide distinct (the `llm_ngram_jaccard`/`llm_substring_dedup`
    * discipline — the op's dominant shuffle carries 8-byte keys, not
    * ~60-char strings), and the shared shingle plan is materialized ONCE
    * so the eval side and the probe side don't each re-explode the
    * corpus. The oracle joins on the raw strings — agreement also
    * certifies the hash path collision-free on this corpus.
    */
  val llmContaminationNgram: Q = Q(
    "llm_contamination_ngram",
    (s, d) => {
      val sh = Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(t) >= 5
               THEN transform(sequence(1, size(t) - 4),
                              i -> xxhash64(concat_ws(' ', slice(t, i, 5))))
               ELSE CAST(array() AS array<bigint>) END""")).as("sh"))
        .distinct()
        .truncated
      val evalSh = sh.filter(col("doc_id") % 50 === 0)
        .select(col("sh")).distinct().withColumn("hit", lit(1))
      sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(evalSh), Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
        .withColumn("contam_frac",
          col("n_overlap").cast(DoubleType) / col("n_shingles"))
        .withColumn("contaminated", col("n_overlap") > 0)
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i FROM toks),
            sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh FROM pos),
            ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
            ne AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0),
            tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM ne GROUP BY doc_id),
            ov AS (SELECT ne.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
                   FROM ne JOIN ev USING (sh) GROUP BY ne.doc_id)
            SELECT t.doc_id, t.n_shingles,
                   COALESCE(o.n_overlap, 0) AS n_overlap,
                   CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / t.n_shingles AS contam_frac,
                   COALESCE(o.n_overlap, 0) > 0 AS contaminated
            FROM tot t LEFT JOIN ov o ON t.doc_id = o.doc_id
            ORDER BY t.doc_id NULLS FIRST"""))

  /** Per-document n-gram NOVELTY profile — for each doc, the fraction of
    * its distinct 5-gram shingles appearing in NO earlier document
    * (doc_id order = corpus ingestion order): the memorization/freshness
    * probe a curation pipeline runs to find documents that only repeat
    * what the corpus already contains (novelty ≈ 0 → candidate drop;
    * the per-doc complement of corpus-level `llm_substring_dedup`).
    * One Generator pass → per-doc distinct shingles → a single
    * `min(doc_id)` hash agg per shingle (map-side partial) → join back
    * and count first-owners. Shingles collapse to xxhash64 longs before
    * the shuffle (8-byte keys — the 100 TB shuffle shape, exactly as
    * the other shingle ops); the oracle groups the raw 5-gram strings,
    * so agreement also certifies the hash path collision-free on this
    * corpus (same accepted-collision disclosure as
    * [[llmContaminationNgram]]). The novelty ratio is one exact-operand
    * double division. Docs under 5 tokens have no shingles and drop out
    * in both engines.
    */
  val llmNgramNovelty: Q = Q(
    "llm_ngram_novelty",
    (s, d) => {
      val sh = Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(t) >= 5
               THEN transform(sequence(1, size(t) - 4),
                              i -> xxhash64(concat_ws(' ', slice(t, i, 5))))
               ELSE CAST(array() AS array<bigint>) END""")).as("sh"))
        .distinct()
      // first-owner via a window min over the shingle partition: the
      // groupBy(min) + join-back formulation shuffled the (doc, sh)
      // table by sh TWICE (agg build + probe side) and needed an eager
      // materialization to share the distinct; one window pass does it
      // in a single sh-exchange with a single consumer
      sh.withColumn("first_doc",
          min(col("doc_id")).over(Window.partitionBy(col("sh"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast(DoubleType) / col("n_shingles"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i FROM toks),
            sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh FROM pos),
            fst AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
            SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel,
                   CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) AS novelty
            FROM sh s JOIN fst f USING (sh)
            GROUP BY s.doc_id ORDER BY s.doc_id NULLS FIRST"""))

  /** Exact-substring dedup (the RefinedWeb/CCNet granularity): document
    * pairs sharing at least one exact 20-token window, with the count of
    * shared windows — catches copied passages that survive document-level
    * near-dup because the surrounding text differs. Same skeleton as the
    * shingle ops: Generator → distinct (doc, window) → equi-join on the
    * window → pair hash-agg; 20-token windows are near-unique outside
    * true copies, so postings are shallow and the join never densifies.
    * Windows hash to 64-bit keys BEFORE the distinct + join (exactly as
    * `llm_ngram_jaccard` does), so the shuffle carries 8-byte keys
    * instead of ~150-char strings; the oracle joins on the strings —
    * agreement also certifies the hash path collision-free on this
    * corpus.
    */
  val llmSubstringDedup: Q = Q(
    "llm_substring_dedup",
    (s, d) => {
      val W = 20
      val sh = Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          s"""CASE WHEN size(t) >= $W
                THEN transform(sequence(1, size(t) - ${W - 1}),
                               i -> xxhash64(concat_ws(' ', slice(t, i, $W))))
                ELSE CAST(array() AS array<bigint>) END""")).as("win"))
        .distinct()
        // materialized ONCE: the self-join's aliased sides don't
        // ReuseExchange, so the window explode + distinct would run twice
        .truncated
      postingPairCounts(sh, "win", "n_shared")
        .orderBy(asc_nulls_first("id1"), asc("id2"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 18, 1))) AS i
                    FROM toks WHERE len(t) >= 20),
            sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+19], ' ') AS win
                   FROM pos)
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM sh a JOIN sh b USING (win)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 ORDER BY id1 NULLS FIRST, id2"""))

  /** MinHash Jaccard ESTIMATION — the measurement half of the minhash
    * machinery: for every banded candidate pair, the estimated Jaccard is
    * the fraction of agreeing signature positions (an unbiased estimator,
    * σ = √(J(1−J)/k) ≈ 0.11 at k=16). The downstream use is
    * threshold-free dup-rate profiling: estimate the full similarity
    * histogram of a corpus WITHOUT computing any exact intersection.
    * Candidates + signatures are two outputs of the same one-pass sig
    * build, and the estimate is `matching / k` over the match count
    * [[minhashPairs]] ALREADY emits per pair (r21: the former plan
    * dropped `matching`, re-joined the signature table twice and
    * re-counted agreements with a zip_with fold — two dead exchanges on
    * the op's only corpus-sized table; the round-4 value is
    * bit-identical, integer-over-16 division both ways). Fully
    * oracle-checked (portable md5-prefix signatures, [[minhashSigs]]);
    * the spec additionally bounds the mean absolute error against exact
    * Jaccard — the oracle proves the arithmetic, the MAE bound proves
    * the estimator.
    */
  val llmMinhashJaccardEst: Q = Q(
    "llm_minhash_jaccard_est",
    (s, d) => {
      val toks = docTokens(s, d)
      val sigs = corpusToksAndSigs(s, d)._2
      minhashPairs(s, toks, precomputedSigs = Some(sigs))
        .select(col("id1"), col("id2"),
          round(col("matching").cast(DoubleType) / 16.0, 4).as("j_est"))
        .orderBy(asc_nulls_first("id1"), asc("id2"))
    },
    Some(s"""WITH $minhashSigsSql
        SELECT c.id1, c.id2,
               round(CAST(len(list_filter(range(1, 17),
                               i -> s1.sig[i] = s2.sig[i]))
                          AS DOUBLE) / 16, 4) AS j_est
        FROM cand c JOIN sigs s1 ON s1.doc_id = c.id1
                    JOIN sigs s2 ON s2.doc_id = c.id2
        ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** MinHash estimator CALIBRATION curve — the measurement that closes
    * the minhash family's loop: for every banded candidate pair on the
    * portable `doc_id % 5 = 1` shard, bucket by MATCHING signature count
    * (the estimator's 17 discrete levels) and report, per level, the
    * pair count, the mean EXACT Jaccard, and the mean absolute
    * estimation error. This is the table a dedup rollout reads to pick
    * its production matching threshold (the empirical form of the
    * σ=√(J(1−J)/k) bound `llm_minhash_jaccard_est` states analytically)
    * — and it became fully hash-checkable only once BOTH sides were
    * portable: the md5-prefix signatures (r19) and the shard-scoped
    * exact-Jaccard machinery (`llm_dedup_keep_best`'s precedent).
    * Scale shape: the candidate join is the banded minhash plan; the
    * exact-J side is ADAPTIVE like [[jaccardPairs]] (r21): under a
    * ≤64-token vocabulary each doc's token set is one [[tokenMasks]]
    * long and every candidate pair's exact intersection is
    * `bit_count(mask1 & mask2)` in codegen — two small-side joins onto
    * the candidate list instead of the Σ_tok df(tok)² inverted-index
    * self-join (whose intermediate dwarfs the candidate set on a dense
    * small vocab); larger vocabularies keep the inverted-index join.
    * Both paths produce the identical exact integers (the bitmask ⊆
    * bit-encoding of the same sets; oracle hash-checks the curve). The
    * curve is a 17-cell hash agg — per-pair doubles are summed as exact
    * DECIMALs so the means are order-independent (the
    * `agg_weighted_median` discipline).
    */
  val llmMinhashCalibration: Q = Q(
    "llm_minhash_calibration",
    (s, d) => {
      val shard = col("doc_id") % lit(5) === 1
      val toks = docTokens(s, d).filter(shard)
      val sigs = corpusToksAndSigs(s, d)._2.filter(shard)
      val cand = minhashPairs(s, toks, precomputedSigs = Some(sigs))
        .select(col("id1"), col("id2"), col("matching"))
      val withJx = tokenMasks(toks) match {
        case Some(masks) =>
          // every sig'd doc has ≥1 token, hence a mask row — inner joins
          // lose nothing; a pair sharing no token gets inter = 0 from the
          // AND, exactly the left-join coalesce the fallback spells out
          cand
            .join(masks.select(col("doc_id").as("id1"),
              col("mask").as("m1"), col("sz").as("n1")), "id1")
            .join(masks.select(col("doc_id").as("id2"),
              col("mask").as("m2"), col("sz").as("n2")), "id2")
            .withColumn("inter",
              expr("cast(bit_count(m1 & m2) as bigint)"))
        case None =>
          val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
          val inter = postingPairCounts(
            toks.select(col("doc_id"), col("tok")), "tok", "inter")
          cand
            .join(inter, Seq("id1", "id2"), "left")
            .join(sizes.select(col("doc_id").as("id1"), col("sz").as("n1")), "id1")
            .join(sizes.select(col("doc_id").as("id2"), col("sz").as("n2")), "id2")
            .withColumn("inter", coalesce(col("inter"), lit(0L)))
      }
      val j = withJx
        .select(col("matching"),
          (col("inter").cast(DoubleType) /
            (col("n1") + col("n2") - col("inter")))
            .as("jx"))
        .withColumn("est", col("matching").cast(DoubleType) / 16.0)
      j.groupBy(col("matching"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jx").cast(DecimalType(28, 10))).as("sj"),
          sum(abs(col("est") - col("jx")).cast(DecimalType(28, 10))).as("se"))
        .select(col("matching"), col("n_pairs"),
          round(col("sj").cast(DoubleType) / col("n_pairs"), 4)
            .as("mean_exact_j"),
          round(col("se").cast(DoubleType) / col("n_pairs"), 4)
            .as("mean_abs_err"))
        .orderBy(asc_nulls_first("matching"))
    },
    Some(s"""WITH ${minhashSigsSqlFor("WHERE doc_id % 5 = 1")},
        m AS (SELECT c.id1, c.id2,
                     CAST(len(list_filter(range(1, 17),
                              i -> s1.sig[i] = s2.sig[i])) AS BIGINT)
                       AS matching
              FROM cand c JOIN sigs s1 ON s1.doc_id = c.id1
                          JOIN sigs s2 ON s2.doc_id = c.id2),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                         CAST(COUNT(*) AS BIGINT) AS inter
                  FROM toks a JOIN toks b
                    ON a.tok = b.tok AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        j AS (SELECT m.matching,
                     CAST(coalesce(i.inter, 0) AS DOUBLE)
                       / (s1.sz + s2.sz - coalesce(i.inter, 0)) AS jx,
                     CAST(m.matching AS DOUBLE) / 16 AS est
              FROM m LEFT JOIN inter i USING (id1, id2)
              JOIN sizes s1 ON m.id1 = s1.doc_id
              JOIN sizes s2 ON m.id2 = s2.doc_id)
        SELECT matching, CAST(count(*) AS BIGINT) AS n_pairs,
               round(CAST(sum(CAST(jx AS DECIMAL(28,10))) AS DOUBLE)
                     / count(*), 4) AS mean_exact_j,
               round(CAST(sum(CAST(abs(est - jx) AS DECIMAL(28,10))) AS DOUBLE)
                     / count(*), 4) AS mean_abs_err
        FROM j GROUP BY matching ORDER BY matching NULLS FIRST"""))

  /** Per-label embedding CENTROID drift — the class-geometry audit an
    * embedding-quality dashboard tracks next to the kNN probe: for each
    * label, the EXACT per-coordinate mean vector, reported as its
    * cosine to the GLOBAL centroid (→1 = the class sits on the corpus
    * mean, i.e. no separation; low/negative = the class pulls away —
    * drift when tracked across data batches) and its norm (→0 = the
    * class's vectors cancel, another collapse signal). Everything is
    * order-independent by construction, which is what makes a
    * FLOAT-mean quantity oracle-able where IVF's iterative means are
    * not: per-(label, coord) sums accumulate as exact DECIMALs (one
    * map-side-combinable hash agg over the posexploded coordinates —
    * 64·|labels| cells regardless of corpus size), means are one double
    * division each, and the 64-term cosine reduces over DECIMAL
    * products of those means. At 100 TB the only corpus-sized work is
    * the coordinate explode feeding the partial agg.
    */
  val llmLabelCentroidDrift: Q = Q(
    "llm_label_centroid_drift",
    (s, d) => {
      val pe = Tables.read(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("label"), col("pos"),
          col("v").cast(DoubleType).as("v"))
        .truncated // feeds the per-label AND the global sum
      val labm = pe.groupBy(col("label"), col("pos"))
        .agg(sum(col("v").cast(DecimalType(27, 10))).as("sv"),
          count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          (col("sv").cast(DoubleType) / col("n")).as("lm"), col("n"))
      val glob = pe.groupBy(col("pos"))
        .agg(sum(col("v").cast(DecimalType(27, 10))).as("gv"),
          count(lit(1)).as("gn"))
        .select(col("pos"), (col("gv").cast(DoubleType) / col("gn")).as("gm"))
      labm.join(glob, "pos")
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          sum((col("lm") * col("gm")).cast(DecimalType(30, 12))).as("sdot"),
          sum((col("lm") * col("lm")).cast(DecimalType(30, 12))).as("sll"),
          sum((col("gm") * col("gm")).cast(DecimalType(30, 12))).as("sgg"))
        .select(col("label"), col("n_vecs"),
          round(col("sdot").cast(DoubleType) /
            (sqrt(col("sll").cast(DoubleType))
              * sqrt(col("sgg").cast(DoubleType))), 6).as("cos_to_global"),
          round(sqrt(col("sll").cast(DoubleType)), 6).as("centroid_norm"))
        .orderBy(asc_nulls_first("label"))
    },
    // pe mirrors Spark's posexplode exactly: a NULL embedding emits no
    // rows (the generator over NULL), and the dim fan-out is capped by
    // the array's own length (the corpus contract is 64, as the whole
    // cosine family assumes)
    Some("""WITH pe AS (SELECT label, i AS pos,
                               CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                                 AS v
                        FROM embeddings
                        CROSS JOIN (SELECT unnest(range(0, 64)) AS i) dims
                        WHERE embedding IS NOT NULL
                          AND i < len(embedding)),
            labm AS (SELECT label, pos,
                            CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE)
                              / count(*) AS lm,
                            count(*) AS n
                     FROM pe GROUP BY 1, 2),
            gbl AS (SELECT pos,
                            CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE)
                              / count(*) AS gm
                     FROM pe GROUP BY 1),
            agg AS (SELECT l.label,
                           CAST(max(l.n) AS BIGINT) AS n_vecs,
                           CAST(sum(CAST(l.lm * g.gm AS DECIMAL(30,12)))
                                AS DOUBLE) AS sdot,
                           CAST(sum(CAST(l.lm * l.lm AS DECIMAL(30,12)))
                                AS DOUBLE) AS sll,
                           CAST(sum(CAST(g.gm * g.gm AS DECIMAL(30,12)))
                                AS DOUBLE) AS sgg
                    FROM labm l JOIN gbl g USING (pos)
                    GROUP BY l.label)
            SELECT label, n_vecs,
                   round(sdot / (sqrt(sll) * sqrt(sgg)), 6) AS cos_to_global,
                   round(sqrt(sll), 6) AS centroid_norm
            FROM agg ORDER BY label NULLS FIRST"""))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * k-means clustering THEN within-cluster cosine near-dup — the
    * clustering is the blocking step, so the quadratic scan shrinks from
    * n² to Σ|cluster|², and at 100 TB each cluster is one shuffle
    * partition (`list_id` key) processed independently. Reuses the IVF
    * spherical-k-means machinery; exactly-deterministic assignment +
    * rounded scores. Rows-only (simhash-style: hash-seeded clustering not
    * SQL-portable) — spec proves every pair is (a) co-clustered and (b) a
    * subset of the exact all-pairs cosine dups at the same τ.
    */
  val llmSemdedupCentroid: Q = Q(
    "llm_semdedup_centroid",
    (s, d) => {
      val e = Tables.read(s, d, "embeddings")
      val centroids = ivfCentroids(e, nLists = 8, iters = 2)
      // materialize the assignment ONCE before the self-join references it
      // twice — Spark does not ReuseExchange across the aliased sides, so
      // without this the codegen'd centroid argmax runs per side
      val assigned = assignLists(e, centroids)
        .select(col("list_id"), col("vec_id"), col("embedding"))
        .truncated
      val a = assigned.select(col("list_id"), col("vec_id").as("id1"),
        col("embedding").as("e1"))
      val b = assigned.select(col("list_id"), col("vec_id").as("id2"),
        col("embedding").as("e2"))
      a.join(b, Seq("list_id"))
        .filter(col("id1") < col("id2"))
        .withColumn("score", round(cosineCols(s)("e1", "e2"), 4))
        .filter(col("score") >= 0.35)
        .select(col("list_id"), col("id1"), col("id2"), col("score"))
        .orderBy(asc_nulls_first("id1"), asc("id2"))
    },
    None)

  /** Deterministic multiplicative scramble of the doc id — the orderable
    * pseudo-random key behind sampling/splitting, exact in both engines
    * (64-bit-safe: doc_id × Knuth's 2654435761 stays < 2^63 for any
    * realistic id, then mod 1e9+7). A stand-in for a salted xxhash64,
    * which is not oracle-portable; swap the hash in production, the plan
    * shape is identical.
    */
  private[operators] val scrambleSql = "(doc_id * 2654435761) % 1000000007"

  /** Stratified sampling with exact per-stratum quotas — the data-mixing
    * step of a training pipeline (N docs per language here; per-source
    * weights are the same shape). Deterministic: rank by the scramble
    * within each stratum, keep the first N. The window is ONE shuffle on
    * the stratum key; with few heavy strata at 100 TB, pre-filter by a
    * scramble threshold (rate-based sampling, shuffle-free) to decimate
    * before the exact-quota rank, or salt the stratum for the partial
    * top-N (the Windows.agg_topk_per_group discussion applies verbatim).
    */
  val llmStratifiedSample: Q = Q.sql(
    "llm_stratified_sample",
    s"""WITH r AS (
          SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY $scrambleSql, doc_id) AS rk
          FROM documents)
        SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= 40
        ORDER BY lang NULLS FIRST, rk""")

  /** ONE definition of the 90/5/5 split law for BOTH engines — shared
    * by `llm_train_split` and `llm_split_leakage_audit` so a ratio or
    * scramble change cannot silently desynchronize the audit from the
    * split it audits (the [[graft.functions.PortableHash.duckDbHash60Sql]]
    * single-rendering discipline).
    */
  private def splitWhen(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")

  private val splitCaseSql: String =
    s"""CASE WHEN ($scrambleSql) % 100 < 90 THEN 'train'
             WHEN ($scrambleSql) % 100 < 95 THEN 'val'
             ELSE 'test' END"""

  /** Deterministic train/val/test split assignment (90/5/5 by scramble
    * bucket) — one scan, zero shuffles, reproducible across runs and
    * engines; the standard holdout step every dataset build ends with.
    */
  val llmTrainSplit: Q = Q(
    "llm_train_split",
    (s, d) =>
      Tables.read(s, d, "documents")
        .withColumn("bucket", expr(s"($scrambleSql) % 100"))
        .select(col("doc_id"), col("lang"), col("bucket"),
          splitWhen(col("bucket")).as("split"))
        .orderBy(asc_nulls_first("doc_id")),
    Some(s"""SELECT doc_id, lang,
                    ($scrambleSql) % 100 AS bucket,
                    $splitCaseSql AS split
             FROM documents ORDER BY doc_id NULLS FIRST"""))

  /** Train/val/test SPLIT-LEAKAGE audit — the gate a training run
    * checks before trusting its eval numbers: an eval document whose
    * EXACT text also appears in train (by md5 digest, the
    * [[llmDedupExactDigest]] identity) leaks the answer key, and the
    * split law alone cannot prevent it — duplicates straddle bucket
    * boundaries because the split hashes doc_id, not content. Same
    * split law as `llm_train_split` (scramble % 100 → 90/5/5), digests
    * once per doc; per eval split: doc count, leaked count (digest
    * ∈ train's distinct digest set — one digest-keyed left-semi join,
    * 16-byte keys through the shuffle, map-side distinct on the build
    * side), leak rate. At 100 TB this is exactly the decontamination
    * join shape (`llm_contamination_ngram` is the fuzzy sibling; this
    * is the exact one).
    */
  val llmSplitLeakageAudit: Q = Q(
    "llm_split_leakage_audit",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
        .withColumn("bucket", expr(s"($scrambleSql) % 100"))
        .withColumn("split", splitWhen(col("bucket")))
        .select(col("doc_id"), col("split"),
          md5(col("text").cast("binary")).as("digest"))
        .truncated // referenced by the train side AND both eval aggs
      val trainDigests = docs.filter(col("split") === "train")
        .select(col("digest")).distinct()
      val eval = docs.filter(col("split") =!= "train")
      val leaked = eval.join(trainDigests, Seq("digest"), "left_semi")
        .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
      eval.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .join(leaked, Seq("split"), "left")
        .select(col("split"), col("n_docs"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
        .withColumn("leak_rate",
          round(col("n_leaked").cast(DoubleType) / col("n_docs"), 6))
        .orderBy(asc_nulls_first("split"))
    },
    Some(s"""WITH docs AS (SELECT doc_id,
                    $splitCaseSql AS split,
                    md5(text) AS digest
             FROM documents),
        train AS (SELECT DISTINCT digest FROM docs WHERE split = 'train'),
        ev AS (SELECT * FROM docs WHERE split <> 'train'),
        leaked AS (SELECT split, CAST(count(*) AS BIGINT) AS n_leaked
                   FROM ev SEMI JOIN train USING (digest)
                   GROUP BY split)
        SELECT ev.split, CAST(count(*) AS BIGINT) AS n_docs,
               coalesce(any_value(l.n_leaked), 0) AS n_leaked,
               round(CAST(coalesce(any_value(l.n_leaked), 0) AS DOUBLE)
                     / count(*), 6) AS leak_rate
        FROM ev LEFT JOIN leaked l ON l.split = ev.split
        GROUP BY ev.split ORDER BY ev.split NULLS FIRST"""))

  /** Fixed-size uniform corpus sample (k = 200) — the distributed
    * equivalent of reservoir sampling, made DETERMINISTIC: tag every doc
    * with an md5 rank (a fixed pseudo-random permutation of doc ids —
    * reproducible across runs/engines, unlike rand(), and overflow-free
    * at any id range, unlike the integer scramble) and keep the k
    * smallest ranks. The k smallest of a uniform tag IS a uniform
    * k-sample — the same argument that makes classic reservoir sampling
    * work. Physically this is `TakeOrderedAndProject`: per-partition
    * top-k heaps + a k-row driver merge — NO shuffle and no full sort at
    * any corpus size, which is exactly the map-side-reservoir +
    * merge-of-reservoirs plan a 100 TB sample needs
    * (`llm_stratified_sample` is the per-stratum-quota sibling; this is
    * the global fixed-budget one).
    */
  val llmReservoirSample: Q = Q(
    "llm_reservoir_sample",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          md5(concat(col("doc_id").cast(StringType), lit(":rsv"))
            .cast(BinaryType)).as("rsv_rank"))
        .orderBy(asc("rsv_rank"), asc("doc_id")).limit(200)
        .orderBy(asc_nulls_first("doc_id")),
    Some("""SELECT doc_id, lang, source, rsv_rank FROM (
              SELECT doc_id, lang, source,
                     md5(CAST(doc_id AS VARCHAR) || ':rsv') AS rsv_rank
              FROM documents
              ORDER BY rsv_rank NULLS FIRST, doc_id NULLS FIRST LIMIT 200)
            ORDER BY doc_id NULLS FIRST"""))

  /** Document fingerprinting: polynomial rolling hash over characters then
    * tokens, pure 64-bit-safe integer arithmetic (mod 1e9+7) expressible
    * identically in both engines via ordered left folds.
    */
  val llmDocFingerprint: Q = Q(
    "llm_doc_fingerprint",
    (s, d) =>
      Tables.read(s, d, "documents")
        .select(col("doc_id"),
          expr("""aggregate(
                    transform(split(text, ' '),
                      t -> aggregate(transform(sequence(1, length(t)), i -> ascii(substr(t, i, 1))),
                             0L, (a, c) -> (a * 31 + c) % 1000000007)),
                    0L, (acc, th) -> (acc * 1000003 + th) % 1000000007)""").as("fingerprint"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                         t -> list_reduce(
                                list_prepend(CAST(0 AS BIGINT),
                                  list_transform(range(1, length(t) + 1),
                                    i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
                                (a, c) -> (a * 31 + c) % 1000000007))),
                     (acc, th) -> (acc * 1000003 + th) % 1000000007) AS fingerprint
            FROM documents ORDER BY doc_id NULLS FIRST"""))

  // ---------------------------------------------------------- multimodal

  /** Multimodal column assembly: align text and embedding modalities on the
    * shared key (broadcast — the embedding side here is a fixed-size side
    * table; at 100 TB both sides bucket on the key). The final projection
    * unpacks the vector to scalars (dim, first/last element as exact
    * float→double casts): a raw array column breaks the driver's pandas
    * sort, and float→string rendering differs between engines.
    */
  val llmMultimodalJoin: Q = Q(
    "llm_multimodal_join",
    (s, d) => {
      val docs = Tables.read(s, d, "documents")
      val emb = Tables.read(s, d, "embeddings")
      docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("label"),
          size(col("embedding")).cast(LongType).as("dim"),
          element_at(col("embedding"), 1).cast(DoubleType).as("e_first"),
          element_at(col("embedding"), -1).cast(DoubleType).as("e_last"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""SELECT doc_id, lang, source, n_chars, label,
                   CAST(len(embedding) AS BIGINT) AS dim,
                   CAST(embedding[1] AS DOUBLE) AS e_first,
                   CAST(embedding[len(embedding)] AS DOUBLE) AS e_last
            FROM documents JOIN embeddings ON doc_id = vec_id
            ORDER BY doc_id NULLS FIRST"""))

  /** Deterministic grayscale-PNG fixture for [[llmMultimodalFeatures]]:
    * one REAL 8-bit PNG per doc of the `doc_id % 100 = 7` shard, with
    * dimensions and every pixel value in closed form of `doc_id` —
    * `w = 8 + id % 56`, `h = 8 + (id/56) % 56`,
    * `gray(x,y) = (31x + 17y + 13·id) % 256`. PNG is lossless, so the
    * decoded raster reproduces the formula bit-exactly, which is what
    * lets the DECODE op carry a full DuckDB oracle (the oracle never
    * touches the files — it recomputes the same closed forms from
    * `documents`). Built once per corpus via a driver write; the
    * fixture is test harness, the op under test is the
    * partition-parallel read + decode.
    */
  private[operators] def pngBlobsDir(s: SparkSession, d: String): String =
    Memo.corpus(d, "png_blobs") {
      val dir = graft.util.TempDirs.create("graft_png_blobs")
      Tables.read(s, d, "documents")
        .filter(col("doc_id") % 100 === 7)
        .select(col("doc_id")).collect()
        .foreach { r =>
          val id = r.getLong(0)
          val (w, h) = PngDecoder.dims(id)
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, PngDecoder.gray(id, x, y))
              x += 1
            }
            y += 1
          }
          val ok = javax.imageio.ImageIO.write(img, "png",
            dir.resolve(s"$id.png").toFile)
          require(ok, s"no PNG writer available for doc $id")
        }
      dir.toString
    }

  /** Multimodal feature extraction over an opaque binary column, via the
    * typed per-partition batch surface (the real plumbing for image
    * decode at scale: partition-parallel `binaryFile` scan, one decoder
    * init per partition, rows never collected to the driver). The decode
    * is REAL — `javax.imageio` PNG (pure JDK, no external codec dep):
    * width/height/pixel sums come from the decoded raster, the resize
    * arithmetic fits the decoded dims into a 32-px box, and the
    * frame-sampling arithmetic runs on a frame count read out of the
    * decoded pixel (0,0) (video codecs remain unavailable, so the frame
    * COUNT is data-embedded rather than container-parsed; the sampling
    * itself is the real uniform-stride arithmetic). Because the fixture
    * generator is closed-form in `doc_id` and PNG is lossless, every
    * output column is statable in SQL — the op is fully hash-checked,
    * not rows-only (the decode stub left the no-oracle tail in r20).
    */
  val llmMultimodalFeatures: Q = Q(
    "llm_multimodal_features",
    (s, d) => {
      import s.implicits._
      val payloads = s.read.format("binaryFile").load(pngBlobsDir(s, d))
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.png$", 1)
            .cast(LongType).as("doc_id"),
          col("content"))
        .as[(Long, Array[Byte])]
      payloads.mapPartitions { it =>
        // one decoder instance per partition (the expensive-init pattern)
        val decoder = new PngDecoder
        it.map { case (id, bytes) => decoder.decode(id, bytes) }
      }.toDF()
        .withColumn("gray_mean",
          round(col("gray_sum").cast(DoubleType) / col("n_pixels"), 4))
        // int-array → csv string in the final projection only: the driver's
        // pandas rows-check cannot sort raw arrays (ints render identically
        // everywhere, so csv is deterministic)
        .withColumn("frame_samples",
          expr("concat_ws(',', transform(frame_samples, x -> cast(x AS STRING)))"))
        .select("doc_id", "width", "height", "n_pixels", "gray_sum",
          "gray_mean", "resized_w", "resized_h", "n_frames", "frame_samples")
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH sh AS (SELECT doc_id,
                               8 + doc_id % 56 AS w,
                               8 + (doc_id // 56) % 56 AS h
                        FROM documents WHERE doc_id % 100 = 7),
            px AS (SELECT doc_id, w, h,
                          CAST(list_sum(flatten(list_transform(range(0, h),
                                 y -> list_transform(range(0, w),
                                   x -> (x*31 + y*17 + doc_id*13) % 256))))
                            AS BIGINT) AS gray_sum,
                          1 + ((doc_id*13) % 256) % 8 AS nf
                   FROM sh)
            SELECT doc_id,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(w*h AS BIGINT) AS n_pixels,
                   gray_sum,
                   round(CAST(gray_sum AS DOUBLE) / (w*h), 4) AS gray_mean,
                   CAST(CASE WHEN w <= 32 AND h <= 32 THEN w
                             WHEN w >= h THEN 32
                             ELSE greatest(1, (w*32) // h) END AS BIGINT)
                     AS resized_w,
                   CAST(CASE WHEN w <= 32 AND h <= 32 THEN h
                             WHEN w >= h THEN greatest(1, (h*32) // w)
                             ELSE 32 END AS BIGINT) AS resized_h,
                   CAST(nf AS BIGINT) AS n_frames,
                   CASE WHEN nf <= 3
                        THEN array_to_string(list_transform(range(0, nf),
                               i -> CAST(i AS VARCHAR)), ',')
                        ELSE array_to_string(list_transform(range(0, 3),
                               i -> CAST((i*nf) // 3 AS VARCHAR)), ',')
                   END AS frame_samples
            FROM px ORDER BY doc_id NULLS FIRST"""))

  /** Pure-JDK PNG decoder for the typed per-partition surface: decodes
    * the raster with `javax.imageio`, extracts dimension / pixel-sum /
    * resize / frame-sample features. One instance per partition (decoder
    * init is the expensive step a real codec amortizes the same way);
    * the in-memory ImageIO cache avoids per-image temp files.
    */
  final class PngDecoder extends Serializable {
    javax.imageio.ImageIO.setUseCache(false)

    def decode(id: Long, bytes: Array[Byte]): MultimodalFeatures = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"doc $id: payload is not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      val raster = img.getRaster
      var graySum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { graySum += raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      val frames = 1 + raster.getSample(0, 0, 0) % 8
      val (rw, rh) = resize(w, h, 32)
      MultimodalFeatures(
        doc_id = id,
        width = w.toLong,
        height = h.toLong,
        n_pixels = w.toLong * h,
        gray_sum = graySum,
        resized_w = rw.toLong,
        resized_h = rh.toLong,
        n_frames = frames.toLong,
        frame_samples = sampleFrames(frames, 3))
    }

    /** Fit (w, h) into a maxEdge box preserving aspect ratio (round down,
      * floor 1) — the arithmetic a real resize would use.
      */
    def resize(w: Int, h: Int, maxEdge: Int): (Int, Int) =
      if (w <= maxEdge && h <= maxEdge) (w, h)
      else if (w >= h) (maxEdge, math.max(1, h * maxEdge / w))
      else (math.max(1, w * maxEdge / h), maxEdge)

    /** Uniformly sample up to k frame indices from [0, n). */
    def sampleFrames(n: Int, k: Int): Seq[Int] =
      if (n <= k) 0 until n
      else (0 until k).map(i => i * n / k)
  }

  /** Closed forms shared by the PNG fixture writer and its tests — the
    * SAME formulas the DuckDB oracle states in SQL.
    */
  object PngDecoder {
    def dims(id: Long): (Int, Int) =
      (8 + (id % 56).toInt, 8 + ((id / 56) % 56).toInt)
    def gray(id: Long, x: Int, y: Int): Int =
      ((x * 31L + y * 17L + id * 13L) % 256L).toInt
  }

  // ---------------------------------------------------------- time series

  /** Per-user ordered value series (EDBT time-series similarity motif):
    * sort_array over collected (ts, event_id, value) structs — the ordering
    * is carried inside the collected elements, so the aggregation itself is
    * merge-order independent (scale-safe), with a unique event_id tiebreak.
    * The final projection renders the double series as a csv of
    * DECIMAL(18,2) strings: raw arrays break the driver's pandas sort, and
    * fixed-scale decimal is the one float rendering both engines print
    * identically (full scale, HALF_UP from the same double bits — the
    * corpus values are 2-decimal by construction).
    */
  val tsUserValueSeries: Q = Q(
    "ts_user_value_series",
    (s, d) =>
      Tables.read(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"), col("value"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          min(col("ts_us")).as("first_ts"),
          max(col("ts_us")).as("last_ts"),
          expr("transform(sort_array(collect_list(named_struct(" +
            "'ts_us', ts_us, 'event_id', event_id, 'value', value))), x -> x.value)")
            .as("series_arr"))
        .select(col("user_id"), col("n"), col("first_ts"), col("last_ts"),
          expr("concat_ws(',', transform(series_arr, " +
            "v -> cast(cast(v AS DECIMAL(18,2)) AS STRING)))").as("series"))
        .orderBy(asc_nulls_first("user_id")),
    Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(epoch_us(ts)) AS first_ts, MAX(epoch_us(ts)) AS last_ts,
                   array_to_string(
                     list_transform(list(value ORDER BY epoch_us(ts), event_id),
                       v -> CAST(CAST(v AS DECIMAL(18,2)) AS VARCHAR)), ',') AS series
            FROM events GROUP BY user_id ORDER BY user_id NULLS FIRST"""))

  /** Time-series resample + forward-fill: each user's event stream lands
    * on a regular hourly grid between their first and last event, each
    * grid hour carrying the most recent observed value — the gap-fill
    * step before windowed feature extraction. Scale shape: per-(user,
    * hour) last-observation is ONE map-side-combinable struct-max agg
    * (merge-order independent, event_id tiebreak); the grid explodes one
    * row per user and joins back on the same (user, hour) key; the fill
    * is one `last(ignoreNulls)` window per user. Grid size is bounded by
    * the observed span (≤720 h on this corpus) — in production cap the
    * span or coarsen the grid, since `sequence` materializes it.
    */
  val tsResampleFfill: Q = Q(
    "ts_resample_ffill",
    (s, d) => {
      val e = Tables.read(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("h", expr("ts_us div 3600000000"))
      // max_by keyed STRICTLY on (ts_us, event_id) — the oracle's
      // row_number orders by the same two columns, so the engines share
      // the exact tiebreak even if a (user, hour, ts_us, event_id) slot
      // ever held conflicting values. (event_id is unique, so the key is
      // total; map-side combinable like any declarative agg.)
      val obs = e.groupBy(col("user_id"), col("h"))
        .agg(max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("obs_value"))
      val grid = e.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("h"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("user_id", "h"), "left")
        .withColumn("value", last(col("obs_value"), ignoreNulls = true).over(w))
        .select(col("user_id"), (col("h") * lit(3600000000L)).as("hour_ts_us"),
          col("value"))
        .orderBy(asc_nulls_first("user_id"), asc("hour_ts_us"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                              epoch_us(ts) // 3600000000 AS h, event_id, value
                       FROM events),
            obs AS (SELECT user_id, h, value FROM (
                      SELECT user_id, h, value,
                             row_number() OVER (PARTITION BY user_id, h
                                                ORDER BY ts_us DESC, event_id DESC) AS rn
                      FROM e) WHERE rn = 1),
            bounds AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM e GROUP BY user_id),
            grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM bounds)
            SELECT g.user_id, g.h * 3600000000 AS hour_ts_us,
                   last_value(o.value IGNORE NULLS)
                     OVER (PARTITION BY g.user_id ORDER BY g.h
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
            FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
            ORDER BY g.user_id NULLS FIRST, hour_ts_us"""))

  /** Edit-distance (Levenshtein) near-dup pairs — the character-level
    * complement to the token-level Jaccard/MinHash family: catches
    * small-insertion / typo-level rewrites that token-set similarity
    * misses. Quadratic all-pairs Levenshtein is infeasible at any scale,
    * so the op is BLOCKED: docs equi-join on a 12-char text prefix (the
    * standard blocking key for near-identical records), and the O(L²)
    * distance runs only within blocks, on a 60-char head truncation that
    * caps per-pair cost. At 100 TB the prefix join is one shuffle keyed
    * by the block key, candidate pairs ≪ n²; for fuzzier blocking swap
    * the prefix for a fingerprint from `llm_doc_fingerprint`. Both
    * engines implement classic Levenshtein — integer output, exact
    * oracle.
    */
  val llmEditDistanceDup: Q = Q(
    "llm_edit_distance_dup",
    (s, d) => {
      val b = Tables.read(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 12).as("pfx"),
          substring(col("text"), 1, 60).as("h"))
      // prefix blocks are the hot-bucket shape too (boilerplate-leading
      // docs share pfx), and each candidate pays a Levenshtein — tile
      // past the budget so one block cannot serialize into one task
      tiledSelfJoin(b, "pfx")
        .filter(col("id1") < col("id2"))
        .withColumn("dist", levenshtein(col("h1"), col("h2")).cast(LongType))
        .filter(col("dist") <= 20)
        .select(col("id1"), col("id2"), col("dist"))
        .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
    },
    Some("""WITH b AS (SELECT doc_id, substr(text, 1, 12) AS pfx,
                              substr(text, 1, 60) AS head FROM documents)
            SELECT a.doc_id AS id1, c.doc_id AS id2,
                   CAST(levenshtein(a.head, c.head) AS BIGINT) AS dist
            FROM b a JOIN b c ON a.pfx = c.pfx AND a.doc_id < c.doc_id
            WHERE levenshtein(a.head, c.head) <= 20
            ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  /** Containment near-dup detection — the ASYMMETRIC measure Jaccard
    * misses: a short document wholly embedded in a long one has tiny
    * Jaccard (union is dominated by the long doc) but containment
    * |A∩B|/min(|A|,|B|) ≈ 1, which is exactly the quote/boilerplate/
    * excerpt duplication a pretraining corpus needs caught. Same
    * 3-gram-shingle engine as [[llmNgramJaccard]] (shingles collapse to
    * xxhash64 longs before the distinct and the inverted-index self-join,
    * so the corpus-wide shuffle carries fixed 8-byte keys; the oracle
    * computes on raw strings — a cross-shingle collision perturbs one
    * count with probability ~2⁻⁶⁴); only the denominator changes. The
    * shared shingle plan materializes once via cache, the candidate set
    * is bounded by shared-shingle density, and the threshold test is one
    * IEEE division on identical operands in both engines.
    */
  val llmDedupContainment: Q = Q(
    "llm_dedup_containment",
    (s, d) => {
      val sh = Tables.read(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"))
          .as("sh_raw"))
        .select(col("doc_id"), xxhash64(col("sh_raw")).as("sh"))
        .distinct()
        .cache()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = postingPairCounts(sh, "sh", "inter")
      inter
        .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "n1"), "id1")
        .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "n2"), "id2")
        .withColumn("containment",
          col("inter").cast(DoubleType) / least(col("n1"), col("n2")))
        .filter(col("containment") >= 0.08)
        .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"),
          col("containment"))
        .orderBy(asc_nulls_first("id1"), asc_nulls_first("id2"))
    },
    Some("""WITH sh AS (
              SELECT DISTINCT doc_id, unnest(list_transform(
                       range(1, len(string_split(text, ' ')) - 1),
                       i -> concat_ws(' ', string_split(text, ' ')[i],
                                           string_split(text, ' ')[i+1],
                                           string_split(text, ' ')[i+2]))) AS sh
              FROM documents),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT id1, id2, inter,
                   s1.sz AS n1, s2.sz AS n2,
                   CAST(inter AS DOUBLE) / least(s1.sz, s2.sz) AS containment
            FROM inter JOIN sizes s1 ON id1 = s1.doc_id
                       JOIN sizes s2 ON id2 = s2.doc_id
            WHERE CAST(inter AS DOUBLE) / least(s1.sz, s2.sz) >= 0.08
            ORDER BY id1 NULLS FIRST, id2 NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    llmDedupContainment,
    llmDedupExactText, llmDedupExactDigest, llmCrossSourceDedup,
    llmJaccardNearDup,
    llmNgramJaccard, llmDedupMinhash, llmDedupMinhashBanded,
    llmDedupSimhash, llmDedupClusterRep, llmDedupKeepBest, llmSubstringDedup,
    llmMinhashJaccardEst, llmMinhashCalibration, llmEditDistanceDup,
    llmSplitLeakageAudit, llmLabelCentroidDrift,
    llmCosineTopk, llmMmrDiversify, llmEmbedCosineDup, llmEmbedCosineDupLsh,
    llmEmbedCosineDupLshShuffled, llmAnnLshTopk, llmAnnRecallEval,
    llmAnnIvfTopk,
    llmHardNegativeMine, llmKnnLabelProbe, llmDedupThresholdSweep,
    llmAnnPqTopk, llmSemdedupCentroid,
    llmTextTokenStats, llmLangSourceDist, llmQualityScore, llmTokenCountBpe,
    llmLangIdNgram, llmNbLangClassifier, llmDatasetReport, llmOovRate,
    llmRepetitionStats,
    llmContaminationNgram, llmNgramNovelty,
    llmStratifiedSample, llmTrainSplit, llmReservoirSample,
    llmDocFingerprint, llmMultimodalJoin,
    llmMultimodalFeatures, tsUserValueSeries, tsResampleFfill, llmTtrStats,
    llmSourceKlDrift, llmWinnowFingerprint, llmWinnowDedupPairs)
}

/** Output row of the multimodal feature extraction (real PNG decode). */
final case class MultimodalFeatures(
    doc_id: Long, width: Long, height: Long, n_pixels: Long,
    gray_sum: Long, resized_w: Long, resized_h: Long,
    n_frames: Long, frame_samples: Seq[Int])
