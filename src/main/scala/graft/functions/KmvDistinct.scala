package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Shared zero/reduce/merge over the [[KmvBuf]] primitives — the two
  * concrete sketches differ ONLY in what they finish to, so the sentinel
  * rule and the merge law live in exactly one place.
  */
abstract class KmvAgg[OUT](k: Int) extends Aggregator[Long, KmvBuf, OUT] {
  final override def zero: KmvBuf = KmvBuf(Array.emptyLongArray)

  final override def reduce(b: KmvBuf, h: Long): KmvBuf =
    if (h < 0L) b else KmvBuf(KmvBuf.insert(b.hs, h, k))

  final override def merge(a: KmvBuf, b: KmvBuf): KmvBuf =
    KmvBuf(KmvBuf.mergeSorted(a.hs, b.hs, k))

  final override def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
}

/** KMV (k-minimum-values) distinct-count sketch — the PORTABLE
  * approximate-distinct: unlike HLL (whose register layout and hash are
  * engine-specific, so `agg_approx_distinct` can only be rows-checked),
  * KMV over an md5-derived 32-bit hash is exactly reproducible in ANY
  * engine, so the whole sketch is DuckDB-oracle-checkable bit-for-bit.
  * Estimator (Bar-Yossef et al., "Counting distinct elements in a data
  * stream", RANDOM 2002): with U(k) the kth smallest of n distinct
  * uniform hashes, E[U(k)] ≈ k/(n+1), so n̂ = (k−1)/U(k) is (nearly)
  * unbiased; σ/n ≈ 1/√(k−2). The estimate is computed in pure INTEGER
  * arithmetic — floor((k−1)·2³² / h(k)) — so no float ever crosses the
  * engine boundary.
  *
  * Scale shape: the buffer is a SORTED ≤k Array[Long] of distinct hashes
  * (O(k) primitive state, no boxing) and the Aggregator is map-side
  * combinable — partials merge associatively in any tree, the property
  * that makes KMV the sketch you ship to 1000 executors (vs the exact
  * distinct's full (group, key) shuffle). Groups with fewer than k
  * distinct hashes return the EXACT count (the sketch IS the full hash
  * set there). The hot path is allocation-free: most rows short-circuit
  * on `h ≥ buffer.last`; an accepted insert is one binarySearch plus two
  * arraycopies (the r15 Vector buffer re-sorted O(k log k) and linearly
  * scanned for membership on every accepted row), and merge is a single
  * two-pointer pass over the two sorted partials.
  *
  * NEGATIVE inputs are skipped as "no value": the one-scan multi-column
  * profile (`op_table_profile_sketch`) feeds every column's md5-derived
  * hash through `coalesce(h, -1)`, so a NULL cell neither trips the
  * primitive-Long input encoder nor counts as a distinct value (real
  * hashes are conv() of 8 hex digits — always in [0, 2³²), so the skip
  * is a no-op for the grouped distinct op). This keeps N sketches riding
  * ONE Aggregate with no Expand, where the exact profile's multi-distinct
  * pays rows × (n_cols+1) through the shuffle. The profile uses k=256
  * (σ ≈ 6%) — a CBO stats pass wants tighter cardinalities than the 13%
  * the grouped k=64 sketch accepts — and `KmvSketchProps` proves the
  * sentinel, exactness, and merge laws for all k.
  */
class KmvSketch(k: Int) extends KmvAgg[Long](k) {
  override def finish(b: KmvBuf): Long = KmvBuf.estimate(b.hs, k)
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** Same sketch, finishing to the sorted minima array itself instead of
  * the estimate — the form a SKETCH-PARTIAL materialized view persists:
  * stored minima merge associatively (`KmvBuf.mergeSorted` ≡ the k
  * smallest of the union, losslessly), so an incremental MV refresh can
  * combine stored partials with delta partials and the result is
  * IDENTICAL to a full recompute. The estimate is then one integer
  * expression over the stored array, computable by any engine.
  */
class KmvMinima(k: Int) extends KmvAgg[Array[Long]](k) {
  override def finish(b: KmvBuf): Array[Long] = b.hs
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** Sorted ≤k distinct minima. Array identity is never compared — the
  * Aggregator contract only reduces/merges/finishes buffers.
  */
case class KmvBuf(hs: Array[Long])

object KmvBuf {

  /** Insert `h` into sorted distinct `v` keeping at most the k smallest:
    * one binary search, at most one (≤k)-element allocation. private[graft]:
    * the streaming distinct-users op maintains this same buffer as
    * `mapGroupsWithState` state.
    */
  private[graft] def insert(v: Array[Long], h: Long, k: Int): Array[Long] = {
    val n = v.length
    if (n == k && h >= v(n - 1)) v // common case: not among the k smallest
    else {
      val idx = java.util.Arrays.binarySearch(v, h)
      if (idx >= 0) v // distinct semantics: duplicates collapse
      else {
        val ins = -(idx + 1)
        val outLen = math.min(n + 1, k)
        val out = new Array[Long](outLen)
        System.arraycopy(v, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(v, ins, out, ins + 1, outLen - ins - 1)
        out
      }
    }
  }

  /** Two-pointer distinct merge of two sorted arrays, truncated to the k
    * smallest — exactly the k minima of the UNION, which is what makes
    * KMV partials lossless under any merge tree.
    */
  private[functions] def mergeSorted(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    if (b.isEmpty) return a
    if (a.isEmpty) return b
    val out = new Array[Long](math.min(a.length + b.length, k))
    var i = 0
    var j = 0
    var m = 0
    while (m < out.length && (i < a.length || j < b.length)) {
      out(m) =
        if (j >= b.length) { i += 1; a(i - 1) }
        else if (i >= a.length) { j += 1; b(j - 1) }
        else if (a(i) < b(j)) { i += 1; a(i - 1) }
        else if (a(i) > b(j)) { j += 1; b(j - 1) }
        else { i += 1; j += 1; a(i - 1) } // equal: consume both once
      m += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** floor((k−1)·2³² / h(k)) past saturation; exact count under k. */
  private[graft] def estimate(hs: Array[Long], k: Int): Long =
    if (hs.length < k) hs.length.toLong
    else ((k - 1).toLong << 32) / hs(hs.length - 1)
}

/** The SURVEY §2.4 `agg_kmv_distinct` instance (k=64, σ ≈ 13%). */
object KmvDistinct extends KmvSketch(64)
