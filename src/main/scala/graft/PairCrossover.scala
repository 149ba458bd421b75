package graft

import org.apache.spark.sql.functions._

/** Dev tool for the optimization rounds: measure the crossover between
  * [[graft.operators.LlmOps.jaccardPairs]]' two physical paths — the
  * broadcast bitmask popcount scan (≤64-token vocab) and the inverted-index
  * posting join — on a SYNTHETIC dense-vocab corpus whose
  * row count is a parameter, so `bitmaskRowBudget` is set from data
  * instead of folklore. Never touched by Verify/Bench; results land in
  * OPTIMIZATION_r<n>.md.
  *
  * Usage: runMain graft.PairCrossover <nDocs> [nDocs...]
  *
  * Corpus shape: 64-token vocabulary, each doc holds a contiguous token
  * window `[start, start+sz)` with `start = id % 33` and
  * `sz = 8 + (id·2654435761 mod 1e9+7) % 24` — deterministic, size-diverse
  * (the pruned scan's favourable case is real size spread; all-equal sizes
  * would flatter neither path), overlap-diverse (windows share tokens, so
  * the posting join has real work). Timing action: noop sink (guide §1.4).
  */
object PairCrossover {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PairCrossover <nDocs> [nDocs...]")
    val spark = Sessions.local()
    args.map(_.trim).filter(_.nonEmpty).foreach { nStr =>
      val n = nStr.toLong
      val toks = spark.range(n)
        .select(col("id").as("doc_id"),
          explode(expr(
            "transform(sequence(0, cast(8 + (id * 2654435761) % 1000000007 % 24 as int) - 1), " +
              "j -> concat('w', cast((id % 33) + j as int)))")).as("tok"))
        .cache()
      val nPostings = toks.count() // materialize once, outside both timings
      def time(label: String, budget: Long, skip: Boolean): Unit =
        if (skip) println(f"CROSSOVER n=$n%-8d $label%-9s SKIPPED (posting join would be Σdf² ≈ ${"%.1e".format(math.pow(nPostings.toDouble / 64, 2) * 64)} rows)")
        else {
          spark.sparkContext.setJobDescription(s"crossover $label n=$n")
          val t0 = System.nanoTime()
          graft.operators.LlmOps.jaccardPairs(spark, toks, bitmaskRowBudget = budget)
            .write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          println(f"CROSSOVER n=$n%-8d $label%-9s $t%8.2f s  (postings=$nPostings)")
        }
      time("bitmask", Long.MaxValue, skip = false)
      // the posting self-join is Σ_tok df(tok)² ≈ 64·(n·avgSz/64)² rows —
      // past ~100k docs that is >1e10 join rows and hours of wall; the
      // quadratic constant is measurable at small n and extrapolates
      time("inverted", 0L, skip = n > 100000L)
      toks.unpersist()
    }
    spark.stop()
  }
}
