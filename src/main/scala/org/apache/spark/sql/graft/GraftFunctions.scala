package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.{BigramCounts, CosineSimilarity, FirstBandMatch, LshBucket, SigMatchCount, Simhash60}

/** Registration shim living in the `org.apache.spark.sql` namespace so it
  * can reach `sessionState.functionRegistry` (which is `private[sql]`) —
  * the standard pattern for Spark extension libraries that must register
  * native expressions on an ALREADY-BUILT session (e.g. the driver-owned
  * Verify/Bench sessions, which we cannot configure with
  * `spark.sql.extensions`). New sessions should prefer
  * [[graft.GraftExtensions]]; both paths register [[natives]].
  */
object GraftFunctions {

  /** The graft SQL functions: name, implementing class, builder. Spark's
    * own bloom-filter aggregate + probe are implemented but NOT exposed in
    * the public function registry (they back the optimizer's runtime
    * row-group filtering); surfacing them here gives the dedup /
    * decontamination prescreens a mergeable O(KB) sketch without any UDF.
    */
  val natives: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    ("graft_lsh_bucket", classOf[LshBucket], e => LshBucket(e(0), e(1))),
    ("graft_simhash60", classOf[Simhash60], e => Simhash60(e(0))),
    ("graft_bigram_counts", classOf[BigramCounts], e => BigramCounts(e(0))),
    ("graft_sig_match", classOf[SigMatchCount], e => SigMatchCount(e(0), e(1))),
    ("graft_first_band_match", classOf[FirstBandMatch],
      e => FirstBandMatch(e(0), e(1), e(2))),
    ("graft_bloom_agg", classOf[BloomFilterAggregate],
      e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    ("graft_bloom_contains", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))

  /** Register the graft native expressions, skipping each name already
    * bound to its native class, so repeat calls change (and log) nothing.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    natives.foreach { case (name, cls, build) =>
      val id = FunctionIdentifier(name)
      if (!reg.lookupFunction(id).exists(_.getClassName == cls.getName))
        reg.registerFunction(id, new ExpressionInfo(cls.getName, name), build)
    }
  }
}
