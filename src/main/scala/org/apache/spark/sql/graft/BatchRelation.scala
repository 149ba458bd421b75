package org.apache.spark.sql.graft

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Plan shapes for one micro-batch, built in the `org.apache.spark.sql`
  * namespace because `Dataset.ofRows` and `LogicalRDD.fromDataset` are
  * `private[sql]`.
  */
object BatchRelation {

  /** `df` computed at most once: its rows go into a persisted RDD, and the
    * result reads that RDD as a `LogicalRDD`, so every DataFrame derived
    * from it shares one evaluation of `df`'s plan. Nothing runs until the
    * first action. There is no owner to call `unpersist`: Spark's
    * `ContextCleaner` drops the blocks once the RDD is unreachable, and a
    * lost block is recomputed from lineage. `df` must be a batch DataFrame
    * (`foreachBatch` hands one over).
    */
  def computeOnce(df: DataFrame): DataFrame = {
    val ds = castToImpl(df)
    // the executed plan reuses its output row objects
    val rows = ds.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }

  /** `df.coalesce(1)` if `df` is a chain of projections and filters over
    * an RDD of exactly one partition, else `df`. Such a plan already runs
    * as one task, but a `LogicalRDD` reports `UnknownPartitioning`; the
    * coalesce makes it a `SinglePartition`, which satisfies any clustered
    * distribution, so the planner adds no `Exchange` above it.
    */
  def coalesceIfOnePartition(df: DataFrame): DataFrame = {
    @tailrec def onePartition(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => onePartition(child)
      case Filter(_, child) => onePartition(child)
      case r: LogicalRDD => r.rdd.getNumPartitions == 1
      case _ => false
    }
    if (onePartition(df.queryExecution.analyzed)) df.coalesce(1) else df
  }
}
