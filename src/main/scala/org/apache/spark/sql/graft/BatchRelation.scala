package org.apache.spark.sql.graft

import scala.annotation.tailrec

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.util.Memo

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
    // the executed plan reuses its output row objects; the internal map
    // skips the closure cleaner, which re-parses the capturing class
    val rows = ds.queryExecution.toRdd.mapPartitionsInternal(_.map(_.copy()))
      .persist(StorageLevel.MEMORY_AND_DISK)
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

  /** `df.foreachPartition(f)` as one Spark job in one SQL execution named
    * `foreachPartition`, as the `Dataset` method runs it, but without its
    * closures: Spark's closure cleaner re-reads and parses the class that
    * declares each lambda it cleans (`Dataset`, `RDD` twice, `SparkContext`
    * on that path), a fixed cost per call. The task here is a named class,
    * which the cleaner passes over, and `f` is serialized as it is.
    */
  def foreachPartition(df: DataFrame)(f: Iterator[Row] => Unit): Unit = {
    val ds = castToImpl(df)
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.toRdd
      ds.sparkSession.sparkContext.runJob(rdd, new PartitionTask(ds.schema, f),
        rdd.partitions.indices, (_: Int, _: Unit) => ())
    }
  }

  /** Runs `f` over one partition's rows as external `Row`s. */
  private final class PartitionTask(schema: StructType, f: Iterator[Row] => Unit)
      extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {
    def apply(context: TaskContext, rows: Iterator[InternalRow]): Unit = {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      f(rows.map(r => toRow(r).asInstanceOf[Row]))
    }
  }

  /** `build(df)`, with its analysis done once per query: the DataFrames
    * `build` returns are analyzed on the first batch and kept as
    * templates; every later batch of the same shape gets the templates
    * with its own `LogicalRDD` leaves bound in, and only the optimizer and
    * planner run. `build` stays the one definition of the plans.
    *
    * A template is keyed by `df`'s session and its conf settings (analysis
    * reads the time zone, ANSI mode and more), `name`, `params`, the shape of
    * `df`'s analyzed plan (its canonical form, so expression ids do not
    * matter, plus the output and leaf schemas) and, per leaf, whether its
    * RDD has one partition, the only property of the data `build` may
    * read (as [[coalesceIfOnePartition]] does). So `params` must name
    * everything else `build` depends on. The templates hold no RDD: each
    * input leaf is replaced by a placeholder. A `df` with a leaf that is
    * not a `LogicalRDD` (a file scan, a local relation) gets `build(df)`,
    * as does a first batch. `foreachBatch` hands over a `LogicalRDD`
    * batch, and [[computeOnce]] returns one.
    */
  def planOnce(df: DataFrame, name: String, params: Any*)
              (build: DataFrame => Seq[DataFrame]): Seq[DataFrame] = {
    val ds = castToImpl(df)
    val input = ds.queryExecution.analyzed
    val leaves = input.collectLeaves()
    if (!leaves.forall(_.isInstanceOf[LogicalRDD])) build(df)
    else {
      val rdds = leaves.map(_.asInstanceOf[LogicalRDD])
      val key = Seq(params.map(render).mkString("(", ", ", ")"),
        ds.sparkSession.sessionState.conf.getAllConfs.toSeq.sorted.mkString(", "),
        input.schema.json, rdds.map(_.schema.json).mkString("[", ",", "]"),
        rdds.map(_.rdd.getNumPartitions == 1).mkString("one partition: ", ",", ""),
        input.canonicalized.treeString(verbose = true, maxFields = Int.MaxValue)).mkString("\n")
      // the memo name carries a digest of the key, which runs to kilobytes
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(key.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      var fresh = Option.empty[Seq[DataFrame]]
      val templates = Memo.session(ds.sparkSession, "", s"plan/$name/$digest") {
        val out = build(df)
        fresh = Some(out)
        out.map(o => template(castToImpl(o).queryExecution.analyzed, rdds))
      }
      fresh.getOrElse(templates.map(t => Dataset.ofRows(ds.sparkSession, bind(t, rdds))))
    }
  }

  /** Stands for input leaf `slot` of a template. */
  private final case class BatchLeaf(slot: Int, output: Seq[Attribute]) extends LeafNode

  /** `plan` with each input leaf replaced by its placeholder. */
  private def template(plan: LogicalPlan, inputs: Seq[LogicalRDD]): LogicalPlan = {
    val t = plan.transformUp {
      case r: LogicalRDD if inputs.exists(_.rdd eq r.rdd) =>
        BatchLeaf(inputs.indexWhere(_.rdd eq r.rdd), r.output)
    }
    require(t.collectFirst { case r: LogicalRDD => r }.isEmpty,
      s"a plan template may read only its input's RDDs:\n$plan")
    t
  }

  /** Template `t` over this batch's leaves, the attributes of the template
    * rewired to a leaf's own where they differ.
    */
  private def bind(t: LogicalPlan, leaves: Seq[LogicalRDD]): LogicalPlan =
    t.transformUpWithNewOutput {
      case BatchLeaf(slot, output) =>
        val leaf = leaves(slot)
        if (leaf.output == output) (leaf, Nil)
        else {
          val fresh = leaf.newInstance()
          (fresh, output.zip(fresh.output))
        }
    }

  private def render(p: Any): String = p match {
    case c: Column => c.node.normalized.toString
    case t: DataType => t.json
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case o => o.toString
  }
}
