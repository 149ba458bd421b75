package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.sum

import graft.SparkSpec
import graft.streaming.StreamingOps.StateChain
import graft.util.TempDirs

/** A restart from checkpoint replays the batch whose commit it never
  * recorded. The chain must then leave the same head as a run without the
  * crash, whatever the crashed attempt left on disk: its scratch
  * directory and a partly published `v<id>`.
  */
class StateChainSpec extends SparkSpec {

  // (key, partition, count) rows; the merge adds counts per key, so a
  // batch applied twice, or a lost prior row, changes the head
  private val sumMerge: (Option[DataFrame], DataFrame) => DataFrame =
    (prev, batch) => prev.fold(batch)(_.unionByName(batch))
      .groupBy("k", "p").agg(sum("n").as("n"))

  // batch 0 touches partitions 0 and 1, batch 1 only 1, batch 2 1 and 2
  private def batches: Seq[DataFrame] = {
    import spark.implicits._
    Seq(Seq((1L, 0L, 1L), (2L, 1L, 1L)),
      Seq((2L, 1L, 2L), (3L, 1L, 1L)),
      Seq((3L, 1L, 5L), (4L, 2L, 1L))).map(_.toDF("k", "p", "n"))
  }

  private val expected = Set(Row(1L, 0L, 1L), Row(2L, 1L, 3L), Row(3L, 1L, 6L), Row(4L, 2L, 1L))

  private def children(dir: Path): Set[String] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala.map(_.getFileName.toString).toSet
    finally stream.close()
  }

  /** Applies batches 0..2; with `crash`, then plants what a crash in batch
    * 2's publish leaves and replays batch 2. Returns the state dir and head.
    */
  private def run(partition: Option[String], crash: Boolean): (Path, Set[Row]) = {
    import spark.implicits._
    val base = TempDirs.create("state_chain_spec")
    val chain = new StateChain(base, partition, sumMerge)
    batches.zipWithIndex.foreach { case (b, id) => chain.applyBatch(b, id.toLong) }
    val state = base.resolve("state")
    if (crash) {
      val scratch = state.resolve(".batch_b2").toString
      val junk = Seq((9L, 9L, 9L)).toDF("k", "p", "n")
      partition match {
        case Some(p) => junk.withColumn(s"${p}_p", junk(p)).write.partitionBy(s"${p}_p").parquet(scratch)
        case None => junk.write.parquet(scratch)
      }
      // v2 of partition 1 holds only key 3's row: key 2's passed-through
      // row was never written
      val v2 = partition.fold(state)(p => state.resolve(s"$p=1")).resolve("v2")
      TempDirs.deleteRecursively(v2)
      Seq((3L, 1L, 6L)).toDF("k", "p", "n").write.parquet(v2.toString)
      chain.applyBatch(batches(2), 2L)
    }
    (state, chain.head(spark).select("k", "p", "n").collect().toSet)
  }

  test("unpartitioned chain: replaying a crashed batch leaves the clean head") {
    val (_, clean) = run(None, crash = false)
    assert(clean == expected)
    val (state, replayed) = run(None, crash = true)
    assert(replayed == clean)
    assert(children(state) == Set("v0", "v1", "v2"))
  }

  test("partitioned chain: replay rewrites touched partitions; untouched pass through") {
    val (_, clean) = run(Some("p"), crash = false)
    assert(clean == expected)
    val (state, replayed) = run(Some("p"), crash = true)
    assert(replayed == clean)
    assert(children(state) == Set("p=0", "p=1", "p=2"))
    // partition 0 was touched by batch 0 only: later batches reference v0
    assert(children(state.resolve("p=0")) == Set("v0"))
    assert(children(state.resolve("p=1")) == Set("v0", "v1", "v2"))
    assert(children(state.resolve("p=2")) == Set("v2"))
  }
}
