package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order layout: bit-interleave correctness + the actual pruning
  * claim — a 2-D box predicate over the z-ordered layout must skip more
  * row groups (scan `numOutputRows`) than the same predicate over a
  * 1-D-sorted control layout of the same data.
  */
class ZorderSpec extends SparkSpec {

  private def z(x: Long, y: Long, bits: Int): Long =
    spark.range(1).select(
      SourceOps.zInterleaveK(Seq(lit(x), lit(y)), bits).as("z"))
      .head().getLong(0)

  test("zInterleaveK puts x bits at even, y bits at odd positions") {
    assert(z(3, 0, 2) == 5L)   // 11  -> 0101
    assert(z(0, 3, 2) == 10L)  // 11  -> 1010
    assert(z(5, 6, 3) == 57L)  // 101/110 -> 111001
    assert(z(0, 0, 12) == 0L)
    // full 12-bit range stays within 24 bits
    assert(z(4095, 4095, 12) == (1L << 24) - 1)
  }

  /** Rows the executed scan emitted (post row-group skipping, pre
    * post-scan filter).
    */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    finalPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metrics("numOutputRows").value).sum
  }

  test("z-ordered layout prunes a 2-D box at least as well as a 1-D sort, and strictly vs full scan") {
    val li = graft.Tables.read(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    val total = li.count()
    // box selective in BOTH dims (~20% each) so two-dimensional
    // clustering has something to win
    def box(df: DataFrame): DataFrame =
      df.filter(col("l_partkey").between(10, 50) &&
        col("l_suppkey").between(2, 3))
    val matching = box(li).count()

    val zDir = graft.util.TempDirs.create("zspec_z").toString
    SourceOps.zorderWrite(li, "l_partkey", "l_suppkey", zDir)
    val zRows = scanRows(box(spark.read.parquet(zDir)))

    val cDir = graft.util.TempDirs.create("zspec_c").toString
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(cDir)
    val cRows = scanRows(box(spark.read.parquet(cDir)))

    // row-group stats must actually skip: the z scan reads a strict
    // subset of the data, no worse than the 1-D control, and both
    // layouts preserve the exact matching rows. At this test scale each
    // file is ONE row group, so pruning resolves at file granularity and
    // repartitionByRange's boundary SAMPLING jitters both layouts' file
    // composition by a handful of rows run-to-run (observed ±0.6%) — the
    // z-vs-control comparison therefore carries a 1% granularity
    // allowance, while the skipped-something and row-preservation claims
    // stay strict.
    assert(zRows >= matching && cRows >= matching)
    assert(zRows < total, s"z layout skipped nothing ($zRows of $total)")
    assert(zRows <= cRows + total / 100,
      s"z layout ($zRows rows) worse than 1-D sort ($cRows) beyond file-granularity noise")
    assert(box(spark.read.parquet(zDir)).count() == matching)
  }

  /** Driver-side reference interleave: bit i of dim j at position i·k+j
    * (disjoint bit positions, so sum == bitwise OR).
    */
  private def zRef(cells: Seq[Long], bits: Int): Long = {
    val k = cells.length
    (0 until bits).flatMap(i => cells.zipWithIndex.map { case (v, j) =>
      ((v >> i) & 1L) << (i * k + j)
    }).sum
  }

  test("zInterleaveK places dim j's bit i at position i*k + j") {
    def zk(cells: Seq[Long], bits: Int): Long =
      spark.range(1).select(
        SourceOps.zInterleaveK(cells.map(lit(_)), bits).as("z"))
        .head().getLong(0)
    assert(zk(Seq(1L, 0L, 0L), 1) == 1L)
    assert(zk(Seq(0L, 1L, 0L), 1) == 2L)
    assert(zk(Seq(0L, 0L, 1L), 1) == 4L)
    assert(zk(Seq(3L, 0L, 0L), 2) == 9L)   // bits 0 and 3
    assert(zk(Seq(0L, 3L, 0L), 2) == 18L)  // bits 1 and 4
    assert(zk(Seq(0L, 0L, 3L), 2) == 36L)  // bits 2 and 5
    assert(zk(Seq(3L, 3L, 3L), 2) == 63L)
    // agrees with the driver-side reference on arbitrary cells
    assert(zk(Seq(5L, 9L, 14L), 4) == zRef(Seq(5L, 9L, 14L), 4))
  }

  test("zIntervals covers a 3-D box exactly (unbounded), superset under a budget") {
    val bits = 4
    val box = Seq((3L, 9L), (2L, 5L), (0L, 11L))
    def inBox(c: Seq[Long]) = c.zip(box).forall { case (v, (lo, hi)) =>
      v >= lo && v <= hi }
    val cells = for {
      x <- 0L until 16L; y <- 0L until 16L; w <- 0L until 16L
      if inBox(Seq(x, y, w))
    } yield zRef(Seq(x, y, w), bits)
    val want = cells.toSet
    val exact = SourceOps.zIntervals(box, bits, maxIntervals = 10000)
    // sorted, disjoint, non-adjacent (maximally merged)
    exact.sliding(2).foreach {
      case Seq((_, ahi), (blo, _)) => assert(blo > ahi + 1)
      case _ =>
    }
    val covered = exact.flatMap { case (lo, hi) => lo to hi }.toSet
    assert(covered == want,
      s"exact decomposition must cover the box cells precisely " +
        s"(covered ${covered.size}, box ${want.size})")
    // gap-bridged form: few intervals, still a superset
    val budget = SourceOps.zIntervals(box, bits, maxIntervals = 4)
    assert(budget.lengthCompare(4) <= 0)
    val bCovered = budget.flatMap { case (lo, hi) => lo to hi }.toSet
    assert(want.subsetOf(bCovered), "budgeted intervals must stay a superset")
  }

  test("3-D z-range pruning beats both 1-D sorted controls, and stays exact") {
    val li = graft.Tables.read(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"))
    val total = li.count()
    val bits = 7
    val natBox = Seq((10L, 50L), (2L, 3L), (1L, 2L))
    def box(df: DataFrame): DataFrame =
      df.filter(col("l_partkey").between(10, 50) &&
        col("l_suppkey").between(2, 3) && col("l_linenumber").between(1, 2))
    val matching = box(li).count()

    val zDir = graft.util.TempDirs.create("zspec_z3").toString
    val ranges = SourceOps.zorderWriteK(li,
      Seq("l_partkey", "l_suppkey", "l_linenumber"), zDir, bits, keepZ = true)
    val zPred = SourceOps.zBoxPredicate(natBox, ranges, bits)
    // the z scan is measured on the z-interval predicate ALONE — no help
    // from natural-column footer correlation
    val zRows = scanRows(spark.read.parquet(zDir).filter(zPred))

    val controlRows = Seq("l_partkey", "l_suppkey").map { c =>
      val dir = graft.util.TempDirs.create(s"zspec_c_$c").toString
      li.repartitionByRange(16, col(c)).sortWithinPartitions(c)
        .write.mode("overwrite").parquet(dir)
      c -> scanRows(box(spark.read.parquet(dir)))
    }
    assert(zRows < total, s"z-range predicate skipped nothing ($zRows of $total)")
    controlRows.foreach { case (c, rows) =>
      assert(zRows <= rows,
        s"3-D z-range pruning ($zRows rows) worse than 1-D $c sort ($rows)")
    }
    // exactness: z intervals (superset) + natural residuals == the box
    assert(box(spark.read.parquet(zDir).filter(zPred)).count() == matching)
  }

  test("zorderWriteK fails fast on a dimension span that would overflow the bucket math") {
    import spark.implicits._
    // bucketCol computes (v − lo)·2^bits in Long — a span ≥ 2^(63−bits)
    // overflows and would silently scramble the z layout; the writer must
    // reject it instead (the k·bits ≤ 62 guard covers only the interleave)
    val bits = 12
    val wide = Seq(0L, 1L << (63 - bits)).toDF("x")
      .withColumn("y", col("x"))
    val dir = graft.util.TempDirs.create("zspec_overflow").toString
    val e = intercept[IllegalArgumentException] {
      SourceOps.zorderWriteK(wide, Seq("x", "y"), dir, bits)
    }
    assert(e.getMessage.contains("span"), s"unexpected message: ${e.getMessage}")
    // a span just inside the bound still writes fine
    val ok = Seq(0L, (1L << (63 - bits)) - 1L).toDF("x").withColumn("y", col("x"))
    val ranges = SourceOps.zorderWriteK(ok, Seq("x", "y"),
      graft.util.TempDirs.create("zspec_okwide").toString, bits)
    assert(ranges == Seq((0L, (1L << (63 - bits)) - 1L),
      (0L, (1L << (63 - bits)) - 1L)))
  }

  test("zBoxPredicate on a box outside the data range is FALSE, not a crash") {
    val ranges = Seq((0L, 50L), (0L, 50L))
    // dim 0 entirely above the data range
    val p = SourceOps.zBoxPredicate(Seq((60L, 70L), (10L, 20L)), ranges, 7)
    val rows = spark.range(5).selectExpr("id as _z").filter(p).count()
    assert(rows == 0, "disjoint box must match nothing")
    // inverted / empty boxes likewise
    assert(spark.range(5).selectExpr("id as _z")
      .filter(SourceOps.zBoxPredicate(Seq((20L, 10L), (0L, 5L)), ranges, 7))
      .count() == 0)
  }

  test("registry op matches the direct aggregate over the original table") {
    val got = SourceOps.opZorderLayout.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = graft.Tables.read(spark, sf, "lineitem")
      .filter(col("l_partkey").between(10, 50) && col("l_suppkey").between(2, 8))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }
}
