package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-in for the registry's corpus: the ten tables the
  * `SparkEntry` cells read (TPC-H-like star schema, `events`,
  * `documents`, `embeddings`), with the schemas and value ranges of the
  * repository's fixture corpus. Row counts scale with `sf` like it
  * (lineitem ~ 6 M x sf); documents and embeddings stay at 500 rows.
  * Every column is a pure function of (seed, row id), so a seed always
  * gives the same tables.
  */
object CorpusGen {
  def generate(spark: SparkSession, seed: Long, sf: Double, dir: Path): Unit = {
    Files.createDirectories(dir)
    val nCust = math.max(10L, (150000 * sf).toLong)
    val nSupp = math.max(5L, (10000 * sf).toLong)
    val nPart = math.max(20L, (200000 * sf).toLong)
    val nOrd = math.max(50L, (1500000 * sf).toLong)
    val nLine = 4 * nOrd
    val nEv = math.max(100L, (1000000 * sf).toLong)
    val nUsers = math.max(5L, nCust / 10)

    /** Uniform integer in [0, n) drawn from (seed, id, salt). */
    def ri(salt: Int, n: Long): Column = pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(n))
    /** Uniform double in [0, 1). */
    def rd(salt: Int): Column = ri(salt, 1000003L).cast("double") / 1000003.0
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (ri(salt, xs.size.toLong) + 1).cast("int"))
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), ri(salt, days.toLong).cast("int")).cast("timestamp_ntz")

    def write(name: String, df: DataFrame): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"))
      graft.util.TempDirs.deleteRecursively(tmp)
    }
    def range(n: Long): DataFrame = spark.range(n).toDF()

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    write("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"), ri(1, 25).cast("int").as("c_nationkey"),
      round(rd(2) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    write("supplier", range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"), ri(4, 25).cast("int").as("s_nationkey"),
      round(rd(5) * 10999.99 - 999.99, 2).as("s_acctbal")))
    write("part", range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("small", "red", "blue", "green", "large", "shiny")),
        pick(7, Seq("ring", "widget", "bolt", "gear", "panel"))).as("p_name"),
      concat(lit("Brand#"), ri(8, 25) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")).as("p_type"),
      (ri(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 2000) * 0.1, 2).as("p_retailprice")))
    write("orders", range(nOrd).select(col("id").as("o_orderkey"), ri(11, nCust).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"), round(rd(13) * 500000 + 800, 2).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    write("lineitem", range(nLine).select(ri(16, nOrd).as("l_orderkey"), ri(17, nPart).as("l_partkey"),
      ri(18, nSupp).as("l_suppkey"), (ri(19, 7) + 1).cast("int").as("l_linenumber"),
      (ri(20, 50) + 1).cast("double").as("l_quantity"), round(rd(21) * 104000 + 900, 2).as("l_extendedprice"),
      (ri(22, 11) / 100.0).as("l_discount"), (ri(23, 9) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"), pick(25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2498).as("l_shipdate")))
    // events: time-ordered over 30 days, one per slot plus jitter
    val slotUs = 30L * 86400L * 1000000L / nEv
    write("events", range(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * slotUs + ri(27, slotUs)).cast("timestamp_ntz").as("ts"),
      ri(28, nUsers).as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - rd(30) * 0.99) * 50 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", ri(31, 100)).as("props")))
    val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
      "hash", "merge", "batch", "window", "spark", "order", "data", "column", "join", "small", "line",
      "customer", "query", "filter", "sort", "index", "shuffle", "stream", "sink", "source")
    val tok = (i: Column) => element_at(array(vocab.map(lit): _*),
      (pmod(xxhash64(lit(seed), col("id"), i, lit(32)), lit(vocab.size.toLong)) + 1).cast("int"))
    val text = concat_ws(" ", transform(sequence(lit(1), (ri(33, 90) + 10).cast("int")), tok))
    write("documents", range(500).select(col("id").as("doc_id"), text.as("text"),
      pick(34, Seq("en", "en", "en", "zh", "es", "de", "fr")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source")).withColumn("n_chars", length(col("text")).cast("long")))
    val comp = (i: Column) => ((pmod(xxhash64(lit(seed), col("id"), i, lit(35)), lit(2000001L)) - 1000000)
      .cast("double") / 4000000.0).cast("float")
    write("embeddings", range(500).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), comp).as("embedding"), ri(36, 10).cast("int").as("label")))
  }
}
