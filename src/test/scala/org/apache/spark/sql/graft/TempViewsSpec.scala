package org.apache.spark.sql.graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

import graft.{SparkSpec, Tables}
import graft.util.TempDirs

/** `Tables.registerNamed` registers a corpus view once per session and
  * corpus: a repeat call leaves the view as it is, a switch of corpus
  * directory re-registers it.
  */
class TempViewsSpec extends SparkSpec {

  private def held(s: SparkSession, name: String) =
    castToImpl(s).sessionState.catalog.getRawTempView(name).get

  test("a repeat registration keeps the view; a corpus switch re-registers it") {
    val s = spark.newSession()
    // a second corpus: the first 7 orders
    val otherDir = Files.createTempDirectory("graft_corpus")
    val other = otherDir.toString
    try {
      s.read.parquet(s"$sf/orders.parquet").limit(7).write.parquet(s"$other/orders.parquet")
      val text = "SELECT count(*) FROM orders"
      def scanOf(d: String) = castToImpl(Tables.read(s, d, "orders")).logicalPlan

      Tables.registerNamed(s, sf, text)
      val first = held(s, "orders")
      assert(first.plan.exists(_ eq scanOf(sf)))
      Tables.registerNamed(s, sf, text)
      assert(held(s, "orders") eq first, "a repeat call replaced the view")

      Tables.registerNamed(s, other, text)
      assert(held(s, "orders").plan.exists(_ eq scanOf(other)),
        "the view still reads the first corpus")
      val sfRows = s.read.parquet(s"$sf/orders.parquet").count()
      assert(sfRows != 7)
      assert(s.sql(text).head().getLong(0) == 7)

      Tables.registerNamed(s, sf, text)
      assert(held(s, "orders").plan.exists(_ eq scanOf(sf)))
      assert(s.sql(text).head().getLong(0) == sfRows)
    } finally TempDirs.deleteRecursively(otherDir)
  }

  test("a view replaced by other code is registered again") {
    val s = spark.newSession()
    Tables.registerNamed(s, sf, "SELECT * FROM region")
    s.range(3).createOrReplaceTempView("region")
    Tables.registerNamed(s, sf, "SELECT * FROM region")
    assert(s.table("region").columns.contains("r_regionkey"))
  }
}
