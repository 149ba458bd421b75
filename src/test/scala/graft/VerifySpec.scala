package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify's failure manifest: a failed query is named, never swallowed. */
class VerifySpec extends SparkSpec {

  test("Verify.dump names a failed query in errors.json and still dumps the others") {
    val out = graft.util.TempDirs.create("verify_spec")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("boom \"q\"\tx")
    val good = graft.operators.Aggregations.aggHashGroupby
    Verify.dump(spark, sf, out.toString, Seq("q_boom" -> boom, good.name -> good.fn))
    assert(Files.readString(out.resolve("errors.json")) ==
      """{"q_boom": "boom \"q\"\tx"}""")
    assert(spark.read.parquet(out.resolve(good.name).toString).count() > 0)
    assert(!Files.exists(out.resolve("q_boom")))
  }

  test("Verify.dump writes an empty manifest when every query succeeds") {
    val out = graft.util.TempDirs.create("verify_spec_ok")
    val good = graft.operators.Aggregations.aggHashGroupby
    Verify.dump(spark, sf, out.toString, Seq(good.name -> good.fn))
    assert(Files.readString(out.resolve("errors.json")) == "{}")
  }
}
