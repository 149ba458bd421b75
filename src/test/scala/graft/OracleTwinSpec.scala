package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join

/** Guards the [[Q.sql]] rule: a cell whose DataFrame plan equals its
  * oracle's is written as `Q.sql`, so no DataFrame twin of an oracle text
  * can come back. "Equals" is what Catalyst says: the two optimized plans
  * `sameResult`, carry the same join hints, and output the same column
  * names and types.
  * Oracle texts Spark cannot parse or analyze (the DuckDB-only spellings:
  * `epoch_us`, `//`, ...) have no Spark plan to compare and are skipped.
  */
class OracleTwinSpec extends SparkSpec {

  private def shape(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq

  /** `sameResult` ignores join hints, but a hint changes the physical plan
    * (`join_broadcast`), so a hinted cell is no twin of its unhinted oracle.
    */
  private def hints(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }

  private def samePlan(a: DataFrame, b: DataFrame): Boolean =
    a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan) &&
      shape(a) == shape(b) && hints(a) == hints(b)

  /** The oracle text as a Spark DataFrame, or None when Spark rejects it.
    * `spark.sql` only parses and analyzes a query, so any error here is a
    * parse or analysis error (some, such as a malformed constant argument,
    * are not `AnalysisException`s).
    */
  private def sparkOracle(text: String): Option[DataFrame] =
    try Some(spark.sql(text)) catch { case NonFatal(_) => None }

  // a plan check that never matched would let the guard below pass on
  // any registry, so it must accept each Q.sql cell against its own text
  test("every Q.sql cell runs its oracle text, and the plan check accepts it") {
    val sqlCells = SparkEntry.allQueries.filter(_.fn.isInstanceOf[Q.Sql])
    assert(sqlCells.nonEmpty)
    sqlCells.foreach { q =>
      assert(q.fn == Q.Sql(q.oracle.get), q.name)
      val df = q.fn(spark, sf)
      assert(sparkOracle(q.oracle.get).exists(samePlan(df, _)), q.name)
    }
  }

  test("no cell keeps a DataFrame twin of a Spark-runnable oracle") {
    Tables.registerAll(spark, sf)
    val runnable = SparkEntry.allQueries.collect {
      case q @ Q(_, fn, Some(text)) if !fn.isInstanceOf[Q.Sql] =>
        sparkOracle(text).map(q -> _)
    }.flatten
    val twins = runnable.collect { case (q, o) if samePlan(q.fn(spark, sf), o) => q.name }
    assert(twins.isEmpty,
      s"${twins.size} of ${runnable.size} Spark-runnable oracle cells have the same plan " +
        s"as their DataFrame code; write them as Q.sql: ${twins.mkString(", ")}")
  }

  test("Tables.registerNamed registers the tables a text names, by whole word") {
    val s = spark.newSession()
    Tables.registerNamed(s, sf, "select * from ORDERS o join Customer c on o.x = c.y partition")
    val views = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    assert(views == Set("orders", "customer"), views)
  }
}
